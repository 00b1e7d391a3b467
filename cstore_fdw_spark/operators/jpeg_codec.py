"""Baseline JPEG (ITU-T T.81) pixel decode in pure stdlib.

Completes the codec family (PNG/GIF/BMP/WAV/Y4M, ``multimodal.py``) with
the one shape round 5 left library-bound: a REAL baseline-sequential
JPEG decoder — marker walk, DQT/DHT parsing, canonical Huffman
construction, DC-prediction + AC run/size entropy decode with byte
unstuffing and restart markers, zigzag placement, dequantization, 2-D
IDCT, level shift, and (for color) YCbCr→RGB with nearest upsampling.
It is the package's only JPEG decoder; no codec library is used.

Honest scope: baseline sequential DCT, 8-bit precision (SOF0/SOF1),
grayscale or interleaved color, plus progressive DCT (SOF2) with full
successive approximation and spectral selection (T.81 Annex G — all
four scan kinds, interleaved DC scans over subsampled MCU walks
including the entropy-coded-but-never-rendered padding blocks,
per-component AC scans on each component's own block grid) for
grayscale and color at any 1–2 sampling factor (4:4:4, 4:2:2, 4:2:0).
What still raises a clear scope error: sampling factors above 2,
arithmetic coding, hierarchical/lossless modes, and 16-bit quant
tables — the same boundaries early libjpeg shipped with.

Determinism note for the oracle: JPEG is lossy, so a closed-form SQL
oracle can only check values that round-trip EXACTLY. A constant 8×8
block has only a DC coefficient (DC = 8·(v−128) under the T.81 DCT),
which survives quantization at q=1 and inverts exactly (IDCT of a
DC-only block is constant). The registered query therefore encodes each
document's image as a grid of constant blocks — the full entropy-decode
machinery (per-block DC deltas across the whole grid, Huffman category
codes, EOB) runs for real, and every output pixel is bit-checkable in
SQL. The AC path and general IDCT are value-tested in pytest against an
in-test reference transform (``tests/test_analytics.py``).

Reference parity: the reference stores/scans opaque binary columns;
per-format decode is this engine's LLM-pipeline extension (SURVEY §2
multimodal family), same contract as cstore's ``data_types`` byte
round-trips (``sql/data_types.sql``).
"""

from __future__ import annotations

import math
import struct

from cstore_fdw_spark.operators import register
from cstore_fdw_spark.operators.multimodal import (
    _PIXEL_SCHEMA, _decode_rows, _media_payloads, _pixel_stats)

# --------------------------------------------------------------- tables


def _zigzag_order() -> list[int]:
    """Raster index of each coefficient in zigzag scan order, generated
    from the walk itself (T.81 figure 5) rather than a hardcoded table."""
    order = []
    x = y = 0
    for _ in range(64):
        order.append(y * 8 + x)
        if (x + y) % 2 == 0:  # heading up-right
            if x == 7:
                y += 1
            elif y == 0:
                x += 1
            else:
                x += 1
                y -= 1
        else:  # heading down-left
            if y == 7:
                x += 1
            elif x == 0:
                y += 1
            else:
                x -= 1
                y += 1
    return order


_ZZ = _zigzag_order()

#: IDCT basis: cos((2x+1)·u·π/16) and the u=0 normalizer 1/√2
_COS = [[math.cos((2 * x + 1) * u * math.pi / 16) for x in range(8)]
        for u in range(8)]
_CU = [1 / math.sqrt(2)] + [1.0] * 7


def _canonical_decode_table(counts: list[int],
                            values: list[int]) -> dict:
    """(code_length, code) -> symbol from a DHT's BITS/HUFFVAL lists —
    the canonical construction of T.81 Annex C."""
    tbl = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            tbl[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return tbl


def _canonical_encode_table(counts: list[int],
                            values: list[int]) -> dict:
    """symbol -> (code, code_length); same construction, encoder view."""
    return {sym: (code, ln)
            for (ln, code), sym in
            _canonical_decode_table(counts, values).items()}


# --------------------------------------------------------------- decode


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with 0xFF00
    byte unstuffing; restart markers are consumed explicitly by the MCU
    loop via :meth:`expect_restart`."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.cur = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = (self.data[self.pos] if self.pos < len(self.data)
                       else 0xD9)
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    raise ValueError(
                        f"marker 0xFF{nxt:02X} inside entropy segment")
            self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def expect_restart(self, idx: int) -> None:
        """Byte-align and consume the RSTn marker for interval ``idx``."""
        self.nbits = 0
        if (self.data[self.pos] != 0xFF
                or self.data[self.pos + 1] != 0xD0 + (idx & 7)):
            raise ValueError("missing/misnumbered restart marker")
        self.pos += 2


def _decode_symbol(br: _BitReader, tbl: dict) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | br.read_bit()
        sym = tbl.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: map an s-bit magnitude to its signed value."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _idct_block(coefs: list) -> list[int]:
    """2-D inverse DCT (T.81 A.3.3) of one dequantized 8×8 block in
    raster order; returns level-shifted, clamped pixels. Direct double-
    precision sum — deterministic everywhere, and the fixture images are
    tiny (the 100 TB path batches through Arrow ``mapInPandas``, where
    block count per task, not per-block cost, is the scale lever)."""
    out = []
    for y in range(8):
        cy = [_CU[v] * _COS[v][y] for v in range(8)]
        for x in range(8):
            s = 0.0
            for v in range(8):
                base = v * 8
                cvy = cy[v]
                if cvy == 0.0:
                    continue
                for u in range(8):
                    c = coefs[base + u]
                    if c:
                        s += _CU[u] * c * _COS[u][x] * cvy
            px = round(s / 4) + 128
            out.append(0 if px < 0 else 255 if px > 255 else px)
    return out


def jpeg_decode_baseline(payload: bytes):
    """Decode a baseline-sequential JPEG. Returns ``(width, height,
    channels, raster)`` with ``raster`` top-down, interleaved RGB for
    color / single-channel for grayscale — the shared contract of the
    PNG/GIF/BMP decoders."""
    data = payload
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qt: dict[int, list[int]] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    progressive = False
    prog_coefs = None  # per-block accumulated coefficients (SOF2)
    while True:
        while pos + 1 < len(data) and data[pos] == 0xFF \
                and data[pos + 1] == 0xFF:
            pos += 1  # fill bytes
        if pos + 1 >= len(data) or data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        m = data[pos + 1]
        pos += 2
        if m == 0xD9:
            if progressive and prog_coefs is not None:
                return _render_progressive(frame, prog_coefs, qt)
            raise ValueError("EOI before SOS — no image data")
        (seglen,) = struct.unpack(">H", data[pos:pos + 2])
        body = data[pos + 2:pos + seglen]
        if m == 0xDB:  # DQT (possibly several tables in one segment)
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                i += 1
                if pq != 0:
                    raise ValueError(
                        "16-bit quantization tables are out of scope "
                        "(baseline 8-bit only)")
                tbl = [0] * 64
                for k in range(64):
                    tbl[_ZZ[k]] = body[i + k]
                qt[tq] = tbl
                i += 64
        elif m == 0xC4:  # DHT (possibly several tables)
            i = 0
            while i < len(body):
                tc, th = body[i] >> 4, body[i] & 15
                i += 1
                counts = list(body[i:i + 16])
                i += 16
                n = sum(counts)
                vals = list(body[i:i + n])
                i += n
                tgt = huff_dc if tc == 0 else huff_ac
                tgt[th] = _canonical_decode_table(counts, vals)
        elif m == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body)
        elif m in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            prec = body[0]
            (h,) = struct.unpack(">H", body[1:3])
            (w,) = struct.unpack(">H", body[3:5])
            nc = body[5]
            if prec != 8:
                raise ValueError("only 8-bit sample precision supported")
            comps = []
            for c in range(nc):
                comps.append({"id": body[6 + 3 * c],
                              "h": body[7 + 3 * c] >> 4,
                              "v": body[7 + 3 * c] & 15,
                              "tq": body[8 + 3 * c]})
            frame = (w, h, comps)
        elif m == 0xC2:  # SOF2 progressive DCT
            prec = body[0]
            (h,) = struct.unpack(">H", body[1:3])
            (w,) = struct.unpack(">H", body[3:5])
            nc = body[5]
            if prec != 8:
                raise ValueError("only 8-bit sample precision supported")
            comps = []
            for c in range(nc):
                comps.append({"id": body[6 + 3 * c],
                              "h": body[7 + 3 * c] >> 4,
                              "v": body[7 + 3 * c] & 15,
                              "tq": body[8 + 3 * c]})
            if nc not in (1, 3):
                raise ValueError(
                    "non-1/3-component progressive JPEG is out of "
                    "scope")
            if any(not 1 <= c["h"] <= 2 or not 1 <= c["v"] <= 2
                   for c in comps):
                raise ValueError(
                    "sampling factors above 2 are out of scope")
            frame = (w, h, comps)
            progressive = True
        elif m in (0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "arithmetic/hierarchical/lossless JPEG is out of "
                "scope — this decoder covers baseline sequential "
                "(SOF0/SOF1) and progressive (SOF2) at any 1-2 "
                "sampling incl. 4:2:2/4:2:0")
        elif m == 0xDA:  # SOS — entropy-coded data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            scan = {}
            for c in range(ns):
                scan[body[1 + 2 * c]] = (body[2 + 2 * c] >> 4,
                                         body[2 + 2 * c] & 15)
            if not progressive:
                return _decode_scan(data, pos + seglen, frame, scan, qt,
                                    huff_dc, huff_ac, restart_interval)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            if prog_coefs is None:
                w, h, fcomps = frame
                prog_coefs = {}
                for c in fcomps:
                    bw, bh = _comp_grid(w, h, fcomps, c)
                    prog_coefs[c["id"]] = [[0] * 64
                                           for _ in range(bw * bh)]
            pos = _decode_scan_progressive(
                data, pos + seglen, frame, scan, prog_coefs,
                huff_dc, huff_ac, restart_interval,
                ss, se, ahal >> 4, ahal & 15)
            continue
        pos += seglen  # APPn / COM / anything else: skip


def _comp_grid(w, h, comps, c) -> tuple[int, int]:
    """Blocks-wide × blocks-high of one component's OWN grid (T.81
    A.1.1: component dims are the frame dims scaled by the sampling
    ratio, each rounded up; the block grid rounds those up to 8). For
    interleaved scans the MCU walk may pad beyond this grid — those
    padding blocks are entropy-coded but never rendered."""
    hmax = max(cc["h"] for cc in comps)
    vmax = max(cc["v"] for cc in comps)
    cw = -(-(w * c["h"]) // hmax)
    ch = -(-(h * c["v"]) // vmax)
    return -(-cw // 8), -(-ch // 8)


def _decode_scan_progressive(data, pos, frame, scan, coefs_by_comp,
                             huff_dc, huff_ac, ri, ss, se, ah, al):
    """One progressive scan (T.81 Annex G): accumulate quantized
    coefficients for the spectral band [ss, se] at successive-
    approximation precision (ah, al) into ``coefs_by_comp`` (comp id →
    per-block natural-order arrays, each component on its OWN block
    grid). Returns the stream position after the entropy data.

    Covers all four scan kinds: first DC (category-coded diffs of the
    point-transformed DC — INTERLEAVED across components when ns > 1,
    walking MCUs with h×v blocks per component per MCU and per-
    component predictors, including the MCU-padding dummy blocks that
    subsampled frames entropy-code but never render; non-interleaved
    over the single component's own grid when ns = 1), DC refinement
    (one raw bit per block per component), first AC (run/size with
    EOB-run coding), and AC refinement (±1<<al insertions threaded
    through correction bits for already-nonzero coefficients — the
    G.1.2.3 algorithm). AC scans are always non-interleaved per
    G.1.1.1.1."""
    w, h, comps = frame
    br = _BitReader(data, pos)
    p1 = 1 << al
    scan_comps = [c for c in comps if c["id"] in scan]
    if ss == 0:  # DC scan (se must be 0), interleaved iff ns > 1
        pred = {c["id"]: 0 for c in scan_comps}
        dummy = [0] * 64

        def dc_one(c, block):
            td, _ta = scan[c["id"]]
            if ah == 0:  # first DC scan
                s = _decode_symbol(br, huff_dc[td])
                diff = _extend(br.read_bits(s), s) if s else 0
                pred[c["id"]] += diff
                block[0] = pred[c["id"]] << al
            else:        # DC refinement: one raw bit
                if br.read_bit():
                    block[0] |= p1

        if len(scan_comps) > 1:  # interleaved MCU walk (T.81 G.1.1)
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            grids = {c["id"]: _comp_grid(w, h, comps, c)
                     for c in scan_comps}
            for mi in range(mcux * mcuy):
                if ri and mi and mi % ri == 0:
                    br.expect_restart(mi // ri - 1)
                    pred = {c["id"]: 0 for c in scan_comps}
                my, mx = divmod(mi, mcux)
                for c in scan_comps:
                    bw, bh = grids[c["id"]]
                    for by in range(c["v"]):
                        for bx in range(c["h"]):
                            row = my * c["v"] + by
                            col = mx * c["h"] + bx
                            # MCU-padding blocks beyond the component's
                            # grid: their bits are in the stream and
                            # they advance the DC predictor, but they
                            # are never rendered
                            block = (coefs_by_comp[c["id"]][row * bw
                                                            + col]
                                     if row < bh and col < bw else dummy)
                            dc_one(c, block)
        else:
            c = scan_comps[0]
            blocks = coefs_by_comp[c["id"]]
            for bi in range(len(blocks)):
                if ri and bi and bi % ri == 0:
                    br.expect_restart(bi // ri - 1)
                    pred = {c["id"]: 0}
                dc_one(c, blocks[bi])
        br.nbits = 0
        return br.pos
    if len(scan_comps) != 1:
        raise ValueError(
            "progressive AC scan must be non-interleaved (T.81 G.1.1.1.1)")
    c = scan_comps[0]
    (td, ta) = scan[c["id"]]
    coefs = coefs_by_comp[c["id"]]
    nblocks = len(coefs)
    eobrun = 0

    def refine_band(block, k_from):
        """Correction bits for every already-nonzero coefficient in
        [k_from, se] (the EOB-run / post-insertion sweep)."""
        for kk in range(k_from, se + 1):
            ci = _ZZ[kk]
            if block[ci]:
                if br.read_bit() and not (abs(block[ci]) & p1):
                    block[ci] += p1 if block[ci] > 0 else -p1

    for bi in range(nblocks):
        if ri and bi and bi % ri == 0:
            br.expect_restart(bi // ri - 1)
            eobrun = 0
        block = coefs[bi]
        if ah == 0:  # first AC scan for this band
            if eobrun:
                eobrun -= 1
                continue
            k = ss
            while k <= se:
                rs = _decode_symbol(br, huff_ac[ta])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1 + (br.read_bits(r) if r else 0)
                    break
                k += r
                if k > se:
                    raise ValueError("AC run past spectral band")
                block[_ZZ[k]] = _extend(br.read_bits(s), s) << al
                k += 1
        else:        # AC refinement scan (G.1.2.3)
            if eobrun:
                eobrun -= 1
                refine_band(block, ss)
                continue
            k = ss
            while k <= se:
                rs = _decode_symbol(br, huff_ac[ta])
                r, s = rs >> 4, rs & 15
                if s == 0:
                    if r < 15:  # EOB run begins here
                        eobrun = (1 << r) - 1 + \
                            (br.read_bits(r) if r else 0)
                        refine_band(block, k)
                        k = se + 1
                        break
                    newval = 0  # ZRL: sixteen zero-history skips
                elif s == 1:
                    newval = p1 if br.read_bit() else -p1
                else:
                    raise ValueError("AC refinement size must be 1")
                # advance past r ZERO-history coefficients, reading a
                # correction bit at every nonzero one passed
                while k <= se:
                    ci = _ZZ[k]
                    if block[ci]:
                        if br.read_bit() and not (abs(block[ci]) & p1):
                            block[ci] += p1 if block[ci] > 0 else -p1
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if newval and k <= se:
                    block[_ZZ[k]] = newval
                k += 1
    br.nbits = 0  # byte-align before the next marker
    return br.pos


def _render_progressive(frame, coefs_by_comp, qt):
    """Dequantize + IDCT the accumulated coefficient stores into
    per-component planes (each on its OWN block grid — subsampled
    chroma renders at its reduced resolution), crop/convert to the
    output raster — the final step after all progressive scans."""
    w, h, comps = frame
    for c in comps:
        bw, bh = _comp_grid(w, h, comps, c)
        stride = bw * 8
        q = qt[c["tq"]]
        plane = bytearray(stride * bh * 8)
        for bi, block in enumerate(coefs_by_comp[c["id"]]):
            px = _idct_block([block[i] * q[i] for i in range(64)])
            y0, x0 = (bi // bw) * 8, (bi % bw) * 8
            for yy in range(8):
                row = (y0 + yy) * stride + x0
                plane[row:row + 8] = bytes(px[yy * 8:yy * 8 + 8])
        c["plane"], c["stride"] = plane, stride
    return _planes_to_raster(w, h, comps)


def _planes_to_raster(w, h, comps):
    """Shared plane → raster conversion (baseline and progressive):
    grayscale passthrough for one component, nearest-neighbor chroma
    upsampling + BT.601 YCbCr → RGB for three — the deterministic
    choice this decoder DEFINES; bit parity with libjpeg's fancy
    upsampler is a non-goal."""
    if len(comps) == 1:
        c = comps[0]
        stride = c["stride"]
        raster = bytes(c["plane"][y * stride + x]
                       for y in range(h) for x in range(w))
        return w, h, 1, raster
    if len(comps) != 3:
        raise ValueError("only 1- or 3-component JPEG supported")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    out = bytearray(w * h * 3)
    planes = [(c["plane"], c["stride"], c["h"], c["v"]) for c in comps]
    for y in range(h):
        for x in range(w):
            vals = []
            for plane, stride, ch, cv in planes:
                sx = x * ch // hmax
                sy = y * cv // vmax
                vals.append(plane[sy * stride + sx])
            yy, cb, cr = vals
            r = round(yy + 1.402 * (cr - 128))
            g = round(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))
            b = round(yy + 1.772 * (cb - 128))
            p = (y * w + x) * 3
            out[p] = 0 if r < 0 else 255 if r > 255 else r
            out[p + 1] = 0 if g < 0 else 255 if g > 255 else g
            out[p + 2] = 0 if b < 0 else 255 if b > 255 else b
    return w, h, 3, bytes(out)


def _decode_scan(data, pos, frame, scan, qt, huff_dc, huff_ac, ri):
    w, h, comps = frame
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if not 1 <= hmax <= 2 or not 1 <= vmax <= 2:
        raise ValueError("sampling factors above 2 are out of scope")
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    for c in comps:
        c["stride"] = mcux * c["h"] * 8
        c["plane"] = bytearray(c["stride"] * mcuy * c["v"] * 8)
    br = _BitReader(data, pos)
    pred = {c["id"]: 0 for c in comps}
    for mi in range(mcux * mcuy):
        if ri and mi and mi % ri == 0:
            br.expect_restart(mi // ri - 1)
            pred = {c["id"]: 0 for c in comps}
        my, mx = divmod(mi, mcux)
        for c in comps:
            td, ta = scan[c["id"]]
            q = qt[c["tq"]]
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    coefs = [0] * 64
                    s = _decode_symbol(br, huff_dc[td])
                    diff = _extend(br.read_bits(s), s) if s else 0
                    pred[c["id"]] += diff
                    coefs[0] = pred[c["id"]] * q[0]
                    k = 1
                    while k < 64:
                        rs = _decode_symbol(br, huff_ac[ta])
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r == 15:  # ZRL: sixteen zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError("AC run past block end")
                        coefs[_ZZ[k]] = (_extend(br.read_bits(sz), sz)
                                         * q[_ZZ[k]])
                        k += 1
                    px = _idct_block(coefs)
                    y0 = (my * c["v"] + by) * 8
                    x0 = (mx * c["h"] + bx) * 8
                    stride = c["stride"]
                    for yy in range(8):
                        row = (y0 + yy) * stride + x0
                        c["plane"][row:row + 8] = bytes(px[yy * 8:
                                                           yy * 8 + 8])
    return _planes_to_raster(w, h, comps)


# --------------------------------------------------------------- encode

#: T.81 Annex K.3.1 DC luminance table (12 categories) — the fixture
#: writer uses it so DC category coding spans real multi-length codes
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
#: minimal AC table: the fixture emits only EOB (DHT carries the tables,
#: so a minimal table is a legal stream; the decoder is table-agnostic)
_AC_BITS = [1] + [0] * 15
_AC_VALS = [0x00]


def jpeg_encode_gray_blocks(width: int, height: int, block_val) -> bytes:
    """FIXTURE writer (the ``bmp_encode_rgb`` analog): a real baseline
    JPEG whose 8×8 blocks are each constant ``block_val(bx, by)`` — the
    one image family whose pixels survive JPEG exactly (DC-only blocks,
    quant=1), making a closed-form SQL oracle possible for a lossy
    codec. Emits genuine DC-category Huffman coding with per-block
    prediction deltas and byte stuffing."""
    if width % 8 or height % 8:
        raise ValueError("fixture encoder requires multiple-of-8 dims")
    segs = [b"\xff\xd8"]
    qt = bytes([0x00]) + bytes([1] * 64)
    segs.append(b"\xff\xdb" + struct.pack(">H", 2 + len(qt)) + qt)
    sof = (struct.pack(">BHHB", 8, height, width, 1)
           + bytes([1, 0x11, 0]))
    segs.append(b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof)
    dht_dc = bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS)
    dht_ac = bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS)
    segs.append(b"\xff\xc4" + struct.pack(">H", 2 + len(dht_dc)) + dht_dc)
    segs.append(b"\xff\xc4" + struct.pack(">H", 2 + len(dht_ac)) + dht_ac)
    sos = bytes([1, 1, 0x00, 0, 63, 0])
    segs.append(b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos)
    enc_dc = _canonical_encode_table(_DC_BITS, _DC_VALS)
    enc_ac = _canonical_encode_table(_AC_BITS, _AC_VALS)
    bits: list[tuple[int, int]] = []
    pred = 0
    for by in range(height // 8):
        for bx in range(width // 8):
            v = int(block_val(bx, by)) & 0xFF
            dc = 8 * (v - 128)  # T.81 DCT of a constant block, q=1
            diff = dc - pred
            pred = dc
            s = abs(diff).bit_length()
            bits.append(enc_dc[s])
            if s:
                mag = diff if diff >= 0 else diff + (1 << s) - 1
                bits.append((mag & ((1 << s) - 1), s))
            bits.append(enc_ac[0x00])  # EOB: all AC zero
    out = bytearray()
    acc = nacc = 0
    for val, n in ((v, n) for (v, n) in bits):
        acc = (acc << n) | val
        nacc += n
        while nacc >= 8:
            nacc -= 8
            byte = (acc >> nacc) & 0xFF
            acc &= (1 << nacc) - 1
            out.append(byte)
            if byte == 0xFF:
                out.append(0x00)  # byte stuffing
    if nacc:
        byte = ((acc << (8 - nacc)) | ((1 << (8 - nacc)) - 1)) & 0xFF
        out.append(byte)
        if byte == 0xFF:
            out.append(0x00)
    segs.append(bytes(out))
    segs.append(b"\xff\xd9")
    return b"".join(segs)


# ---------------------------------------------------------------- query


@register(
    "multimodal_jpeg_decode",
    category="multimodal",
    oracle="""
    SELECT doc_id,
           CAST(8 * (1 + doc_id % 3) AS BIGINT) AS width,
           CAST(8 * (1 + doc_id % 2) AS BIGINT) AS height,
           CAST(64 * (1 + doc_id % 3) * (1 + doc_id % 2) AS BIGINT)
             AS n_bytes,
           CAST(64 * LIST_SUM(LIST_TRANSFORM(
                RANGE(0, (1 + doc_id % 3) * (1 + doc_id % 2)),
                b -> (doc_id * 37 + b * 13) % 256)) AS BIGINT) AS px_sum
    FROM documents WHERE doc_id % 29 = 0
    """)
def multimodal_jpeg_decode(spark, sf_dir):
    """Baseline JPEG pixel decode in pure stdlib — the full entropy
    pipeline (canonical Huffman from DHT, DC prediction deltas across
    the block grid, EOB, byte unstuffing, dequant, IDCT, level shift)
    exercised end-to-end on real generated streams. Every 29th document
    gets a grayscale JPEG of 8×8-constant blocks (the one family that is
    bit-exact through a lossy codec at q=1 — see module docstring), so
    the DuckDB oracle recomputes each pixel statistic from the closed
    form without ever seeing a JPEG byte. Batch-level Arrow
    ``mapInPandas`` on both sides — the decode parallelizes per
    partition, no Python in any shuffle."""
    def payload(doc_id):
        wb, hb = 1 + doc_id % 3, 1 + doc_id % 2
        return jpeg_encode_gray_blocks(
            8 * wb, 8 * hb,
            lambda bx, by: (doc_id * 37 + (by * wb + bx) * 13) % 256)

    return _decode_rows(_media_payloads(spark, sf_dir, 29, payload),
                        _pixel_stats(jpeg_decode_baseline), _PIXEL_SCHEMA)
