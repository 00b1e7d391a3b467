"""Pure-Python codec for the cstore_fdw v1.7 on-disk format — the
reference's OWN binary layout, so files written here are shaped exactly
like the reference's and real cstore tables can be brought over as-is.
Everything below is reimplemented from scratch against the public
format (cstore.proto, the PostgreSQL attribute-layout and pg_lzcompress
formats) with the reference C cited for behavior only.

Layout (studied from the reference, reimplemented from scratch):
- data file: stripes back to back; each stripe = [per-column skip-list
  protobuf][per column: all exists buffers, then all value buffers]
  [stripe-footer protobuf]  (cstore_writer.c:558-572, FlushStripe)
- footer file (<path>.footer): TableFooter protobuf + PostScript
  protobuf + 1-byte postscript size (cstore_writer.c:379-414)
- datums: PostgreSQL attribute layout — by-value types little-endian at
  typlen, varlena text with 1- or 4-byte headers, each datum's length
  aligned up to the type's alignment (cstore_writer.c:729-760,
  cstore_reader.c:1129-1165)
- exists bitmaps: LSB-first bit per row (cstore_writer.c:699-722)
- optional per-block pglz compression framed as
  [vl_len|compressed-flag][rawsize] + the PostgreSQL LZ stream
  (cstore_compression.c; stream format per pg_lzcompress docs)
"""
from __future__ import annotations

import ctypes
import dataclasses
import functools
import hashlib
import os
import pkgutil
import re
import shutil
import struct
import subprocess
import tempfile
from decimal import Decimal, ROUND_HALF_UP, localcontext

from cstore_fdw_spark.fsutil import CACHE_DIR

# ------------------------------------------------------------ protobuf wire

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    val = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, pos
        shift += 7


def _field(num: int, wire: int, payload) -> bytes:
    tag = _varint((num << 3) | wire)
    if wire == 0:
        return tag + _varint(payload)
    return tag + _varint(len(payload)) + payload


def _parse(buf: bytes) -> dict[int, list]:
    """Generic proto2 parse: {field: [varint-or-bytes, ...]}."""
    out: dict[int, list] = {}
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        num, wire = key >> 3, key & 7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            val = buf[pos:pos + ln]
            pos += ln
        elif wire == 5:
            val = buf[pos:pos + 4]
            pos += 4
        elif wire == 1:
            val = buf[pos:pos + 8]
            pos += 8
        else:
            raise ValueError(f"unsupported wire type {wire}")
        out.setdefault(num, []).append(val)
    return out

# ------------------------------------------------------------------- pglz

def _pglz_decompress_py(data: bytes, rawsize: int) -> bytes:
    """The Python pglz decoder: the reference the C kernel
    (``pglz.c``) is tested against, and the decoder where no C compiler
    is found. Raises ``ValueError`` on any malformed stream.

    PostgreSQL LZ stream: control bytes gate 8 items LSB-first;
    literal = 1 raw byte; match tag = [off_hi4|len-3][off_lo8]
    (+1 length-extension byte when the nibble saturates at 15);
    matches copy byte-by-byte from the sliding output window.

    Items are processed in RUNS, not per byte: consecutive literal bits
    become one slice copy, and a match becomes one slice copy when it
    doesn't overlap its own output (offset >= length) or a segment
    replication when it does — position i of an overlapping copy is
    window[i % offset] by the byte-at-a-time induction, so
    ``seg * q + seg[:r]`` reproduces the reference semantics exactly."""
    # hot loop on the serving path (measured: the dominant term of the
    # cstore Arrow scan — a real block set decodes ~7k matches of ~10
    # bytes each per 10k-row block). `out_len` is tracked as an int
    # (len(out) per item was 4.2M calls / 0.34 s per file in cProfile)
    # and the control byte is consumed by shifting instead of
    # re-masking per bit — 1.25x on the captured real blocks, byte
    # semantics unchanged (spec-vector + property round-trip tested).
    out = bytearray()
    pos = 0
    n = len(data)
    out_len = 0
    while pos < n and out_len < rawsize:
        ctrl = data[pos]
        pos += 1
        if ctrl == 0:
            # all-literal control byte: one 8-byte slice
            take = n - pos
            if take > 8:
                take = 8
            rem = rawsize - out_len
            if take > rem:
                take = rem
            out += data[pos:pos + take]
            pos += take
            out_len += take
            continue
        bit = 0
        while bit < 8:
            if pos >= n or out_len >= rawsize:
                break
            if ctrl & 1:
                if pos + 2 > n:
                    raise ValueError("pglz: stream ends inside a match")
                b0 = data[pos]
                b1 = data[pos + 1]
                pos += 2
                length = (b0 & 0x0F) + 3
                offset = ((b0 & 0xF0) << 4) | b1
                if length == 18:
                    if pos >= n:
                        raise ValueError("pglz: stream ends inside a match")
                    length += data[pos]
                    pos += 1
                start = out_len - offset
                if start < 0 or offset == 0:
                    raise ValueError("pglz: bad match offset")
                if offset >= length:
                    out += out[start:start + length]
                else:
                    seg = bytes(out[start:])
                    q, r = divmod(length, offset)
                    out += seg * q + seg[:r]
                out_len += length
                ctrl >>= 1
                bit += 1
            else:
                # literal run: every consecutive clear bit is one slice
                run = 1
                ctrl >>= 1
                while bit + run < 8 and not ctrl & 1:
                    ctrl >>= 1
                    run += 1
                take = n - pos
                if take > run:
                    take = run
                rem = rawsize - out_len
                if take > rem:
                    take = rem
                out += data[pos:pos + take]
                pos += take
                out_len += take
                bit += run
    if out_len != rawsize:
        raise ValueError(f"pglz: expected {rawsize} bytes, got {out_len}")
    return bytes(out)


def _pglz_compress_py(data: bytes) -> bytes | None:
    """The Python pglz encoder: the reference the C kernel (``pglz.c``)
    is tested against, and the encoder where no C compiler is found.
    Greedy LZ with a positions table — emits a format-valid stream
    (offset <= 4095, length 3..273); returns None unless it shrinks
    the input (the reference keeps such blocks uncompressed)."""
    n = len(data)
    out = bytearray()
    ctrl_pos = -1
    ctrl = 0
    ctrl_bit = 8
    table: dict[bytes, list[int]] = {}
    i = 0
    # bounded match search (PG's own good_match discipline): scanning
    # every historical candidate measured 2.4x slower for ~1-2% ratio
    cap = 32

    def put(is_match: int):
        nonlocal ctrl_pos, ctrl, ctrl_bit
        if ctrl_bit == 8:
            if ctrl_pos >= 0:
                out[ctrl_pos] = ctrl
            ctrl_pos = len(out)
            out.append(0)
            ctrl = 0
            ctrl_bit = 0
        ctrl |= is_match << ctrl_bit
        ctrl_bit += 1

    # PG's compressor aborts once enough input produced no savings —
    # an incompressible 80 KB block (random timestamps) costs a full
    # scan otherwise just to be declined at the end
    abort_at = n >> 2
    while i < n:
        if i > abort_at and len(out) >= i:
            return None
        best_len = 0
        best_off = 0
        if i + 3 <= n:
            key = data[i:i + 3]
            cands = table.get(key, ())
            if len(cands) > cap:
                cands = cands[-cap:]
            for j in reversed(cands):
                off = i - j
                if off > 4095:
                    break
                # direct comparison is valid even for overlapping
                # matches (off < len): byte-by-byte copy semantics make
                # out[i+k] == data[j+k] by induction
                length = 3
                max_len = min(273, n - i)
                if data[j:j + 3] != key:
                    continue
                while (length < max_len
                       and data[j + length] == data[i + length]):
                    length += 1
                if length > best_len:
                    best_len, best_off = length, off
                    if length >= 128:  # good enough — stop searching
                        break
        if best_len >= 3:
            put(1)
            ext = best_len - 3
            if ext >= 15:
                out.append(0x0F | ((best_off & 0xF00) >> 4))
                out.append(best_off & 0xFF)
                out.append(best_len - 18)
            else:
                out.append(ext | ((best_off & 0xF00) >> 4))
                out.append(best_off & 0xFF)
            # index long matches sparsely — every position of a 273-byte
            # run buys nothing but table growth
            step = 1 if best_len < 32 else 4
            for k in range(0, best_len, step):
                if i + k + 3 <= n:
                    table.setdefault(data[i + k:i + k + 3], []).append(i + k)
            i += best_len
        else:
            put(0)
            out.append(data[i])
            if i + 3 <= n:
                table.setdefault(data[i:i + 3], []).append(i)
            i += 1
    if ctrl_pos >= 0:
        out[ctrl_pos] = ctrl
    return bytes(out) if len(out) < n else None

# ------------------------------------------------------------ pglz in C

#: a pglz stream of n bytes decodes to at most 2184 bytes per 25 (a
#: control byte and 8 length-extended matches), so a larger rawsize is
#: malformed before any output is allocated
_PGLZ_MAX_RATIO = 88

_PGLZ_ERRORS = {-1: "pglz: bad match offset",
                -2: "pglz: stream ends inside a match",
                -3: "pglz: stream does not decode to rawsize bytes"}


class _NativePglz:
    """ctypes bindings over the compiled ``pglz.c``: the same streams,
    results and ``ValueError`` cases as the Python kernels."""

    def __init__(self, lib: ctypes.CDLL):
        lib.pglz_compress.argtypes = [ctypes.c_char_p, ctypes.c_int64,
                                      ctypes.c_char_p]
        lib.pglz_compress.restype = ctypes.c_int64
        lib.pglz_decompress.argtypes = [ctypes.c_char_p, ctypes.c_int64,
                                        ctypes.c_char_p, ctypes.c_int64]
        lib.pglz_decompress.restype = ctypes.c_int
        self._lib = lib

    def compress(self, data: bytes) -> bytes | None:
        data = bytes(data)
        out = ctypes.create_string_buffer(len(data))
        got = self._lib.pglz_compress(data, len(data), out)
        if got == -2:
            raise MemoryError("pglz: no scratch memory")
        return ctypes.string_at(out, got) if got >= 0 else None

    def decompress(self, data: bytes, rawsize: int) -> bytes:
        data = bytes(data)
        if not 0 <= rawsize <= _PGLZ_MAX_RATIO * len(data):
            raise ValueError(_PGLZ_ERRORS[-3])
        out = ctypes.create_string_buffer(rawsize)
        rc = self._lib.pglz_decompress(data, len(data), out, rawsize)
        if rc:
            raise ValueError(_PGLZ_ERRORS[rc])
        return out.raw


@functools.cache
def _native_pglz() -> _NativePglz | None:
    """The C pglz kernels, built on first use: ``pglz.c`` (read through
    the package loader, since executors import this package from a
    zip) is compiled by the host's ``cc`` into :data:`CACHE_DIR`,
    named by its source hash so an edited source builds anew, and
    loaded with ctypes. None when no compiler is found or the build
    fails; the Python kernels then serve."""
    src = pkgutil.get_data(__package__, "pglz.c")
    lib = os.path.join(CACHE_DIR, "pglz-%s.so"
                       % hashlib.sha256(src).hexdigest()[:16])
    try:
        if not os.path.exists(lib):
            cc = shutil.which("cc")
            if cc is None:
                return None
            os.makedirs(CACHE_DIR, mode=0o700, exist_ok=True)
            with tempfile.TemporaryDirectory(dir=CACHE_DIR) as tmp:
                c_file = os.path.join(tmp, "pglz.c")
                with open(c_file, "wb") as fh:
                    fh.write(src)
                built = os.path.join(tmp, "pglz.so")
                if subprocess.run([cc, "-O2", "-shared", "-fPIC", "-o",
                                   built, c_file],
                                  capture_output=True).returncode:
                    return None
                os.replace(built, lib)  # concurrent builders: last wins
        return _NativePglz(ctypes.CDLL(lib))
    except OSError:
        return None


def pglz_decompress(data: bytes, rawsize: int) -> bytes:
    """Undo one pglz stream into exactly ``rawsize`` bytes; raises
    ``ValueError`` on a malformed stream. The C kernel when it builds,
    the Python kernel otherwise (byte-identical, tested)."""
    native = _native_pglz()
    if native is None:
        return _pglz_decompress_py(data, rawsize)
    return native.decompress(data, rawsize)


def pglz_compress(data: bytes) -> bytes | None:
    """pglz-compress ``data``; None unless the stream is shorter. The C
    kernel when it builds, the Python kernel otherwise (the same
    bytes, tested)."""
    native = _native_pglz()
    if native is None:
        return _pglz_compress_py(data)
    return native.compress(data)

# ------------------------------------------------------------- pg numeric

def pg_numeric_encode(dec: Decimal, dscale: int) -> bytes:
    """A Decimal -> PostgreSQL ``numeric`` datum payload (the public
    on-disk layout of numeric.c: int16 base-10000 digit groups aligned
    to the decimal point, a weight/dscale/sign header). Emits the LONG
    header form — uint16 sign|dscale, int16 weight, digits — which
    every PG reader accepts; trailing/leading zero groups stripped,
    zero stored as ndigits=0. The reference stores numeric columns
    through exactly this datum path (cstore_writer.c serializes any PG
    type via typlen/typalign; input/data_types.source exercises it)."""
    if dec.is_nan() or dec.is_infinite():
        raise ValueError("cstore numeric: NaN/Infinity not storable")
    neg = dec < 0
    a = -dec if neg else dec
    # narrow to dscale the way PG does — round half AWAY from zero
    # (numeric.c's round_var); an f-string would banker's-round
    with localcontext() as ctx:
        ctx.prec = max(len(a.as_tuple().digits) + dscale + 2, 38)
        a = a.quantize(Decimal(1).scaleb(-dscale),
                       rounding=ROUND_HALF_UP)
    int_part, _, frac_part = f"{a:f}".partition(".")
    frac_part = frac_part.ljust(dscale, "0")[:dscale] if dscale else ""
    istr = "0" * ((-len(int_part)) % 4) + int_part
    fstr = frac_part + "0" * ((-len(frac_part)) % 4)
    digits = [int(istr[i:i + 4]) for i in range(0, len(istr), 4)] + \
             [int(fstr[i:i + 4]) for i in range(0, len(fstr), 4)]
    weight = len(istr) // 4 - 1
    while digits and digits[0] == 0:
        digits.pop(0)
        weight -= 1
    while digits and digits[-1] == 0:
        digits.pop()
    if not digits:
        weight = 0
        neg = False
    hdr = (0x4000 if neg else 0x0000) | (dscale & 0x3FFF)
    return (struct.pack("<Hh", hdr, weight)
            + struct.pack(f"<{len(digits)}h", *digits))


def pg_numeric_decode(payload: bytes) -> Decimal:
    """PG numeric payload -> Decimal at the datum's own dscale. Accepts
    BOTH header forms — foreign files carry the SHORT form (PG >= 9.1:
    0x8000 flag, 0x2000 sign, 6-bit dscale at bit 7, 7-bit signed
    weight) as well as the long one. NaN raises loudly (Spark decimals
    have no NaN; silently nulling would be a wrong row)."""
    (hdr,) = struct.unpack_from("<H", payload, 0)
    if hdr & 0xC000 == 0xC000:
        # special values (NaN 0xC000, +Inf 0xD000, -Inf 0xF000) — must
        # be tested BEFORE the short flag (they share bit 0x8000)
        raise ValueError("cstore numeric: NaN/Infinity not "
                         "representable as a Spark decimal")
    if hdr & 0x8000:
        neg = bool(hdr & 0x2000)
        dscale = (hdr >> 7) & 0x3F
        w = hdr & 0x3F
        weight = w - 64 if hdr & 0x0040 else w
        off = 2
    else:
        neg = (hdr & 0xC000) == 0x4000
        dscale = hdr & 0x3FFF
        (weight,) = struct.unpack_from("<h", payload, 2)
        off = 4
    n = (len(payload) - off) // 2
    digits = struct.unpack_from(f"<{n}h", payload, off)
    with localcontext() as ctx:
        ctx.prec = 80
        val = Decimal(0)
        for i, dg in enumerate(digits):
            val += Decimal(dg).scaleb(4 * (weight - i))
        if neg:
            val = -val
        return val.quantize(Decimal(1).scaleb(-dscale))


# -------------------------------------------------------------- pg arrays

MAXALIGN = 8


def _read_varlena(buf, pos: int, align: int, shift: int):
    """Read ONE nested varlena datum: ``pos`` is the walk's
    datum-relative position, buffer index = ``pos - shift`` (shift 4
    when ``buf`` excludes the enclosing datum's own 4-byte varlena
    header, 0 when positions are direct buffer indexes). Accepts both
    the 1-byte short header (PG packs nested varlenas since 8.3 — no
    alignment padding) and the aligned 4-byte header; padding bytes are
    always 0x00 (even), and a 4-byte header's low byte has bit0 clear,
    so the short-header test is unambiguous. Returns (raw, new_pos)."""
    b0 = buf[pos - shift]
    if b0 & 0x01:
        total = b0 >> 1
        if total == 0:
            raise ValueError("malformed short varlena header (length 0)")
        return bytes(buf[pos - shift + 1:pos - shift + total]), pos + total
    pos = _align_up(pos, align)
    (hdr,) = struct.unpack_from("<I", buf, pos - shift)
    total = hdr >> 2
    return bytes(buf[pos - shift + 4:pos - shift + total]), pos + total

#: element kind -> pg_type oid (public catalog constants)
_ELEM_OID = {"b": 16, "h": 21, "i": 23, "q": 20, "f": 700, "d": 701,
             "date": 1082, "ts": 1114, "text": 25, "num": 1700,
             "tstz": 1184, "time": 1083, "iv": 1186, "uuid": 2950,
             "inet": 869, "varbit": 1562, "bytea": 17, "money": 790,
             "json": 114}


def _elem_oid(kind: str) -> int:
    return _ELEM_OID["num" if kind.startswith("num:") else kind]


def pg_array_encode(values: list, elemkind: str, typlen: int,
                    ealign: int) -> bytes:
    """A python list (None = NULL element) -> PostgreSQL 1-D array
    datum payload (the public layout of utils/array.h: int32 ndim,
    dataoffset — 0 when no NULLs —, elemtype oid, per-dim [dim,
    lbound], optional LSB-first present-bitmap, MAXALIGN'd data, then
    elements under standard attribute rules). Offsets are DATUM-
    relative and count the 4-byte varlena header the column writer
    prepends. Empty list -> PG's canonical empty array (ndim 0)."""
    n = len(values)
    oid = _elem_oid(elemkind)
    if n == 0:
        return struct.pack("<iii", 0, 0, oid)
    hasnull = any(v is None for v in values)
    overhead = 4 + 12 + 8  # vl_len + (ndim,dataoffset,oid) + (dim,lb)
    if hasnull:
        bitmap = bytearray((n + 7) // 8)
        for idx, v in enumerate(values):
            if v is not None:
                bitmap[idx // 8] |= 1 << (idx % 8)
        dataoffset = _align_up(overhead + len(bitmap), MAXALIGN)
        data_start = dataoffset
    else:
        bitmap = b""
        dataoffset = 0
        data_start = _align_up(overhead, MAXALIGN)
    out = bytearray()
    out += struct.pack("<iiiii", 1, dataoffset, oid, n, 1)
    out += bitmap
    out += b"\x00" * (data_start - 4 - len(out))
    pos = data_start  # datum-relative
    for v in values:
        if v is None:
            continue
        sv = _to_storage(v, elemkind)
        npos = _align_up(pos, ealign)
        out += b"\x00" * (npos - pos)
        if typlen > 0:
            out += struct.pack(_pack_fmt(elemkind), sv)
            pos = npos + typlen
        else:
            out += struct.pack("<I", (len(sv) + 4) << 2) + sv
            pos = npos + 4 + len(sv)
    return bytes(out)


def pg_array_decode(payload: bytes, elemkind: str, typlen: int,
                    ealign: int) -> list:
    """Inverse of :func:`pg_array_encode`; accepts short varlena
    element headers too (PG packs them since 8.3). 1-D only — the
    reference corpus (data_types.source) uses 1-D arrays; multi-dim
    raises loudly."""
    ndim, dataoffset, _oid = struct.unpack_from("<iii", payload, 0)
    if ndim == 0:
        return []
    if ndim != 1:
        raise ValueError(
            f"cstore arrays: only 1-D supported (ndim={ndim})")
    n, _lb = struct.unpack_from("<ii", payload, 12)
    hasnull = dataoffset != 0
    if hasnull:
        bitmap = payload[20:20 + (n + 7) // 8]
        present = [bool(bitmap[idx // 8] & (1 << (idx % 8)))
                   for idx in range(n)]
        data_start = dataoffset
    else:
        present = [True] * n
        data_start = _align_up(4 + 20, MAXALIGN)
    pos = data_start  # datum-relative; payload index = pos - 4
    out = []
    for idx in range(n):
        if not present[idx]:
            out.append(None)
            continue
        if typlen > 0:
            pos = _align_up(pos, ealign)
            raw = struct.unpack_from(_pack_fmt(elemkind), payload,
                                     pos - 4)[0]
            pos += typlen
        else:
            raw, pos = _read_varlena(payload, pos, ealign, 4)
        out.append(_from_storage(raw, elemkind))
    return out


# ------------------------------------------- pg value-domain containers

@dataclasses.dataclass(frozen=True)
class PgInterval:
    """PostgreSQL ``interval`` value domain — the public on-disk struct
    (datatype/timestamp.h): int64 micros, int32 days, int32 months kept
    as SEPARATE components (PG never normalizes days into months)."""
    months: int
    days: int
    micros: int


@dataclasses.dataclass(frozen=True)
class PgRange:
    """PostgreSQL range value: bounds (None = infinite), inclusivity
    flags, and the distinguished empty range (rangetypes.h flags)."""
    lower: object
    upper: object
    lower_inc: bool
    upper_inc: bool
    empty: bool


@dataclasses.dataclass(frozen=True)
class PgInet:
    """PostgreSQL ``inet``: an address + netmask bit count."""
    addr: object  # ipaddress.IPv4Address | IPv6Address
    bits: int


# ----------------------------------------------------- pg composite datums

RECORD_OID = 2249        # pg_type: pseudo-type "record"
_HEAP_HASNULL = 0x0001   # htup_details.h t_infomask bit


def pg_composite_encode(values: tuple, kinds: list[str]) -> bytes:
    """A field tuple (None = NULL field) -> the PostgreSQL composite
    datum payload: a HeapTupleHeader serving as a varlena datum (the
    public htup_details.h layout — vl_len overlays datum_len and is
    stripped by the column writer's varlena framing): int32 typmod -1,
    Oid typeid (RECORD), 6 zero ctid bytes, uint16 natts (infomask2),
    uint16 infomask (HEAP_HASNULL when any field is NULL), uint8 t_hoff
    = MAXALIGN(23 + bitmap), LSB-first null bitmap, then the fields
    under standard attribute alignment rules."""
    natts = len(kinds)
    if len(values) != natts:
        raise ValueError(
            f"composite arity {len(values)} != {natts} fields")
    hasnull = any(v is None for v in values)
    bitmap = _bitmap([v is not None for v in values]) if hasnull else b""
    t_hoff = _align_up(23 + len(bitmap), MAXALIGN)  # datum-relative
    out = bytearray()
    out += struct.pack("<iI", -1, RECORD_OID)       # typmod, typeid
    out += b"\x00" * 6                              # t_ctid (zeroed)
    out += struct.pack("<HHB", natts,
                       _HEAP_HASNULL if hasnull else 0, t_hoff)
    out += bitmap
    out += b"\x00" * (t_hoff - 4 - len(out))
    pos = t_hoff                                    # datum-relative
    for v, k in zip(values, kinds):
        if v is None:
            continue
        typlen, kalign = _elem_props(k)
        sv = _to_storage(v, k)
        npos = _align_up(pos, kalign)
        out += b"\x00" * (npos - pos)
        if typlen > 0:
            out += struct.pack(_pack_fmt(k), sv)
            pos = npos + typlen
        else:
            out += struct.pack("<I", (len(sv) + 4) << 2) + sv
            pos = npos + 4 + len(sv)
    return bytes(out)


def pg_composite_decode(payload: bytes, kinds: list[str]) -> tuple:
    """Inverse of :func:`pg_composite_encode`; accepts short varlena
    field headers too (PG packs fields since 8.3)."""
    natts, infomask = struct.unpack_from("<HH", payload, 14)
    natts &= 0x07FF                                 # HEAP_NATTS_MASK
    if natts != len(kinds):
        raise ValueError(
            f"composite datum has {natts} fields, schema {len(kinds)}")
    t_hoff = payload[18]
    if infomask & _HEAP_HASNULL:
        present = _unbitmap(payload[19:19 + (natts + 7) // 8], natts)
    else:
        present = [True] * natts
    pos = t_hoff              # datum-relative; payload index = pos - 4
    out = []
    for idx, k in enumerate(kinds):
        if not present[idx]:
            out.append(None)
            continue
        typlen, kalign = _elem_props(k)
        if typlen > 0:
            pos = _align_up(pos, kalign)
            raw = struct.unpack_from(_pack_fmt(k), payload, pos - 4)[0]
            pos += typlen
        else:
            raw, pos = _read_varlena(payload, pos, kalign, 4)
        out.append(_from_storage(raw, k))
    return tuple(out)


# --------------------------------------------------------- pg range datums

#: subtype kind -> builtin range type oid (pg_type catalog)
_RANGE_OID = {"i": 3904, "q": 3926, "num": 3906, "ts": 3908,
              "tstz": 3910, "date": 3912}
#: rangetypes.h flag bits (flags byte is LAST in the datum)
_RANGE_EMPTY, _RANGE_LB_INC, _RANGE_UB_INC = 0x01, 0x02, 0x04
_RANGE_LB_INF, _RANGE_UB_INF = 0x08, 0x10


def pg_range_encode(r: PgRange, subkind: str) -> bytes:
    """A :class:`PgRange` -> the PostgreSQL range datum payload (public
    rangetypes.c serialization): Oid rangetypid, the present bounds in
    subtype attribute layout, then the flags byte LAST (unaligned)."""
    out = bytearray(struct.pack("<I", _RANGE_OID[subkind]))
    if r.empty:
        out.append(_RANGE_EMPTY)
        return bytes(out)
    flags = 0
    if r.lower is None:
        flags |= _RANGE_LB_INF
    elif r.lower_inc:
        flags |= _RANGE_LB_INC
    if r.upper is None:
        flags |= _RANGE_UB_INF
    elif r.upper_inc:
        flags |= _RANGE_UB_INC
    typlen, kalign = _elem_props(subkind)
    pos = 8                   # datum-relative (vl_len 4 + oid 4)
    for bound in (r.lower, r.upper):
        if bound is None:
            continue
        sv = _to_storage(bound, subkind)
        npos = _align_up(pos, kalign)
        out += b"\x00" * (npos - pos)
        if typlen > 0:
            out += struct.pack(_pack_fmt(subkind), sv)
            pos = npos + typlen
        else:
            out += struct.pack("<I", (len(sv) + 4) << 2) + sv
            pos = npos + 4 + len(sv)
    out.append(flags)
    return bytes(out)


def pg_range_decode(payload: bytes, subkind: str) -> PgRange:
    """Inverse of :func:`pg_range_encode` (short varlena bounds
    accepted)."""
    flags = payload[-1]
    if flags & _RANGE_EMPTY:
        return PgRange(None, None, False, False, True)
    typlen, kalign = _elem_props(subkind)
    pos = 8

    def read_bound():
        nonlocal pos
        if typlen > 0:
            pos = _align_up(pos, kalign)
            raw = struct.unpack_from(_pack_fmt(subkind), payload,
                                     pos - 4)[0]
            pos += typlen
        else:
            raw, pos = _read_varlena(payload, pos, kalign, 4)
        return _from_storage(raw, subkind)

    lower = None if flags & _RANGE_LB_INF else read_bound()
    upper = None if flags & _RANGE_UB_INF else read_bound()
    return PgRange(lower, upper, bool(flags & _RANGE_LB_INC),
                   bool(flags & _RANGE_UB_INC), False)


# --------------------------------------------------------------- type serde

#: spark-type-name -> (byval, typlen, align, pack-kind)
#: PG catalog properties: bool (1,'c'), int2 (2,'s'), int4/date/float4
#: (4,'i'), int8/timestamp/float8 (8,'d'), text (-1,'i'); the corpus
#: types added for data_types.source parity: time/timestamptz/money
#: byval (8,'d'), interval by-ref fixed (16,'d'), uuid by-ref fixed
#: (16,'c'), inet/varbit/bytea/json varlena (-1,'i')
CSTORE_TYPES = {
    "boolean": (True, 1, 1, "b"),
    "smallint": (True, 2, 2, "h"),
    "integer": (True, 4, 4, "i"),
    "bigint": (True, 8, 8, "q"),
    "float": (True, 4, 4, "f"),
    "double": (True, 8, 8, "d"),
    "date": (True, 4, 4, "date"),
    "timestamp": (True, 8, 8, "ts"),
    "string": (False, -1, 4, "text"),
    "time": (True, 8, 8, "time"),
    "timestamptz": (True, 8, 8, "tstz"),
    "interval": (False, 16, 8, "iv"),
    "uuid": (False, 16, 1, "uuid"),
    "inet": (False, -1, 4, "inet"),
    "varbit": (False, -1, 4, "varbit"),
    "bytea": (False, -1, 4, "bytea"),
    "money": (True, 8, 8, "money"),
    "json": (False, -1, 4, "json"),
}

_DECIMAL_NAME = re.compile(r"decimal\((\d+),(\d+)\)$")
_ARRAY_NAME = re.compile(r"array<(.+)>$")
_ENUM_NAME = re.compile(r"enum\((.+)\)$")
_COMPOSITE_NAME = re.compile(r"composite\((.+)\)$")
#: range type name -> bound subtype kind
_RANGE_TYPE_NAMES = {"int4range": "i", "int8range": "q",
                     "numrange": "num", "tsrange": "ts",
                     "tstzrange": "tstz", "daterange": "date"}


def _elem_props(elemkind: str) -> tuple[int, int]:
    """(typlen, align) of a NESTED kind — an array element, composite
    field, or range bound."""
    if elemkind == "text" or elemkind == "num" or \
            elemkind.startswith("num:"):
        return -1, 4
    if elemkind.startswith("enum:"):
        return 4, 4
    if elemkind.startswith("comp:") or elemkind.startswith("rng:"):
        return -1, 8
    for _name, (_bv, typlen, align, kind) in CSTORE_TYPES.items():
        if kind == elemkind:
            return typlen, align
    raise ValueError(f"unknown nested kind {elemkind!r}")


def cstore_type_props(name: str) -> tuple:
    """(byval, typlen, align, kind) for a cstore-storable type name.
    ``decimal(p,s)`` maps to PG ``numeric`` — varlena (typlen -1,
    typalign 'i' = 4, pg_type catalog), kind ``num:p:s``.
    ``array<elem>`` maps to the PG 1-D array datum (varlena; typalign
    'd' when the element is double-aligned, else 'i' — pg_type gives
    array types the alignment their elements need), kind ``arr:elem``.
    Anything else raises the documented loud error (the reference
    stores any PG type; this codec's honest scope is the 9 scalars +
    numeric + 1-D arrays of them)."""
    props = CSTORE_TYPES.get(name)
    if props is not None:
        return props
    m = _DECIMAL_NAME.match(name)
    if m:
        return (False, -1, 4, f"num:{m.group(1)}:{m.group(2)}")
    m = _ARRAY_NAME.match(name)
    if m:
        _bv, _tl, _al, elemkind = cstore_type_props(m.group(1))
        if elemkind.startswith("arr:"):
            raise ValueError(
                "cstore arrays: nested arrays not supported")
        if elemkind.startswith(("comp:", "rng:", "enum:")):
            raise ValueError(
                "cstore arrays: element type must be a scalar")
        _etl, ealign = _elem_props(elemkind)
        return (False, -1, max(4, ealign), f"arr:{elemkind}")
    if name in _RANGE_TYPE_NAMES:
        # pg_type gives every builtin range type typalign 'd'
        return (False, -1, 8, f"rng:{_RANGE_TYPE_NAMES[name]}")
    m = _ENUM_NAME.match(name)
    if m:
        # PG enums are fixed-width datums (an oid); this codec stores
        # the declared label ORDER as int32 — the same sort semantics
        # (enum comparison is by sort position, not label text)
        return (True, 4, 4, f"enum:{m.group(1)}")
    m = _COMPOSITE_NAME.match(name)
    if m:
        kinds = []
        for fld in m.group(1).split(","):
            _b, _t, _a, k = cstore_type_props(fld.strip())
            if "," in k or ":" in k:
                raise ValueError(
                    "cstore composite: fields must be simple scalar "
                    f"types (got {fld.strip()!r})")
            kinds.append(k)
        return (False, -1, 8, "comp:" + ",".join(kinds))
    raise ValueError(
        f"cstore format does not store type {name!r}; supported: "
        f"{sorted(CSTORE_TYPES)} + decimal(p,s) + array<elem> + "
        "enum(labels) + composite(fields) + int4/int8/num/ts/tstz/"
        "date ranges")

#: PostgreSQL epoch (2000-01-01) offsets
_PG_DATE_EPOCH_DAYS = 10957          # days from 1970-01-01 to 2000-01-01
_PG_TS_EPOCH_MICROS = 946684800000000
#: ±infinity sentinels (datatype/timestamp.h DT_NOBEGIN/NOEND,
#: date.h DATEVAL_NOBEGIN/NOEND) — python domain uses float ±inf
_TS_NOEND = (1 << 63) - 1
_TS_NOBEGIN = -(1 << 63)
_DATE_NOEND = (1 << 31) - 1
_DATE_NOBEGIN = -(1 << 31)
_INF = float("inf")


def _align_up(n: int, align: int) -> int:
    return (n + align - 1) & ~(align - 1)


def _to_storage(value, kind):
    """python value -> storable primitive (int/float/bytes)."""
    if kind == "date":
        if isinstance(value, float):
            if value != _INF and value != -_INF:
                raise ValueError(
                    f"date column: float {value!r} is not ±infinity")
            return _DATE_NOEND if value > 0 else _DATE_NOBEGIN
        return value.toordinal() - 730120  # date(2000,1,1).toordinal()
    if kind in ("ts", "tstz"):
        if isinstance(value, float):
            if value != _INF and value != -_INF:
                raise ValueError(
                    f"timestamp column: float {value!r} is not ±infinity")
            return _TS_NOEND if value > 0 else _TS_NOBEGIN
        import calendar
        tt = (value.utctimetuple() if kind == "tstz"
              else value.timetuple())
        micros = calendar.timegm(tt) * 1_000_000 + value.microsecond
        return micros - _PG_TS_EPOCH_MICROS
    if kind == "time":
        return (((value.hour * 60 + value.minute) * 60 + value.second)
                * 1_000_000 + value.microsecond)
    if kind == "text":
        return value.encode("utf-8")
    if kind == "json":
        return value.encode("utf-8")
    if kind == "bytea":
        return bytes(value)
    if kind == "iv":
        # interval struct: int64 micros, int32 days, int32 months
        return struct.pack("<qii", value.micros, value.days,
                           value.months)
    if kind == "uuid":
        return value.bytes
    if kind == "money":
        return value                      # int64 cents (cash.h)
    if kind == "varbit":
        # varbit: int32 bit length, then bits MSB-first within bytes
        nbits = len(value)
        packed = bytearray((nbits + 7) // 8)
        for i, ch in enumerate(value):
            if ch == "1":
                packed[i // 8] |= 0x80 >> (i % 8)
            elif ch != "0":
                raise ValueError(f"varbit literal {value!r}")
        return struct.pack("<i", nbits) + bytes(packed)
    if kind == "inet":
        # inet_struct: unsigned char family, bits, then the address
        # (PGSQL_AF_INET = 2, +1 for v6)
        fam = 2 if value.addr.version == 4 else 3
        return bytes([fam, value.bits]) + value.addr.packed
    if kind == "num":
        # unscaled numeric (range bounds): keep the value's own dscale
        exp = value.as_tuple().exponent
        return pg_numeric_encode(value, max(0, -exp))
    if kind.startswith("num:"):
        return pg_numeric_encode(value, int(kind.rsplit(":", 1)[1]))
    if kind.startswith("arr:"):
        elemkind = kind[4:]
        typlen, ealign = _elem_props(elemkind)
        return pg_array_encode(value, elemkind, typlen, ealign)
    if kind.startswith("enum:"):
        labels = kind[5:].split(",")
        try:
            return labels.index(value)
        except ValueError:
            raise ValueError(
                f"{value!r} is not a label of enum({kind[5:]})") from None
    if kind.startswith("comp:"):
        return pg_composite_encode(value, kind[5:].split(","))
    if kind.startswith("rng:"):
        return pg_range_encode(value, kind[4:])
    if kind == "b":
        return 1 if value else 0
    return value


def _from_storage(raw, kind):
    if kind == "date":
        import datetime
        if raw >= _DATE_NOEND:
            return _INF
        if raw <= _DATE_NOBEGIN:
            return -_INF
        return datetime.date.fromordinal(raw + 730120)
    if kind == "ts":
        import datetime
        if raw >= _TS_NOEND:
            return _INF
        if raw <= _TS_NOBEGIN:
            return -_INF
        micros = raw + _PG_TS_EPOCH_MICROS
        return datetime.datetime.utcfromtimestamp(micros / 1_000_000) \
            .replace(microsecond=micros % 1_000_000)
    if kind == "tstz":
        import datetime
        if raw >= _TS_NOEND:
            return _INF
        if raw <= _TS_NOBEGIN:
            return -_INF
        return (datetime.datetime(2000, 1, 1,
                                  tzinfo=datetime.timezone.utc)
                + datetime.timedelta(microseconds=raw))
    if kind == "time":
        import datetime
        secs, us = divmod(raw, 1_000_000)
        mins, s = divmod(secs, 60)
        h, m = divmod(mins, 60)
        return datetime.time(h, m, s, us)
    if kind == "text":
        return raw.decode("utf-8")
    if kind == "json":
        return raw.decode("utf-8")
    if kind == "bytea":
        return raw
    if kind == "iv":
        t, d, m = struct.unpack("<qii", raw)
        return PgInterval(m, d, t)
    if kind == "uuid":
        import uuid as uuid_mod
        return uuid_mod.UUID(bytes=raw)
    if kind == "money":
        return raw
    if kind == "varbit":
        (nbits,) = struct.unpack_from("<i", raw, 0)
        return "".join(
            "1" if raw[4 + i // 8] & (0x80 >> (i % 8)) else "0"
            for i in range(nbits))
    if kind == "inet":
        import ipaddress
        return PgInet(ipaddress.ip_address(raw[2:]), raw[1])
    if kind == "num":
        return pg_numeric_decode(raw)
    if kind.startswith("num:"):
        return pg_numeric_decode(raw)
    if kind.startswith("arr:"):
        elemkind = kind[4:]
        typlen, ealign = _elem_props(elemkind)
        return pg_array_decode(raw, elemkind, typlen, ealign)
    if kind.startswith("enum:"):
        return kind[5:].split(",")[raw]
    if kind.startswith("comp:"):
        return pg_composite_decode(raw, kind[5:].split(","))
    if kind.startswith("rng:"):
        return pg_range_decode(raw, kind[4:])
    if kind == "b":
        return bool(raw)
    return raw


_PACK = {"b": "<B", "h": "<h", "i": "<i", "q": "<q", "f": "<f", "d": "<d",
         "date": "<i", "ts": "<q", "tstz": "<q", "time": "<q",
         "money": "<q", "iv": "<16s", "uuid": "<16s"}


def _pack_fmt(kind: str) -> str:
    """struct format of a fixed-width kind (enum kinds are dynamic —
    always an int32 sort position)."""
    if kind.startswith("enum:"):
        return "<i"
    return _PACK[kind]


def pack_storage_raw(storage_val, typlen: int, kind: str) -> bytes:
    """Pack a STORAGE-domain value (int/float/bytes) in PG attribute
    layout, UNALIGNED (the skip-node min/max form,
    DatumToProtobufBinary)."""
    if typlen > 0:
        return struct.pack(_pack_fmt(kind), storage_val)
    return struct.pack("<I", (len(storage_val) + 4) << 2) + storage_val


def serialize_datum_raw(value, typlen, kind) -> bytes:
    """One python-domain datum, UNALIGNED (see pack_storage_raw)."""
    return pack_storage_raw(_to_storage(value, kind), typlen, kind)


def _minmax_key(kind):
    """Skip-node min/max policy: a sort key for kinds whose python
    domain orders like PG's comparator, None for kinds that get NO
    min/max nodes (optional in the proto — nothing prunes on them).
    text/bytea compare bytewise (memcmp in PG; byte order here, never
    collation — the da_DK hazard); date/ts/tstz key on STORAGE so the
    ±infinity sentinels order against finite values; float/double put
    NaN above every number (PostgreSQL's float btree order, and
    Spark's); numerics and the other by-value scalars order by python
    value directly. Compound or non-ordered kinds (arrays, composites,
    ranges, interval, uuid, inet, varbit, json, enum) emit no nodes.

    Text bounds are therefore written under a C-collation assumption,
    where the reference uses the column's collation
    (cstore_writer.c:845-849; input/block_filtering.source:62-71 pins
    why that matters). This engine's reader never prunes on text
    bounds; a file handed back to PostgreSQL must be attached to a
    column with COLLATE "C" (README, interop note)."""
    if kind in ("date", "ts", "tstz", "text"):
        return lambda v: _to_storage(v, kind)
    if kind in ("f", "d"):
        return lambda v: (v != v, v)
    if kind in ("b", "h", "i", "q", "time", "money",
                "bytea", "num") or kind.startswith("num:"):
        return lambda v: v
    return None


def serialize_datum(value, typlen, align, kind) -> bytes:
    """One datum in PG attribute layout, length aligned up (the value
    buffer form)."""
    raw = serialize_datum_raw(value, typlen, kind)
    pad = _align_up(len(raw), align) - len(raw)
    return raw + b"\x00" * pad


def deserialize_datums(buf: bytes, exists: list[bool], typlen: int,
                       align: int, kind: str) -> list:
    """Walk a value buffer (non-null datums only), mirroring the
    reference reader: advance by datum length, then align up. Varlena
    accepts both 1-byte short and 4-byte headers (VARSIZE_ANY)."""
    out = []
    pos = 0
    for ex in exists:
        if not ex:
            out.append(None)
            continue
        if typlen > 0:
            raw = struct.unpack_from(_pack_fmt(kind), buf, pos)[0]
            pos += typlen
        else:
            raw, pos = _read_varlena(buf, pos, align, 0)
        pos = _align_up(pos, align)
        out.append(_from_storage(raw, kind))
    return out


def _bitmap(flags: list[bool]) -> bytes:
    out = bytearray((len(flags) + 7) // 8)
    for i, f in enumerate(flags):
        if f:
            out[i // 8] |= 1 << (i % 8)
    return bytes(out)


def _unbitmap(buf: bytes, count: int) -> list[bool]:
    return [bool(buf[i // 8] & (1 << (i % 8))) for i in range(count)]

# ------------------------------------------------------------- file writer

MAGIC = "citus_cstore"


def _compress_block(vbuf: bytes, compression: str) -> tuple[bytes, int]:
    """Optionally pglz-frame a value buffer; (buffer, compression_type)."""
    if compression == "pglz" and len(vbuf) > 16:
        packed = pglz_compress(vbuf)
        if packed is not None:
            framed = (struct.pack("<I", ((8 + len(packed)) << 2) | 2)
                      + struct.pack("<i", len(vbuf)) + packed)
            if len(framed) < len(vbuf):
                return framed, 1
    return vbuf, 0


def _stripe_bytes(cols, n_cols: int) -> tuple[bytes, tuple]:
    """Serialize ONE stripe's per-column block products to its on-disk
    bytes: cols = per-column lists of (exists_buf, value_buf, comp_type,
    rowcount, minmax_raw_or_None) where minmax_raw is
    (packed_min_bytes, packed_max_bytes). Returns (stripe_bytes,
    (skip_len, data_len, footer_len))."""
    data = bytearray()
    skip_protos = []
    for c in range(n_cols):
        nodes = b""
        e_off = v_off = 0
        for ebuf, vbuf, comp, rowcount, mm in cols[c]:
            node = _field(1, 0, rowcount)
            if mm is not None:
                node += _field(2, 2, mm[0]) + _field(3, 2, mm[1])
            node += _field(4, 0, v_off) + _field(5, 0, len(vbuf))
            node += _field(6, 0, comp)
            node += _field(7, 0, e_off) + _field(8, 0, len(ebuf))
            nodes += _field(1, 2, node)
            e_off += len(ebuf)
            v_off += len(vbuf)
        skip_protos.append(nodes)
    for sp in skip_protos:
        data += sp
    for c in range(n_cols):
        for blk in cols[c]:
            data += blk[0]
        for blk in cols[c]:
            data += blk[1]
    sfooter = b""
    for sp in skip_protos:
        sfooter += _field(1, 0, len(sp))
    for c in range(n_cols):
        sfooter += _field(2, 0, sum(len(b[0]) for b in cols[c]))
    for c in range(n_cols):
        sfooter += _field(3, 0, sum(len(b[1]) for b in cols[c]))
    data += sfooter
    skip_len = sum(len(sp) for sp in skip_protos)
    data_len = sum(sum(len(b[0]) + len(b[1]) for b in cols[c])
                   for c in range(n_cols))
    return bytes(data), (skip_len, data_len, len(sfooter))


def _encode_block(values: list, typ: tuple, compression: str) -> tuple:
    """ONE block of python values (None = NULL) -> its block product
    for :func:`_stripe_bytes`: (exists_buf, value_buf, comp_type,
    rowcount, minmax_raw_or_None). The one per-datum encoder — it
    serves every kind of :func:`write_cstore_file` and every kind the
    Arrow writer's fixed-width fast path (:func:`_encode_fixed_block`)
    does not cover. Bounds follow :func:`_minmax_key`."""
    _byval, typlen, align, kind = typ
    present = [v for v in values if v is not None]
    vbuf = b"".join(serialize_datum(v, typlen, align, kind)
                    for v in present)
    key = _minmax_key(kind)
    mm = None
    if present and key is not None:
        mm = (serialize_datum_raw(min(present, key=key), typlen, kind),
              serialize_datum_raw(max(present, key=key), typlen, kind))
    vbuf, comp = _compress_block(vbuf, compression)
    return (_bitmap([v is not None for v in values]), vbuf, comp,
            len(values), mm)


def _encode_fixed_block(arr, typ: tuple, compression: str) -> tuple:
    """The Arrow writer's fast path for the by-value Spark kinds
    (``_NP_DTYPE``): the value buffer is ONE numpy astype/tobytes and
    the exists bitmap one packbits. Bounds are the first minimal and
    first maximal datum under :func:`_minmax_key`'s order (NaN above
    every number), so the bytes equal :func:`_encode_block`'s."""
    import numpy as np
    import pyarrow as pa

    _byval, typlen, _align, kind = typ
    valid = ~np.asarray(arr.is_null())
    pres = arr.drop_null()
    if kind == "date":
        st = (pres.cast(pa.int32()).to_numpy(zero_copy_only=False)
              .astype("<i4") - _PG_DATE_EPOCH_DAYS)
    elif kind == "ts":
        st = (pres.cast(pa.int64()).to_numpy(zero_copy_only=False)
              .astype("<i8") - _PG_TS_EPOCH_MICROS)
    elif kind == "b":
        st = pres.cast(pa.uint8()).to_numpy(zero_copy_only=False)
    else:
        st = pres.to_numpy(zero_copy_only=False).astype(_NP_DTYPE[kind])
    mm = None
    if len(st):
        fin, nan = st, None
        if kind in ("f", "d"):
            isnan = np.isnan(st)
            if isnan.any():
                nan, fin = st[isnan][0], st[~isnan]
        lo = fin[fin.argmin()] if len(fin) else nan
        hi = fin[fin.argmax()] if nan is None else nan
        mm = (pack_storage_raw(lo.item(), typlen, kind),
              pack_storage_raw(hi.item(), typlen, kind))
    vbuf, comp = _compress_block(st.tobytes(), compression)
    return (np.packbits(valid, bitorder="little").tobytes(), vbuf, comp,
            len(arr), mm)


def _arrow_stripe_blocks(stripe, types, block_row_count: int,
                         compression: str):
    """ONE stripe of a pyarrow Table -> per-column block products for
    :func:`_stripe_bytes`: by-value Spark kinds through the numpy
    :func:`_encode_fixed_block`, every other Spark kind (text, bytea,
    numeric, arrays) through the per-datum :func:`_encode_block`."""
    cols = []
    for c, typ in enumerate(types):
        kind = typ[3]
        try:
            _pa_type(kind)
        except KeyError:
            # time/tstz/money/interval/uuid/inet/...: storable by
            # write_cstore_file, but no Spark type carries them here
            raise ValueError(f"arrow writer: kind {kind!r} is not "
                             "Spark-expressible") from None
        col = stripe.column(c).combine_chunks()
        blocks = []
        for b0 in range(0, stripe.num_rows, block_row_count):
            arr = col.slice(b0, block_row_count)
            blocks.append(
                _encode_fixed_block(arr, typ, compression)
                if kind in _NP_DTYPE
                else _encode_block(arr.to_pylist(), typ, compression))
        cols.append(blocks)
    return cols


class CStoreFileWriter:
    """Incremental stripe-at-a-time writer for one data+footer pair —
    the reference's own flush discipline (cstore_writer.c:493 flushes
    every stripe_row_count rows; the whole table is NEVER buffered) and
    the only file assembler: both :func:`write_cstore_file` and
    :func:`write_cstore_arrow` write through it. ``append_stripe``
    serializes one pyarrow Table (≤ stripe_row_count rows, split
    internally if larger) straight to the open data file; ``close``
    writes the footer pair half (cstore_writer.c:379-414)."""

    def __init__(self, path: str, type_names: list[str],
                 stripe_row_count: int = 150000,
                 block_row_count: int = 10000,
                 compression: str = "pglz"):
        self.path = path
        self.types = [cstore_type_props(t) for t in type_names]
        self.stripe_row_count = stripe_row_count
        self.block_row_count = block_row_count
        self.compression = compression
        self._fh = open(path, "wb")
        self._offset = 0
        self._stripe_meta: list[tuple] = []

    def append_stripe(self, tbl) -> None:
        for s0 in range(0, tbl.num_rows, self.stripe_row_count):
            self._write_stripe(_arrow_stripe_blocks(
                tbl.slice(s0, self.stripe_row_count), self.types,
                self.block_row_count, self.compression))

    def _write_stripe(self, cols) -> None:
        data, (sk, dl, fl) = _stripe_bytes(cols, len(self.types))
        self._fh.write(data)
        self._stripe_meta.append((self._offset, sk, dl, fl))
        self._offset += len(data)

    def close(self) -> None:
        """Close the data file and write TableFooter + PostScript +
        1-byte postscript size to ``<path>.footer``."""
        self._fh.close()
        tf = b""
        for off, sk, dl, fl in self._stripe_meta:
            sm = (_field(1, 0, off) + _field(2, 0, sk)
                  + _field(3, 0, dl) + _field(4, 0, fl))
            tf += _field(1, 2, sm)
        tf += _field(2, 0, self.block_row_count)
        ps = (_field(1, 0, len(tf)) + _field(2, 0, 1) + _field(3, 0, 7)
              + _field(8000, 2, MAGIC.encode()))
        assert len(ps) < 256
        with open(self.path + ".footer", "wb") as fh:
            fh.write(tf + ps + bytes([len(ps)]))


def write_cstore_file(path: str, rows: list[tuple], type_names: list[str],
                      stripe_row_count: int = 150000,
                      block_row_count: int = 10000,
                      compression: str = "pglz") -> None:
    """Write rows (tuples, None = NULL) as a cstore v1.7 data+footer
    file pair readable by the reference. Every datum goes through the
    per-datum :func:`_encode_block`, so every storable kind is
    accepted."""
    w = CStoreFileWriter(path, type_names, stripe_row_count,
                         block_row_count, compression)
    try:
        for s0 in range(0, len(rows), stripe_row_count):
            chunk = rows[s0:s0 + stripe_row_count]
            w._write_stripe([
                [_encode_block([r[c] for r in
                                chunk[b0:b0 + block_row_count]],
                               typ, compression)
                 for b0 in range(0, len(chunk), block_row_count)]
                for c, typ in enumerate(w.types)])
    finally:
        w.close()


def write_cstore_arrow(path: str, tbl, type_names: list[str],
                       stripe_row_count: int = 150000,
                       block_row_count: int = 10000,
                       compression: str = "pglz") -> None:
    """Vectorized writer: a pyarrow Table goes to disk stripe by stripe
    through :class:`CStoreFileWriter`. For every Spark type the bytes
    equal :func:`write_cstore_file`'s on the same rows."""
    w = CStoreFileWriter(path, type_names, stripe_row_count,
                         block_row_count, compression)
    try:
        w.append_stripe(tbl)
    finally:
        w.close()


# ------------------------------------------------------------- file reader

def _iv(d: dict, num: int, default=None):
    return d[num][0] if num in d else default


def read_footer(path: str):
    """-> (block_row_count, [(offset, skiplist_len, data_len,
    footer_len), ...]) after validating magic + version."""
    with open(path + ".footer", "rb") as fh:
        raw = fh.read()
    ps_size = raw[-1]
    ps = _parse(raw[-1 - ps_size:-1])
    magic = _iv(ps, 8000, b"").decode()
    if magic != MAGIC:
        raise ValueError(f"bad cstore magic {magic!r}")
    tf_len = _iv(ps, 1)
    tf = _parse(raw[:tf_len])
    stripes = []
    for sm_raw in tf.get(1, []):
        sm = _parse(sm_raw)
        stripes.append((_iv(sm, 1, 0), _iv(sm, 2, 0), _iv(sm, 3, 0),
                        _iv(sm, 4, 0)))
    return _iv(tf, 2, 10000), stripes


def deserialize_datum_raw(buf: bytes, typlen: int, kind: str):
    """Decode one UNALIGNED datum (skip-node min/max)."""
    if typlen > 0:
        return _from_storage(struct.unpack_from(_pack_fmt(kind), buf, 0)[0],
                             kind)
    raw, _pos = _read_varlena(buf, 0, 1, 0)
    return _from_storage(raw, kind)


def _stripe_sections(fh, stripe) -> list[tuple]:
    """Parse ONE stripe's footer -> per PHYSICAL column (skip_start,
    skip_size, exists_start, values_start); the only stripe-footer
    parse. Section offsets come from the footer sizes alone, so a
    column's own sections are never read to find another's. The
    FILE's column count is its footer's — files written before an ADD
    COLUMN have fewer columns than the read schema and their missing
    tail reads as NULL, the reference's read repair
    (cstore_reader.c:698-728); extra physical columns (logical subset
    reads) are simply never touched."""
    offset, skip_len, data_len, footer_len = stripe
    fh.seek(offset + skip_len + data_len)
    sfooter = _parse(fh.read(footer_len))
    exists_sizes = sfooter.get(2, [])
    value_sizes = sfooter.get(3, [])
    out = []
    skip_at, data_at = offset, offset + skip_len
    for c, size in enumerate(sfooter.get(1, [])):
        out.append((skip_at, size, data_at, data_at + exists_sizes[c]))
        skip_at += size
        data_at += exists_sizes[c] + value_sizes[c]
    return out


def _skip_nodes(fh, section) -> list[dict]:
    """One column's skip list: a parsed node per block (1 rowCount,
    2/3 min/max, 4/5 value offset/length, 6 compression, 7/8 exists
    offset/length)."""
    fh.seek(section[0])
    return [_parse(b) for b in _parse(fh.read(section[1])).get(1, [])]


def _node_bounds(node: dict, typlen: int, kind: str):
    """(lo, hi) python values of a skip node; None when it carries no
    min/max (all-NULL blocks, kinds without an order)."""
    if 2 not in node or 3 not in node:
        return None
    return (deserialize_datum_raw(node[2][0], typlen, kind),
            deserialize_datum_raw(node[3][0], typlen, kind))


def _stripe_blocks(fh, stripe, types, positions, block_pred=None):
    """The block walk under both readers. ``positions[i]`` = the
    physical column backing field i, ``types[i]`` its type props.
    Parses the stripe footer once and the skip lists of the needed
    physical columns only (column 0's when no field is physical — the
    per-block rowCounts must come from somewhere). A block is skipped
    when ``block_pred(i, lo, hi)`` is False for any field with bounds.
    Yields ``(rowcount, [(exists_buf, value_buf) | None per field])``
    with pglz already undone; None marks a field past the file's
    width (read as NULL)."""
    sections = _stripe_sections(fh, stripe)
    n_file = len(sections)
    need = sorted({pc for pc in positions if pc < n_file}) or \
        [0][:n_file]
    nodes = {pc: _skip_nodes(fh, sections[pc]) for pc in need}

    def refuted(bi):
        for i, pc in enumerate(positions):
            if pc < n_file:
                b = _node_bounds(nodes[pc][bi], types[i][1], types[i][3])
                if b is not None and not block_pred(i, *b):
                    return True
        return False

    for bi, rc_node in enumerate(nodes[need[0]] if need else ()):
        if block_pred is not None and refuted(bi):
            continue
        bufs = []
        for pc in positions:
            if pc >= n_file:
                bufs.append(None)
                continue
            nd = nodes[pc][bi]
            _skip_at, _size, exists_at, values_at = sections[pc]
            fh.seek(exists_at + _iv(nd, 7, 0))
            ebuf = fh.read(_iv(nd, 8, 0))
            fh.seek(values_at + _iv(nd, 4, 0))
            vbuf = fh.read(_iv(nd, 5, 0))
            if _iv(nd, 6, 0) == 1:
                # [vl_len|compressed-flag][rawsize] + the pglz stream;
                # called through the module global so a wrapper
                # installed at run time sees every block
                hdr, rawsize = struct.unpack_from("<Ii", vbuf, 0)
                vbuf = pglz_decompress(vbuf[8:hdr >> 2], rawsize)
            bufs.append((ebuf, vbuf))
        yield _iv(rc_node, 1, 0), bufs


def read_stripe(fh, stripe, type_names: list[str],
                wanted: list[int] | None = None,
                block_pred=None):
    """Yield row tuples from one stripe — the per-datum decoder over
    :func:`_stripe_blocks`, and the read path for every storable kind.
    ``wanted`` = column indexes to decode (projection pushdown:
    unwanted columns' skip lists and buffers are never read).
    ``block_pred(col_idx, lo, hi) -> bool`` returns False to SKIP a
    block — the reference's skip-list pruning; skipped blocks yield no
    rows (callers must only prune on predicates that refute the whole
    block)."""
    types = [cstore_type_props(t) for t in type_names]
    if wanted is None:
        wanted = list(range(len(types)))
    sel = [types[c] for c in wanted]
    pred = None if block_pred is None else \
        (lambda i, lo, hi: block_pred(wanted[i], lo, hi))
    for rowcount, bufs in _stripe_blocks(fh, stripe, sel, wanted, pred):
        yield from zip(*[
            [None] * rowcount if b is None else deserialize_datums(
                b[1], _unbitmap(b[0], rowcount), typlen, align, kind)
            for b, (_bv, typlen, align, kind) in zip(bufs, sel)])


def read_cstore_file(path: str, type_names: list[str],
                     wanted: list[int] | None = None, block_pred=None):
    """Yield row tuples from a cstore data+footer pair."""
    _brc, stripes = read_footer(path)
    with open(path, "rb") as fh:
        for stripe in stripes:
            yield from read_stripe(fh, stripe, type_names, wanted,
                                   block_pred)


# ------------------------------------------------------ metadata helpers

def cstore_row_count(path: str) -> int:
    """Exact row count from metadata only — the footer's stripe list
    plus each stripe's FIRST column skip list (sum of per-block
    rowCounts); no value or exists bytes are read. The reference's
    CStoreTableRowCount does exactly this walk
    (cstore_reader.c:400-462)."""
    _brc, stripes = read_footer(path)
    total = 0
    with open(path, "rb") as fh:
        for stripe in stripes:
            sections = _stripe_sections(fh, stripe)
            if sections:
                total += sum(_iv(nd, 1, 0)
                             for nd in _skip_nodes(fh, sections[0]))
    return total


def cstore_column_count(path: str) -> int:
    """Number of physical columns, from the first stripe's footer (one
    skip-list size entry per column); 0 for an empty file."""
    _brc, stripes = read_footer(path)
    if not stripes:
        return 0
    with open(path, "rb") as fh:
        return len(_stripe_sections(fh, stripes[0]))


# -------------------------------------------------- vectorized Arrow path

_NP_DTYPE = {"b": "u1", "h": "<i2", "i": "<i4", "q": "<i8",
             "f": "<f4", "d": "<f8", "date": "<i4", "ts": "<i8"}


def _pa_type(kind: str):
    import pyarrow as pa
    if kind.startswith("num:"):
        _n, p, s = kind.split(":")
        return pa.decimal128(int(p), int(s))
    if kind.startswith("arr:"):
        return pa.list_(_pa_type(kind[4:]))
    return {"b": pa.bool_(), "h": pa.int16(), "i": pa.int32(),
            "q": pa.int64(), "f": pa.float32(), "d": pa.float64(),
            "date": pa.date32(), "ts": pa.timestamp("us"),
            "text": pa.string(), "bytea": pa.binary()}[kind]


def _decode_block_arrow(vbuf: bytes, ebuf: bytes, rowcount: int,
                        typlen: int, align: int, kind: str):
    """One block -> a pyarrow array. Fixed-width (by-value) columns
    decode as ONE numpy frombuffer + scatter — no per-datum Python (the
    datum stream is contiguous because every by-value type here has
    alignment == typlen, asserted); varlena text stays a per-datum walk
    (headers are variable width by design)."""
    import numpy as np
    import pyarrow as pa

    exists = np.unpackbits(np.frombuffer(ebuf, dtype=np.uint8),
                           bitorder="little")[:rowcount].astype(bool)
    if kind == "text":
        vals = deserialize_datums(vbuf, exists.tolist(), typlen, align,
                                  kind)
        return pa.array(vals, type=pa.string())
    if kind.startswith("arr:"):
        vals = deserialize_datums(vbuf, exists.tolist(), typlen, align,
                                  kind)
        return pa.array(vals, type=_pa_type(kind))
    if kind == "bytea":
        vals = deserialize_datums(vbuf, exists.tolist(), typlen, align,
                                  kind)
        return pa.array(vals, type=pa.binary())
    if kind.startswith("num:"):
        # varlena walk like text; a foreign datum whose dscale exceeds
        # the declared column scale would have to round — raise loudly
        # instead of returning a changed value
        _n, p, s = kind.split(":")
        q = Decimal(1).scaleb(-int(s))
        vals = deserialize_datums(vbuf, exists.tolist(), typlen, align,
                                  kind)
        out = []
        for v in vals:
            if v is None:
                out.append(None)
                continue
            qv = v.quantize(q)
            if qv != v:
                raise ValueError(
                    f"cstore numeric {v} does not fit declared scale "
                    f"{s} without rounding; declare decimal(p,{-v.as_tuple().exponent})")
            out.append(qv)
        return pa.array(out, type=pa.decimal128(int(p), int(s)))
    if kind not in _NP_DTYPE:
        # fixed-width on disk, but no Spark-expressible type (time/
        # tstz/money/interval/uuid/...): loud, like the varlena branch
        raise ValueError(
            f"arrow reader: fixed-width kind {kind!r} is not "
            "Spark-expressible; read via read_cstore_file instead")
    assert typlen == align  # contiguity precondition for frombuffer
    n_present = int(exists.sum())
    raw = np.frombuffer(vbuf, dtype=_NP_DTYPE[kind], count=n_present)
    out = np.zeros(rowcount, dtype=_NP_DTYPE[kind])
    out[exists] = raw
    mask = ~exists if n_present < rowcount else None
    if kind == "date":
        return pa.array(out + _PG_DATE_EPOCH_DAYS,
                        mask=mask).cast(pa.date32())
    if kind == "ts":
        return pa.array(out + _PG_TS_EPOCH_MICROS,
                        mask=mask).cast(pa.timestamp("us"))
    if kind == "b":
        return pa.array(out.astype(bool), mask=mask)
    return pa.array(out, mask=mask)


def read_stripe_batches(fh, stripe, type_names: list[str],
                        field_names: list[str], block_pred=None,
                        positions: list[int] | None = None):
    """Yield one RecordBatch per block (block_row_count rows — a natural
    Arrow batch) from one stripe: the vectorized decoder
    (:func:`_decode_block_arrow`) over :func:`_stripe_blocks`, for the
    Spark-expressible kinds. Schema columns beyond the file's own width
    null-pad.

    ``positions[i]`` = the PHYSICAL file column backing output field i
    — projection pushdown, the reference's signature A2 optimization
    (``ColumnList``, cstore_fdw.c:1841-1941; the reader loads only
    masked columns, cstore_reader.c:501-526). Default is the identity
    (field i reads physical column i). Unwanted physical columns cost
    only their stripe-footer SIZE entries: their skip lists are never
    parsed and their exists/value buffers never read.
    ``block_pred(field_idx, lo, hi)`` indexes OUTPUT fields (so pushed
    filters keep working under a pruned projection)."""
    import pyarrow as pa

    types = [cstore_type_props(t) for t in type_names]
    if positions is None:
        positions = list(range(len(types)))
    for rowcount, bufs in _stripe_blocks(fh, stripe, types, positions,
                                         block_pred):
        yield pa.RecordBatch.from_arrays([
            pa.nulls(rowcount, type=_pa_type(kind)) if b is None
            else _decode_block_arrow(b[1], b[0], rowcount, typlen, align,
                                     kind)
            for b, (_bv, typlen, align, kind) in zip(bufs, types)],
            names=field_names)


def cstore_file_minmax(path: str, type_names: list[str]):
    """Per-column ``(min, max)`` python values for a whole file, folded
    from the skip-list nodes ONLY (no exists/value bytes read) — the
    reference's per-block zone maps lifted to a per-file zone map, the
    same structure the catalog's merge/delete planner prunes with.
    Folds under the writer's bound order (:func:`_minmax_key`: NaN
    above every number). A column whose every block lacks min/max
    (all-NULL blocks) yields ``None``. Columns beyond the file's
    physical width are ``None``."""
    types = [cstore_type_props(t) for t in type_names]
    _brc, stripes = read_footer(path)
    folds: list = [None] * len(types)
    with open(path, "rb") as fh:
        for stripe in stripes:
            sections = _stripe_sections(fh, stripe)
            for c, (_bv, typlen, _al, kind) in enumerate(types):
                if c >= len(sections):
                    break
                key = _minmax_key(kind) or (lambda v: v)
                for nd in _skip_nodes(fh, sections[c]):
                    b = _node_bounds(nd, typlen, kind)
                    if b is None:
                        continue
                    if folds[c] is not None:
                        b = (min(folds[c][0], b[0], key=key),
                             max(folds[c][1], b[1], key=key))
                    folds[c] = b
    return folds
