"""Byte pins for every media encoder: the sha256 of each writer's output
over fixed inputs. The digests were recorded before the PNG writers
shared one scanline filter and one container assembler, so a refactor
of the writers that changes a single output byte fails here, even
where the matching decoder would still round-trip it."""

from __future__ import annotations

import hashlib

import pytest


def _raster(n: int, a: int, b: int) -> bytes:
    return bytes((k * a + b) % 256 for k in range(n))


def _cases() -> dict:
    """name -> zero-argument callable returning the encoder's bytes."""
    from cstore_fdw_spark.operators import jpeg_codec as jc
    from cstore_fdw_spark.operators import multimodal as mm

    pal16 = [((i * 7 + 3) % 256, (i * 11 + 5) % 256, (i * 13 + 9) % 256)
             for i in range(16)]
    pal4 = [(10, 20, 30), (200, 100, 50), (0, 255, 7), (99, 1, 254)]
    cases = {}
    for f in range(5):
        cases[f"png_rgb_filter{f}"] = (
            lambda f=f: mm.png_encode_rgb(5, 4, _raster(60, 37, 11), f))
        cases[f"png_palette_filter{f}"] = (
            lambda f=f: mm.png_encode_palette(
                6, 3, bytes((k * 5 + 1) % 16 for k in range(18)), pal16, f))
    cases["png_interlaced"] = lambda: mm.png_encode_rgb_interlaced(
        9, 6, _raster(9 * 6 * 3, 29, 3))
    cases["png_gray16"] = lambda: mm.png_encode_gray16(
        7, 6, [(p * 4099 + 7) % 65536 for p in range(42)])
    cases["gif"] = lambda: mm.gif_encode(
        5, 3, bytes((p * 3 + 1) % 4 for p in range(15)), pal4)
    cases["bmp"] = lambda: mm.bmp_encode_rgb(3, 2, _raster(18, 19, 7))
    cases["qoi_rgb"] = lambda: mm.qoi_encode(
        8, 4, b"".join(bytes([(k // 4) * 7 % 256, (k // 4) * 5 % 256,
                              (k // 3) % 256]) for k in range(32)))
    cases["qoi_rgba"] = lambda: mm.qoi_encode(
        4, 3, _raster(48, 53, 17), channels=4)
    cases["y4m"] = lambda: mm.y4m_encode(
        4, 2, [(_raster(8, 13, f), bytes([f + 1] * 2), bytes([f + 2] * 2))
               for f in range(2)])
    pcm = [(k * 2311) % 65536 - 32768 for k in range(101)]
    cases["wav_pcm16"] = lambda: mm.wav_encode_pcm16(8000, pcm)
    cases["wav_ulaw"] = lambda: mm.wav_encode_ulaw(8000, pcm)
    cases["wav_ima_adpcm"] = lambda: mm.wav_encode_ima_adpcm(pcm[:57])
    cases["jpeg_gray_blocks"] = lambda: jc.jpeg_encode_gray_blocks(
        24, 16, lambda bx, by: (bx * 91 + by * 37 + 5) % 256)
    return cases


#: sha256 of each case's bytes, recorded before the writers were shared
PINS = {
    "bmp":
        "a76131136de9cdd664f1db4c823dfaf45a670e4984ac4b83eb29dbeb6f54395d",
    "gif":
        "d1c9bc827c07b7cb6e693c784f8e97f18c0087dd463b9e61e36c9619e76b0a3a",
    "jpeg_gray_blocks":
        "cf49955eea377a5f8aff3a0cb70434d8c3e321d8486e6b578907a5d700b83dc5",
    "png_gray16":
        "f2918f360cc5e6ba2e3230e29f546ebdaaf65d613b9c31c5de5133d4ae2a30a9",
    "png_interlaced":
        "cc9cd9f3592baf88a24ff1abd9adcd9b8c0f1b2842b289572524fed37521d742",
    "png_palette_filter0":
        "e6bc1e2c7dc2afdf15ee12044c2ad2d363b1644b95fbc4d0ce1b1f25b114bbf5",
    "png_palette_filter1":
        "85766662a817ed5f6dc04dc4150ef43cb6b392aab373478fddcf63245055ca15",
    "png_palette_filter2":
        "0d27293d96d729a359a781560bc88ee44f866a416e0b0b6b104918df90f5bedb",
    "png_palette_filter3":
        "a6ba992fb9053c9a8c39227832b7c2db7bdaa12c4b7b7ea41cb6eeeea6d78359",
    "png_palette_filter4":
        "cb64fc51858b96c4f82dc7fc80294176ed3046cc4eb0ab34f80a8382b14678e8",
    "png_rgb_filter0":
        "8e45a76e88647217789f21d1517ac72959f465b3f17aeef707d40a9e8d23306a",
    "png_rgb_filter1":
        "81f8a383786264eaa969dd55f7221949d92620ca020f1ce79b29fa14e8dac4e4",
    "png_rgb_filter2":
        "7e70f319a9b8bb9a1453c86c5d332699d3eb736938b959881773fbcbd19f23b3",
    "png_rgb_filter3":
        "1f90c2e9f3fb5e476348404e2935e98516273b3392c3b47eb13d997949845da1",
    "png_rgb_filter4":
        "7455a8a1943cfdd952c799dfc556d9cb657ae65ea0f55a05ccd07f31d687f511",
    "qoi_rgb":
        "095e1704b8071b91f2c3bd1d69a6332959995d8c9e9e807cf2d762e95f0430a8",
    "qoi_rgba":
        "b9e93d3180df6c274ad21d673a585ffe83c0e55f25a6c29350e7b54dec82d449",
    "wav_ima_adpcm":
        "d90bfe0e9dbd01e4d191e0aab6da2ba1443f4b64f1da3a5185ecc2c8b3eb90ea",
    "wav_pcm16":
        "0eb805139d67d2fa46c0da1f35e19bf72b593f9bdb2bb368b75921f06376742d",
    "wav_ulaw":
        "515b16028c89e1d139e03cf0136e74a6adcafd93c26c3305be2e58663f9ccfe3",
    "y4m":
        "5a3b831d0e63c8a405f234cb07b2d68572f58a9b08c2f11eec72705b87b23dad",
}


@pytest.mark.parametrize("name", sorted(PINS))
def test_media_encoder_bytes_pinned(name):
    assert hashlib.sha256(_cases()[name]()).hexdigest() == PINS[name]


def test_every_media_encoder_is_pinned():
    assert set(_cases()) == set(PINS)
