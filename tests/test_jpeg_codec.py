"""Baseline JPEG codec (T.81, stdlib+numpy): exact solid-block
round-trips, lossy-path error bounds, subsampling, restart markers, and
the honest NotImplementedError edges."""

import os

import numpy as np
import pytest

from iatlas_cbioportal_export_spark.operators.jpeg_codec import (
    jpeg_decode,
    jpeg_encode,
    jpeg_feature_extractor,
)


def _solid_blocks(w, h, channels, block, fn):
    """Image whose `block`-sized tiles are solid with value fn(bx, by)."""
    return bytes(
        fn(x // block, y // block) % 256
        for y in range(h)
        for x in range(w)
        for _ in range(channels)
    )


def test_gray_solid_blocks_roundtrip_exact_q100():
    # quality 100 → all-ones quantization; a solid 8x8 block carries only
    # DC = 8·(v-128), which survives quantization, and the DC-only IDCT
    # shortcut reproduces v exactly.
    pix = _solid_blocks(24, 16, 1, 8, lambda bx, by: 13 * by + 5 * bx + 37)
    enc = jpeg_encode(pix, 24, 16, channels=1, quality=100)
    ch, w, h, dec = jpeg_decode(enc)
    assert (ch, w, h) == (1, 24, 16)
    assert dec == pix


def test_rgb444_gray_in_rgb_roundtrip_exact():
    # R=G=B blocks: YCbCr maps to (v, 128, 128) exactly after rounding,
    # chroma blocks quantize to all-zero, and the inverse transform
    # reproduces the gray value in all three channels.
    pix = _solid_blocks(16, 16, 3, 8, lambda bx, by: 7 * by + 11 * bx + 50)
    enc = jpeg_encode(pix, 16, 16, channels=3, quality=100)
    ch, w, h, dec = jpeg_decode(enc)
    assert (ch, w, h) == (3, 16, 16)
    assert dec == pix


def _golden_jpeg(name):
    """A checked-in 4:2:0 baseline JPEG (2x2 luma, 1x1 chroma sampling):
    the layout JPEGs from other encoders use, which the encoder here
    (4:4:4 only) never writes."""
    path = os.path.join(os.path.dirname(__file__), "golden", name)
    with open(path, "rb") as fh:
        return fh.read()


def test_rgb420_subsampled_roundtrip_exact_on_16px_blocks():
    # The fixture is these 16x16 solid tiles encoded 4:2:0 at quality 100:
    # chroma is constant per tile, so the 2x2-downsampled chroma replicates
    # back losslessly — exercises the generic sampling-factor MCU layout
    # end to end, exactly.
    pix = _solid_blocks(32, 32, 3, 16, lambda bx, by: 3 * by + 5 * bx + 90)
    ch, w, h, dec = jpeg_decode(_golden_jpeg("rgb420_solid16_32x32_q100.jpg"))
    assert (ch, w, h) == (3, 32, 32)
    assert dec == pix


@pytest.mark.parametrize("subsample", [False, True])
def test_lossy_roundtrip_bounded_error_odd_dims(subsample):
    # smooth-gradient content at q=90, odd (non-MCU-aligned) dimensions:
    # decode must crop the padding and stay within normal JPEG loss
    # (sharp 255→0 wrap edges would legitimately ring much harder).
    pix = bytes(
        min(255, i * 5 + j * 3 + c * 20)
        for i in range(13)
        for j in range(17)
        for c in range(3)
    )
    enc = (
        _golden_jpeg("rgb420_gradient_17x13_q90.jpg")
        if subsample
        else jpeg_encode(pix, 17, 13, channels=3, quality=90)
    )
    ch, w, h, dec = jpeg_decode(enc)
    assert (ch, w, h) == (3, 17, 13)
    a = np.frombuffer(pix, np.uint8).astype(int)
    b = np.frombuffer(dec, np.uint8).astype(int)
    assert abs(a - b).max() <= (24 if subsample else 16)


def test_restart_markers_roundtrip():
    pix = bytes((i * 37 + j * 11) % 256 for i in range(24) for j in range(17))
    enc = jpeg_encode(pix, 17, 24, channels=1, quality=100, restart_interval=2)
    assert b"\xff\xd0" in enc  # RST0 actually emitted
    ch, w, h, dec = jpeg_decode(enc)
    assert (ch, w, h) == (1, 17, 24)
    a = np.frombuffer(pix, np.uint8).astype(int)
    b = np.frombuffer(dec, np.uint8).astype(int)
    assert abs(a - b).max() <= 1  # q100 float/round loss only


def test_quality_monotone_and_size_tradeoff():
    pix = bytes((i * 31 + j * 7) % 256 for i in range(32) for j in range(32))
    enc95 = jpeg_encode(pix, 32, 32, channels=1, quality=95)
    enc20 = jpeg_encode(pix, 32, 32, channels=1, quality=20)
    assert len(enc20) < len(enc95)
    a = np.frombuffer(pix, np.uint8).astype(int)
    err95 = abs(
        a - np.frombuffer(jpeg_decode(enc95)[3], np.uint8).astype(int)
    ).max()
    err20 = abs(
        a - np.frombuffer(jpeg_decode(enc20)[3], np.uint8).astype(int)
    ).max()
    assert err95 <= err20


def test_feature_extractor():
    pix = _solid_blocks(16, 16, 1, 8, lambda bx, by: 100 + 20 * by + 8 * bx)
    enc = jpeg_encode(pix, 16, 16, channels=1, quality=100)
    w, h, mean = jpeg_feature_extractor(enc, "image/jpeg")
    assert (w, h) == (16.0, 16.0)
    assert mean == float(sum(pix) * 1_000_000 // 256)


def test_dispatchers_route_jpeg():
    from iatlas_cbioportal_export_spark.operators.multimodal import stdlib_decoder

    pix = _solid_blocks(16, 8, 1, 8, lambda bx, by: 64 + bx)
    enc = jpeg_encode(pix, 16, 8, channels=1, quality=100)
    feat = stdlib_decoder(enc, "image/jpeg")
    assert feat[:2] == [16.0, 8.0]


def test_honest_edges_raise():
    pix = bytes(64)
    enc = jpeg_encode(pix, 8, 8, channels=1, quality=100)
    # progressive SOF2: flip the SOF marker
    prog = enc.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(NotImplementedError, match="progressive"):
        jpeg_decode(prog)
    with pytest.raises(NotImplementedError, match="SOI"):
        jpeg_decode(b"\x89PNG")
    with pytest.raises(NotImplementedError, match="channels"):
        jpeg_encode(bytes(128), 8, 8, channels=2)
    with pytest.raises(ValueError, match="quality"):
        jpeg_encode(pix, 8, 8, channels=1, quality=0)
    # truncated scan: honest failure, not garbage pixels
    with pytest.raises(ValueError):
        jpeg_decode(enc[: len(enc) - 10])


def test_decoder_handles_16bit_dqt_and_fill_bytes():
    import struct

    pix = _solid_blocks(8, 8, 1, 8, lambda bx, by: 77)
    enc = bytearray(jpeg_encode(pix, 8, 8, channels=1, quality=100))
    # rewrite the DQT segment as 16-bit precision (Pq=1)
    i = enc.find(b"\xff\xdb")
    assert i >= 0
    old_body = bytes(enc[i + 4 : i + 4 + 65])  # PqTq + 64 bytes
    vals = old_body[1:]
    new_body = bytes([0x10]) + b"".join(
        struct.pack(">H", v) for v in vals
    )
    new_seg = b"\xff\xdb" + struct.pack(">H", len(new_body) + 2) + new_body
    enc2 = bytes(enc[:i]) + new_seg + bytes(enc[i + 4 + 65 :])
    # and pad a marker with a fill byte (T.81 B.1.1.2)
    enc2 = enc2.replace(b"\xff\xc0", b"\xff\xff\xc0", 1)
    ch, w, h, dec = jpeg_decode(enc2)
    assert (ch, w, h) == (1, 8, 8)
    assert dec == pix
