"""Baseline JPEG codec — pure stdlib + numpy, no codec libraries.

Closes the last image-decode gap the container can honestly support: the
reference pipeline treats media as opaque payloads, but a training-data
pipeline needs decode/resize hops, and until this round JPEG pixel decode
sat behind ``real_decode_stub``. Everything here follows the PUBLIC
ITU-T T.81 spec (baseline sequential DCT, Annex K example tables):

- :func:`jpeg_encode` — grayscale or RGB (4:4:4), IJG-style quality
  scaling of the
  Annex K quantization tables, Annex K Huffman tables, optional restart
  markers.
- :func:`jpeg_decode` — baseline sequential scans: DQT/DHT/SOF0/DRI/SOS
  marker parse, Huffman entropy decode with byte-unstuffing and RSTn
  handling, dequantize + 8x8 IDCT, generic sampling-factor MCU layout
  with replication upsampling (so 4:2:0 / 4:2:2 streams from other
  encoders decode too), YCbCr→RGB. Progressive (SOF2), arithmetic
  coding, 12-bit precision, and >4 components stay NotImplementedError —
  honest edges, not silent garbage.

Determinism contract (what the oracle-backed round-trip query pins):
every arithmetic choice the spec leaves open is fixed here — IEEE-double
DCT/IDCT via a constant basis matrix, ``floor(x+0.5)`` rounding, a
DC-only IDCT shortcut (``round(dc/8)``, the libjpeg fast path) — so a
solid 8x8 block encoded at quality 100 (all-ones quantization) decodes
back EXACTLY: DC = 8·(v-128) survives quantization and the shortcut
reproduces v. The driver query builds images from solid blocks and the
DuckDB oracle replays the pixels closed-form.

Scale: the codec runs inside Arrow ``mapInPandas`` stages
(:func:`~.multimodal.extract_features` / ``resize_images``) — payloads
never shuffle, each task decodes its own files; the per-image cost is
pure CPU and scales embarrassingly. numpy vectorizes the DCT and plane
math; the Huffman bit loop is per-coefficient Python, fine for the
thumbnail-scale images the tests drive and replaceable by a C codec on a
cluster image without touching the Spark plan.
"""

from __future__ import annotations

import struct

import numpy as np

__all__ = [
    "jpeg_encode",
    "jpeg_decode",
    "jpeg_feature_extractor",
]

# ---------------------------------------------------------------------------
# Public constants from ITU-T T.81 Annex K (example tables).
# ---------------------------------------------------------------------------

#: K.1 — luminance quantization table, natural (row-major) order.
_QUANT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int64,
)

#: K.2 — chrominance quantization table, natural order.
_QUANT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int64,
)

# K.3-K.6 Huffman specs: (BITS counts for lengths 1..16, HUFFVAL symbols).
_HUFF_DC_LUMA = (
    (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_HUFF_DC_CHROMA = (
    (0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0),
    tuple(range(12)),
)
_HUFF_AC_LUMA = (
    (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D),
    (
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)
_HUFF_AC_CHROMA = (
    (0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77),
    (
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ),
)

#: Zig-zag scan order (T.81 Figure 5): zigzag index -> natural index 0..63.
_ZIGZAG = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

#: 8x8 DCT-II basis matrix: A[u, x] = c(u)/2 · cos((2x+1)uπ/16);
#: forward F = A f Aᵀ, inverse f = Aᵀ F A.
_DCT_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _round_half_up(a: np.ndarray) -> np.ndarray:
    """floor(x + 0.5) — one fixed rounding rule for every float→int step
    (the spec leaves the rounding mode to the implementation; pinning it
    is what makes the codec replayable by the oracle)."""
    return np.floor(a + 0.5).astype(np.int64)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables: scale = 5000/q below 50
    else 200-2q; entries clamp to [1, 255]. quality=100 → all-ones tables
    (lossless quantization for exactly-representable coefficients)."""
    if not 1 <= quality <= 100:
        raise ValueError("quality must be in 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    out = []
    for base in (_QUANT_LUMA, _QUANT_CHROMA):
        q = (base * scale + 50) // 100
        out.append(np.clip(q, 1, 255))
    return out[0], out[1]


def _huff_codes(spec) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment (T.81 C.2): symbol → (code, length)."""
    bits, vals = spec
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _huff_decode_table(bits, vals) -> dict[tuple[int, int], int]:
    """(length, code) → symbol, same canonical assignment as the encoder."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _bit_length(v: int) -> int:
    return int(v).bit_length()


class _BitWriter:
    """MSB-first bit accumulator with JPEG byte stuffing (0xFF → 0xFF 00)."""

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def pad_to_byte(self) -> None:
        if self.nbits:
            self.write((1 << (8 - self.nbits)) - 1, 8 - self.nbits)


def _encode_block(
    writer: _BitWriter,
    coef_zz: np.ndarray,
    pred: int,
    dc_codes,
    ac_codes,
) -> int:
    """Huffman-encode one quantized block (zigzag order); returns new DC
    predictor. DC: category + offset bits (T.81 F.1.2.1); AC: (run,size)
    with ZRL for 16-zero runs and EOB (F.1.2.2)."""
    dc = int(coef_zz[0])
    diff = dc - pred
    ssss = _bit_length(abs(diff))
    code, length = dc_codes[ssss]
    writer.write(code, length)
    if ssss:
        bits = diff if diff > 0 else diff + (1 << ssss) - 1
        writer.write(bits, ssss)
    run = 0
    last_nz = 0
    for k in range(63, 0, -1):
        if coef_zz[k]:
            last_nz = k
            break
    for k in range(1, last_nz + 1):
        v = int(coef_zz[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = ac_codes[0xF0]  # ZRL
            writer.write(code, length)
            run -= 16
        ssss = _bit_length(abs(v))
        code, length = ac_codes[(run << 4) | ssss]
        writer.write(code, length)
        bits = v if v > 0 else v + (1 << ssss) - 1
        writer.write(bits, ssss)
        run = 0
    if last_nz != 63:
        code, length = ac_codes[0x00]  # EOB
        writer.write(code, length)
    return dc


def _plane_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) plane (H, W multiples of 8) → (n_blocks, 8, 8) in raster
    block order."""
    h, w = plane.shape
    return (
        plane.reshape(h // 8, 8, w // 8, 8)
        .transpose(0, 2, 1, 3)
        .reshape(-1, 8, 8)
    )


def jpeg_encode(
    pix: bytes,
    width: int,
    height: int,
    channels: int = 1,
    quality: int = 75,
    restart_interval: int = 0,
) -> bytes:
    """Baseline sequential JPEG encoder (T.81): grayscale (1 channel) or
    RGB (3 channels, YCbCr 4:4:4). Annex K quantization tables scaled by IJG
    ``quality`` (100 = all-ones, lossless for DC-exact content) and Annex K
    Huffman tables. ``restart_interval`` > 0 emits DRI + RSTn markers every
    that many MCUs (what a splittable-decode pipeline would use)."""
    if channels not in (1, 3):
        raise NotImplementedError("jpeg_encode supports 1 or 3 channels")
    if len(pix) != width * height * channels:
        raise ValueError(
            f"pixel buffer {len(pix)} != {width * height * channels}"
        )
    q_luma, q_chroma = _quality_tables(quality)
    img = np.frombuffer(pix, dtype=np.uint8).reshape(height, width, channels)

    if channels == 3:
        rgb = img.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        y = _round_half_up(0.299 * r + 0.587 * g + 0.114 * b)
        cb = _round_half_up(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b)
        cr = _round_half_up(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b)
        planes = [
            np.clip(p, 0, 255) for p in (y, cb, cr)
        ]
    else:
        planes = [img[..., 0].astype(np.int64)]

    # every component is sampled 1x1, so an MCU is one 8x8 block of each
    mcus_x = -(-width // 8)
    mcus_y = -(-height // 8)
    comp_planes = [
        np.pad(
            plane,
            ((0, mcus_y * 8 - height), (0, mcus_x * 8 - width)),
            mode="edge",
        ).astype(np.float64)
        - 128.0
        for plane in planes
    ]

    # forward DCT + quantize every block of every component up front
    zz = np.array(_ZIGZAG)
    comp_coefs: list[np.ndarray] = []
    for ci, plane in enumerate(comp_planes):
        q = q_luma if ci == 0 else q_chroma
        blocks = _plane_blocks(plane)  # (n, 8, 8)
        f = np.einsum("ux,nxy,vy->nuv", _DCT_A, blocks, _DCT_A)
        quant = _round_half_up(f / q.astype(np.float64))
        comp_coefs.append(quant.reshape(-1, 64)[:, zz])

    dc_luma = _huff_codes(_HUFF_DC_LUMA)
    ac_luma = _huff_codes(_HUFF_AC_LUMA)
    dc_chroma = _huff_codes(_HUFF_DC_CHROMA)
    ac_chroma = _huff_codes(_HUFF_AC_CHROMA)

    writer = _BitWriter()
    preds = [0] * channels
    mcu_index = 0
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and mcu_index and mcu_index % restart_interval == 0:
                writer.pad_to_byte()
                writer.buf += bytes((0xFF, 0xD0 + rst))
                rst = (rst + 1) % 8
                preds = [0] * channels
            for ci in range(channels):
                dc_c = dc_luma if ci == 0 else dc_chroma
                ac_c = ac_luma if ci == 0 else ac_chroma
                preds[ci] = _encode_block(
                    writer, comp_coefs[ci][my * mcus_x + mx], preds[ci],
                    dc_c, ac_c,
                )
            mcu_index += 1
    writer.pad_to_byte()

    # ---- marker segments -------------------------------------------------
    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")  # SOI
    out += seg(0xE0, b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(int(q_luma.flat[i]) for i in _ZIGZAG))
    if channels == 3:
        out += seg(
            0xDB, bytes([0x01]) + bytes(int(q_chroma.flat[i]) for i in _ZIGZAG)
        )
    sof = bytearray(struct.pack(">BHHB", 8, height, width, channels))
    for ci in range(channels):
        sof += bytes((ci + 1, 0x11, 0 if ci == 0 else 1))
    out += seg(0xC0, bytes(sof))
    for cls, tid, spec in (
        (0, 0, _HUFF_DC_LUMA),
        (1, 0, _HUFF_AC_LUMA),
        (0, 1, _HUFF_DC_CHROMA),
        (1, 1, _HUFF_AC_CHROMA),
    ):
        if tid == 1 and channels == 1:
            continue
        bits, vals = spec
        out += seg(0xC4, bytes([(cls << 4) | tid]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    sos = bytearray([channels])
    for ci in range(channels):
        tid = 0 if ci == 0 else 1
        sos += bytes((ci + 1, (tid << 4) | tid))
    sos += b"\x00\x3f\x00"
    out += seg(0xDA, bytes(sos))
    out += writer.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


class _BitReader:
    """MSB-first bit reader over entropy-coded data: un-stuffs 0xFF 00,
    stops at any other marker (exposed via :meth:`at_marker`)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def read_bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("jpeg scan data exhausted mid-block")
            b = self.data[self.pos]
            if b == 0xFF:
                nxt = self.data[self.pos + 1] if self.pos + 1 < len(self.data) else None
                if nxt == 0x00:
                    self.pos += 2
                else:
                    raise ValueError(
                        f"unexpected marker 0xFF{nxt:02X} inside entropy data"
                        if nxt is not None
                        else "jpeg scan truncated at 0xFF"
                    )
            else:
                self.pos += 1
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def sync_restart(self, expected: int) -> None:
        """Byte-align and consume the next RSTn marker (T.81 E.1.4)."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + expected
        ):
            raise ValueError(
                f"expected RST{expected} at offset {self.pos} in jpeg scan"
            )
        self.pos += 2


def _decode_huff(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid jpeg huffman code")


def _extend(v: int, ssss: int) -> int:
    """T.81 F.2.2.1 EXTEND: map ssss received bits to a signed value."""
    if ssss == 0:
        return 0
    return v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1


def _decode_block(
    reader: _BitReader, dc_table, ac_table, pred: int
) -> tuple[np.ndarray, int]:
    """Huffman-decode one block → (coefficients in NATURAL order, new DC
    predictor)."""
    coef = np.zeros(64, dtype=np.int64)
    ssss = _decode_huff(reader, dc_table)
    diff = _extend(reader.read_bits(ssss), ssss)
    dc = pred + diff
    coef[0] = dc
    k = 1
    while k < 64:
        rs = _decode_huff(reader, ac_table)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL: skip 16 zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("jpeg AC run past end of block")
        coef[k] = _extend(reader.read_bits(size), size)
        k += 1
    nat = np.zeros(64, dtype=np.int64)
    nat[list(_ZIGZAG)] = coef
    return nat.reshape(8, 8), dc


def jpeg_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """Baseline sequential JPEG decoder (T.81) → ``(channels, width,
    height, interleaved pixel bytes)``. Handles 8-bit DQT (both
    precisions), multiple DHTs, DRI/RSTn, arbitrary sampling factors with
    replication upsampling, and 1- or 3-component scans (YCbCr→RGB for 3).
    Progressive (SOF2), arithmetic coding (SOF9+), hierarchical, and
    12-bit precision raise NotImplementedError — honest edges."""
    if payload[:2] != b"\xff\xd8":
        raise NotImplementedError("not a JPEG byte stream (missing SOI)")
    quant: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None  # (height, width, comps) where comps = [(id, h, v, tq)]
    scan = None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected jpeg marker at offset {pos}")
        while pos + 4 <= len(payload) and payload[pos + 1] == 0xFF:
            pos += 1  # T.81 B.1.1.2 fill bytes
        marker = payload[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            break
        length = struct.unpack(">H", payload[pos + 2 : pos + 4])[0]
        body = payload[pos + 4 : pos + 2 + length]
        pos += 2 + length
        if marker == 0xDB:  # DQT: one or more tables, zigzag order
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq == 0:
                    vals = list(body[i : i + 64])
                    i += 64
                else:  # 16-bit entries
                    vals = [
                        struct.unpack(">H", body[i + 2 * k : i + 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    i += 128
                nat = np.zeros(64, dtype=np.int64)
                nat[list(_ZIGZAG)] = vals
                quant[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT: one or more tables
            i = 0
            while i < len(body):
                cls, tid = body[i] >> 4, body[i] & 0x0F
                bits = tuple(body[i + 1 : i + 17])
                n = sum(bits)
                vals = tuple(body[i + 17 : i + 17 + n])
                i += 17 + n
                table = _huff_decode_table(bits, vals)
                (huff_dc if cls == 0 else huff_ac)[tid] = table
        elif marker == 0xC0 or marker == 0xC1:  # baseline / extended seq
            precision = body[0]
            if precision != 8:
                raise NotImplementedError(
                    f"jpeg precision {precision} not supported"
                )
            height, width = struct.unpack(">HH", body[1:5])
            ncomp = body[5]
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"jpeg with {ncomp} components not supported"
                )
            comps = []
            for c in range(ncomp):
                cid, hv, tq = body[6 + 3 * c : 9 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            frame = (height, width, comps)
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7):
            raise NotImplementedError(
                "progressive/lossless/differential jpeg not supported"
            )
        elif 0xC9 <= marker <= 0xCB or 0xCD <= marker <= 0xCF:
            raise NotImplementedError("arithmetic-coded jpeg not supported")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", body[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows the segment
            ns = body[0]
            scan_comps = []
            for c in range(ns):
                cid, tables = body[1 + 2 * c : 3 + 2 * c]
                scan_comps.append((cid, tables >> 4, tables & 0x0F))
            scan = (scan_comps, pos)
            break
    if frame is None or scan is None:
        raise ValueError("jpeg stream missing SOF/SOS")
    height, width, comps = frame
    scan_comps, data_pos = scan
    if len(scan_comps) != len(comps):
        raise NotImplementedError("multi-scan jpeg not supported")

    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    by_id = {cid: (h, v, tq) for cid, h, v, tq in comps}
    planes = {}
    for cid, h, v, _tq in comps:
        planes[cid] = np.zeros((mcus_y * v * 8, mcus_x * h * 8), dtype=np.int64)

    reader = _BitReader(payload, data_pos)
    preds = {cid: 0 for cid, *_ in comps}
    rst = 0
    for mi in range(mcus_x * mcus_y):
        if restart_interval and mi and mi % restart_interval == 0:
            reader.sync_restart(rst)
            rst = (rst + 1) % 8
            preds = {cid: 0 for cid in preds}
        my, mx = divmod(mi, mcus_x)
        for cid, dc_id, ac_id in scan_comps:
            h, v, tq = by_id[cid]
            q = quant[tq].astype(np.float64)
            for by in range(v):
                for bx in range(h):
                    coef, preds[cid] = _decode_block(
                        reader, huff_dc[dc_id], huff_ac[ac_id], preds[cid]
                    )
                    deq = coef.astype(np.float64) * q
                    if not np.any(deq.flat[1:]):
                        # DC-only fast path (libjpeg's): exact round(dc/8)
                        blk = np.full(
                            (8, 8),
                            int(np.floor(deq[0, 0] / 8.0 + 0.5)),
                            dtype=np.int64,
                        )
                    else:
                        blk = _round_half_up(_DCT_A.T @ deq @ _DCT_A)
                    y0 = (my * v + by) * 8
                    x0 = (mx * h + bx) * 8
                    planes[cid][y0 : y0 + 8, x0 : x0 + 8] = blk

    # crop to per-component size, upsample by replication to full res
    full = []
    for cid, h, v, _tq in comps:
        ch = -(-height * v // vmax)
        cw = -(-width * h // hmax)
        p = planes[cid][:ch, :cw] + 128
        ys = (np.arange(height) * v) // vmax
        xs = (np.arange(width) * h) // hmax
        full.append(p[ys][:, xs])

    if len(full) == 1:
        out = np.clip(full[0], 0, 255).astype(np.uint8)
        return 1, width, height, out.tobytes()
    y, cb, cr = (f.astype(np.float64) for f in full)
    r = _round_half_up(y + 1.402 * (cr - 128.0))
    g = _round_half_up(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0))
    b = _round_half_up(y + 1.772 * (cb - 128.0))
    rgb = np.stack(
        [np.clip(c, 0, 255).astype(np.uint8) for c in (r, g, b)], axis=-1
    )
    return 3, width, height, rgb.tobytes()


def jpeg_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """REAL image decode for baseline JPEG — same feature shape as the
    netpbm/PNG extractors: [width, height, per-channel mean-intensity ppm]
    (``sum·1e6 // n`` integer-exact over the decoded pixels)."""
    channels, width, height, pix = jpeg_decode(payload)
    arr = np.frombuffer(pix, dtype=np.uint8).reshape(-1, channels)
    n = width * height
    return [
        float(width),
        float(height),
        *(
            float(int(arr[:, c].astype(np.int64).sum()) * 1_000_000 // n)
            for c in range(channels)
        ),
    ]
