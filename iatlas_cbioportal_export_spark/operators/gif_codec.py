"""Baseline GIF codec — pure stdlib, no codec libraries.

Real LZW (the GIF variant: variable code width, CLEAR/EOI codes, LSB-first
bit packing, 4096-entry dictionary cap) plus the GIF87a/89a container:
logical screen descriptor, global/local color tables, image descriptors,
graphic-control/application/comment extension skipping, and interlaced row
reordering. Like :mod:`.jpeg_codec`, this exists so the multimodal tier's
"image decode" is genuine in this container for one more ubiquitous format;
animation is exposed as frame COUNTING (the demux view) while pixel decode
returns the first frame — the training-data deduplication/feature path only
ever consumes stills.

Scale shape: all functions are per-payload kernels that run inside the Arrow
``mapInPandas`` stages of :mod:`.multimodal` — payload bytes never shuffle.
"""

from __future__ import annotations

_MAX_CODE = 4096  # GIF dictionary cap (12-bit codes)


# ---------------------------------------------------------------------------
# LZW (GIF variant)
# ---------------------------------------------------------------------------


class _BitWriter:
    """LSB-first bit packer (GIF appendix F)."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


class _BitReader:
    """LSB-first bit unpacker."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def read(self, width: int) -> int:
        while self.nbits < width:
            if self.pos >= len(self.data):
                raise ValueError("LZW stream truncated")
            self.acc |= self.data[self.pos] << self.nbits
            self.pos += 1
            self.nbits += 8
        code = self.acc & ((1 << width) - 1)
        self.acc >>= width
        self.nbits -= width
        return code


def lzw_compress(indices: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW compress: emits CLEAR, then codes with width growing
    as the dictionary fills, re-CLEARing at the 4096-entry cap."""
    clear = 1 << min_code_size
    eoi = clear + 1
    w = _BitWriter()

    def reset() -> tuple[dict, int, int]:
        return (
            {bytes([i]): i for i in range(clear)},
            clear + 2,
            min_code_size + 1,
        )

    table, next_code, width = reset()
    w.write(clear, width)
    prefix = b""
    for b in bytes(indices):
        candidate = prefix + bytes([b])
        if candidate in table:
            prefix = candidate
            continue
        w.write(table[prefix], width)
        if next_code < _MAX_CODE:
            table[candidate] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:
            w.write(clear, width)
            table, next_code, width = reset()
        prefix = bytes([b])
    if prefix:
        w.write(table[prefix], width)
    w.write(eoi, width)
    return w.flush()


def lzw_decompress(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-variant LZW decompress → exactly ``n_pixels`` palette indices
    (trailing garbage after EOI is ignored, as decoders must)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    r = _BitReader(data)
    out = bytearray()

    def reset() -> tuple[list[bytes], int]:
        return [bytes([i]) for i in range(clear)] + [b"", b""], min_code_size + 1

    table, width = reset()
    prev: bytes | None = None
    while len(out) < n_pixels:
        code = r.read(width)
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        if code < len(table) and (code < clear or table[code] or code >= clear + 2):
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the cScSc special case
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if prev is not None and len(table) < _MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) >= (1 << width) and width < 12:
                width += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("LZW stream ended before the raster was complete")
    return bytes(out[:n_pixels])


# ---------------------------------------------------------------------------
# container
# ---------------------------------------------------------------------------


def _interlace_rows(height: int) -> list[int]:
    """GIF interlace pass order → the file-order list of destination rows."""
    rows: list[int] = []
    for start, step in ((0, 8), (4, 8), (2, 4), (1, 2)):
        rows.extend(range(start, height, step))
    return rows


def gif_encode(
    width: int,
    height: int,
    indices: bytes,
    palette: list[tuple[int, int, int]],
    interlaced: bool = False,
) -> bytes:
    """Encode one indexed frame as GIF89a with a global color table.
    ``palette`` is padded to the next power of two (≥2, ≤256)."""
    if len(indices) != width * height:
        raise ValueError("indices length != width*height")
    if not 1 <= len(palette) <= 256:
        raise ValueError("palette must hold 1..256 colors")
    depth = 1
    while (1 << depth) < len(palette):
        depth += 1
    table = list(palette) + [(0, 0, 0)] * ((1 << depth) - len(palette))

    out = bytearray(b"GIF89a")
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0x80 | ((depth - 1) & 0x07) | (((depth - 1) & 0x07) << 4))
    out += b"\x00\x00"  # background index, aspect
    for r, g, b in table:
        out += bytes((r, g, b))
    # image descriptor
    out += b"\x2c" + (0).to_bytes(2, "little") * 2
    out += width.to_bytes(2, "little") + height.to_bytes(2, "little")
    out.append(0x40 if interlaced else 0x00)
    if interlaced:
        reordered = bytearray()
        for row in _interlace_rows(height):
            reordered += indices[row * width : (row + 1) * width]
        indices = bytes(reordered)
    min_code_size = max(2, depth)
    out.append(min_code_size)
    stream = lzw_compress(indices, min_code_size)
    for off in range(0, len(stream), 255):
        block = stream[off : off + 255]
        out.append(len(block))
        out += block
    out += b"\x00\x3b"  # block terminator + trailer
    return bytes(out)


def _read_color_table(payload: bytes, off: int, size: int):
    table = [
        (payload[off + 3 * i], payload[off + 3 * i + 1], payload[off + 3 * i + 2])
        for i in range(size)
    ]
    return table, off + 3 * size


def _skip_subblocks(payload: bytes, off: int) -> int:
    while payload[off]:
        off += 1 + payload[off]
    return off + 1


def gif_decode(payload: bytes):
    """Decode the FIRST frame of a GIF87a/89a stream → (width, height,
    rgb bytes). Walks extensions (graphic control / application / comment),
    honors local color tables and interlacing; animation frames beyond the
    first are counted by :func:`gif_parse_metadata`, not decoded here."""
    w, h, table, indices = _gif_parse_frame(payload)
    rgb = bytearray()
    for idx in indices:
        if idx >= len(table):
            raise ValueError(f"palette index {idx} out of range")
        rgb += bytes(table[idx])
    return w, h, bytes(rgb)


def _gif_parse_frame(payload: bytes):
    """First-frame parse → (width, height, color table, palette indices)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    off = 13
    global_table = None
    if flags & 0x80:
        global_table, off = _read_color_table(payload, off, 2 << (flags & 0x07))
    while off < len(payload):
        block = payload[off]
        if block == 0x21:  # extension
            off = _skip_subblocks(payload, off + 2)
        elif block == 0x2C:  # image descriptor
            w = int.from_bytes(payload[off + 5 : off + 7], "little")
            h = int.from_bytes(payload[off + 7 : off + 9], "little")
            iflags = payload[off + 9]
            off += 10
            table = global_table
            if iflags & 0x80:
                table, off = _read_color_table(payload, off, 2 << (iflags & 0x07))
            if table is None:
                raise ValueError("GIF frame has no color table")
            min_code_size = payload[off]
            off += 1
            stream = bytearray()
            while payload[off]:
                n = payload[off]
                stream += payload[off + 1 : off + 1 + n]
                off += 1 + n
            indices = lzw_decompress(bytes(stream), min_code_size, w * h)
            if iflags & 0x40:  # interlaced: undo the pass reordering
                rows = _interlace_rows(h)
                deinterlaced = bytearray(w * h)
                for src, dst in enumerate(rows):
                    deinterlaced[dst * w : (dst + 1) * w] = indices[
                        src * w : (src + 1) * w
                    ]
                indices = bytes(deinterlaced)
            return w, h, table, indices
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {off}")
    raise ValueError(f"GIF stream ({sw}x{sh} screen) has no image data")


def gif_parse_metadata(payload: bytes) -> dict:
    """GIF container metadata without pixel decode: screen dimensions,
    frame count (image descriptors), palette depth — the demux/audit view,
    shape-compatible with the other ``container_metadata`` parsers."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF stream")
    width = int.from_bytes(payload[6:8], "little")
    height = int.from_bytes(payload[8:10], "little")
    flags = payload[10]
    off = 13
    if flags & 0x80:
        off += 3 * (2 << (flags & 0x07))
    n_frames = 0
    while off < len(payload):
        block = payload[off]
        if block == 0x21:
            off = _skip_subblocks(payload, off + 2)
        elif block == 0x2C:
            n_frames += 1
            iflags = payload[off + 9]
            off += 10
            if iflags & 0x80:
                off += 3 * (2 << (iflags & 0x07))
            off += 1  # min code size
            off = _skip_subblocks(payload, off)
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x} at {off}")
    return {
        "container": "gif",
        "brand": payload[3:6].decode("ascii"),
        "duration_ms": None,
        "sample_rate": None,
        "n_tracks": (flags & 0x07) + 1,  # palette bit depth
        "n_frames": n_frames,
        "width": width,
        "height": height,
    }
