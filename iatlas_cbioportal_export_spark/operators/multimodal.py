"""Multimodal (image/audio/video) column plumbing (north star §7 ext).

Contract: media travel as opaque ``binary`` columns with a typed metadata
struct; decode / feature-extract / resize / frame-sample run as Arrow-batched
pandas stages over ``mapInPandas``. Formats this container can genuinely
decode are REAL here — PCM WAV (``wave``), binary netpbm (P5/P6), PNG
(``zlib`` inflate + scanline unfiltering incl. Paeth), and baseline JPEG
(Huffman + IDCT in :mod:`.jpeg_codec`); kernels that need codec
libraries NOT in this container (mp3/mp4 audio+video) are stubbed —
clearly marked — behind ``decoder=`` hooks with a deterministic fake; the
Spark-side plumbing (schema, partition sizing, UDF signatures, batch shapes)
is real and tested either way.

Scale notes: binary payloads dominate I/O — the operators never shuffle the
payload; derived features/metadata (small) are the only columns that move.
``spark.sql.files.maxPartitionBytes`` bounds scan partitions; Arrow batch
size bounds decode memory.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),  # image | audio | video
        StructField("mime_type", StringType()),
        StructField("payload", BinaryType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("modality", StringType()),
        StructField("n_bytes", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def real_decode_stub(payload: bytes, mime_type: str) -> object:
    """STUB: real decode requires codec libs (Pillow/librosa/av) not present
    in this container. Wire a real decoder here on a cluster image."""
    raise NotImplementedError(
        "media decode requires codec libraries not available in this environment; "
        "pass decoder=fake_feature_extractor for hermetic runs"
    )


def fake_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """Deterministic fake 'decode + feature-extract': an 8-lane feature
    derived from payload bytes. Keeps the full pipeline runnable/testable."""
    acc = [0] * 8
    for i, byte in enumerate(payload):
        acc[i % 8] = (acc[i % 8] * 31 + byte) % 1_000_003
    return [a / 1_000_003 for a in acc]


def attach_metadata(df: DataFrame) -> DataFrame:
    """Derive typed metadata (size) from the binary payload — JVM-side."""
    return df.withColumn("n_bytes", F.length(F.col("payload")).cast("long"))


def extract_features(
    media: DataFrame,
    extractor: Callable[[bytes, str], list[float]] = fake_feature_extractor,
) -> DataFrame:
    """Decode + feature-extract via ``mapInPandas`` (Arrow batches).

    The payload column is dropped from the OUTPUT schema — features and
    metadata continue downstream; bytes never shuffle.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            feats = [
                extractor(bytes(p), m)
                for p, m in zip(batch["payload"], batch["mime_type"])
            ]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    "modality": batch["modality"],
                    "n_bytes": [len(bytes(p)) for p in batch["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def sample_frames(video: DataFrame, every_n: int = 30) -> DataFrame:
    """Frame-sampling PLAN for video rows: expand (media_id, frame_index)
    pairs for every ``every_n``-th frame — pure JVM ``sequence``/``explode``;
    the actual frame decode plugs in as an :func:`extract_features` stage."""
    return video.select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.col("n_frames") - 1, F.lit(0)),
                F.lit(every_n),
            )
        ).alias("frame_index"),
    )


def ingest_binary_files(
    spark,
    path: str,
    pattern: str = "*",
) -> DataFrame:
    """Raw-file ingestion via Spark's ``binaryFile`` source — the first hop
    of any multimodal pipeline: a directory of opaque media files becomes
    (path, modificationTime, length, content) rows, one per file, read in
    parallel by the tasks that own each file split. Downstream: parse ids
    out of filenames, attach typed metadata, and hand ``content`` to the
    Arrow feature-extract path (:func:`extract_features`).

    Scale notes: binaryFile loads each file WHOLE into one row — it is the
    ingest format for object-store media dumps (one row per image/audio
    clip), not for huge containers; size file batches with
    ``spark.sql.files.maxPartitionBytes`` and convert to parquet with the
    payload as a binary column at the boundary (same economics as the XML
    reader). Zero-byte files produce NO row (source behavior) — presence
    checks belong to a directory listing, not this scan."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(path)
    )


def wav_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """REAL audio decode for PCM WAV — stdlib only (``wave`` + ``struct``),
    so unlike :func:`real_decode_stub` this runs in this container: parse
    the RIFF header, decode 8/16-bit mono PCM frames, and emit a
    8-bucket envelope of integer mean-abs-amplitude ppm per
    temporal bucket (``sum|s|·1e6 // n`` — integer-exact, so the value is
    reproducible by any engine that can see the samples). The compressed /
    container formats (mp3/ogg/mp4) still require codec libs and stay
    behind the stub."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch, width, n_frames = w.getnchannels(), w.getsampwidth(), w.getnframes()
        raw = w.readframes(n_frames)
    if n_ch != 1 or width not in (1, 2):
        raise NotImplementedError(
            f"wav_feature_extractor supports 8/16-bit mono PCM, got "
            f"channels={n_ch} sampwidth={width}"
        )
    if width == 2:
        samples = struct.unpack(f"<{n_frames}h", raw)
    else:  # 8-bit WAV is unsigned, centred at 128
        samples = [b - 128 for b in raw]
    n = len(samples)
    if n == 0:
        return [0.0] * 8
    per = max(1, n // 8)
    feats = []
    for b in range(8):
        chunk = samples[b * per : (b + 1) * per] if b < 7 else samples[7 * per :]
        if not chunk:
            feats.append(0.0)
            continue
        feats.append(float(sum(abs(s) for s in chunk) * 1_000_000 // len(chunk)))
    return feats


def _netpbm_parse(payload: bytes) -> tuple[int, int, int, int, bytes]:
    """Parse a binary netpbm header (P5/P6, comments allowed) →
    (channels, width, height, maxval, pixel bytes)."""
    if not payload.startswith((b"P5", b"P6")):
        raise NotImplementedError("netpbm decode handles P5/P6 only")
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i : i + 1].isspace():
            i += 1
        if payload[i : i + 1] == b"#":  # comment line
            while i < len(payload) and payload[i] != 0x0A:
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j : j + 1].isspace():
            j += 1
        fields.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    width, height, maxval = (int(f) for f in fields)
    if maxval > 255:
        raise NotImplementedError("16-bit netpbm not supported")
    channels = 3 if payload.startswith(b"P6") else 1
    pix = payload[i : i + width * height * channels]
    return channels, width, height, maxval, pix


def netpbm_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """REAL image decode for binary netpbm (P5 greyscale / P6 RGB) —
    stdlib-only header parse + raw pixel bytes. Feature: [width, height,
    per-channel mean-intensity ppm] (``sum·1e6 // n`` integer-exact).
    JPEG/PNG stay behind the stub (zlib/DCT codecs)."""
    channels, width, height, _maxval, pix = _netpbm_parse(payload)
    n = width * height
    means = []
    for c in range(channels):
        total = sum(pix[k] for k in range(c, len(pix), channels))
        means.append(float(total * 1_000_000 // n))
    return [float(width), float(height), *means]


def netpbm_resize(payload: bytes, out_w: int, out_h: int) -> bytes:
    """REAL image resize for binary netpbm — nearest-neighbour sampling
    (``src_x = x·W // out_w``, ``src_y = y·H // out_h``: pure integer
    arithmetic, so any engine can replay which source pixels survive),
    re-encoded as the same P5/P6 format. This is the standard
    thumbnail/downscale stage of an image-training pipeline, runnable here
    without codec libraries; interpolating resizes for jpeg/png belong to
    the stubbed codec path."""
    channels, width, height, maxval, pix = _netpbm_parse(payload)
    out = bytearray()
    for y in range(out_h):
        sy = y * height // out_h
        row = sy * width * channels
        for x in range(out_w):
            sx = x * width // out_w
            k = row + sx * channels
            out += pix[k : k + channels]
    magic = b"P6" if channels == 3 else b"P5"
    header = magic + b"\n%d %d\n%d\n" % (out_w, out_h, maxval)
    return bytes(header) + bytes(out)


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor (RFC 2083 §6.6): pick whichever of
    left/above/upper-left is closest to a+b-c, ties left→above→corner."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


#: Adam7 pass lattice: (x0, y0, dx, dy) per pass (RFC 2083 §2.6)
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(
    raw: bytes, pos: int, width: int, height: int, channels: int
) -> tuple[bytes, int]:
    """Undo PNG per-scanline filtering for one (sub-)image starting at
    ``pos`` in the inflated stream; returns (pixels, next pos). Shared by
    the sequential and Adam7 paths — each interlace pass is its own
    independently-filtered image."""
    stride = width * channels
    out = bytearray()
    prev = bytes(stride)
    for _y in range(height):
        ft = raw[pos]
        pos += 1
        row = bytearray(raw[pos : pos + stride])
        pos += stride
        if ft == 1:  # Sub
            for k in range(channels, stride):
                row[k] = (row[k] + row[k - channels]) & 0xFF
        elif ft == 2:  # Up
            for k in range(stride):
                row[k] = (row[k] + prev[k]) & 0xFF
        elif ft == 3:  # Average
            for k in range(stride):
                left = row[k - channels] if k >= channels else 0
                row[k] = (row[k] + (left + prev[k]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for k in range(stride):
                left = row[k - channels] if k >= channels else 0
                corner = prev[k - channels] if k >= channels else 0
                row[k] = (row[k] + _paeth(left, prev[k], corner)) & 0xFF
        elif ft != 0:
            raise NotImplementedError(f"png filter type {ft} not supported")
        out += row
        prev = bytes(row)
    return bytes(out), pos


def _png_parse(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL PNG decode — pure stdlib (``zlib`` inflate + scanline
    unfiltering, RFC 2083): parse the chunk stream (IHDR / PLTE? / IDAT+ /
    IEND), inflate the concatenated IDAT payload, and undo the per-scanline
    filter (None/Sub/Up/Average/Paeth) to recover raw pixels. Supports all
    five 8-bit color types — greyscale (0), truecolor (2), indexed (3, PLTE
    expansion with grey-palette collapse), grey+alpha (4), RGBA (6) — both
    sequential and Adam7-interlaced (seven independently-filtered passes
    scattered by lattice). 16-bit depth and tRNS transparency raise
    NotImplementedError. Returns ``(channels, width, height, pixel bytes)``."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise NotImplementedError("not a PNG byte stream")
    width = height = bitdepth = colortype = interlace = None
    plte = None
    idat = bytearray()
    i = 8
    while i + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[i : i + 4])
        tag = payload[i + 4 : i + 8]
        data = payload[i + 8 : i + 8 + length]
        i += 12 + length  # length + tag + data + crc
        if tag == b"IHDR":
            width, height, bitdepth, colortype, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif tag == b"PLTE":
            plte = data
        elif tag == b"tRNS":
            # palette transparency would add an alpha channel the indexed
            # expansion below doesn't produce — honest rejection
            raise NotImplementedError("png tRNS transparency not supported")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None:
        raise NotImplementedError("PNG stream has no IHDR chunk")
    if bitdepth != 8 or interlace not in (0, 1):
        raise NotImplementedError(
            f"png decode supports 8-bit only, got "
            f"bitdepth={bitdepth} interlace={interlace}"
        )
    # color type 3 (indexed): one palette index per pixel; unfilter at one
    # byte/pixel, expand through PLTE afterwards (r8 — palette PNGs are
    # the dominant icon/sprite form in real corpora)
    channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(colortype)
    if channels is None:
        raise NotImplementedError(f"png color type {colortype} not supported")
    if colortype == 3 and plte is None:
        raise ValueError("indexed png without a PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    if interlace == 0:
        expected = (width * channels + 1) * height
        if len(raw) != expected:
            raise NotImplementedError(
                f"png IDAT length {len(raw)} != expected {expected}"
            )
        out, _pos = _png_unfilter(raw, 0, width, height, channels)
    else:
        # Adam7 (r8): seven independently-filtered sub-images, scattered
        # into the full grid by each pass's (x0, y0, dx, dy) lattice;
        # empty passes contribute no bytes.
        out = bytearray(width * height * channels)
        pos = 0
        for x0, y0, dx, dy in _ADAM7_PASSES:
            wp = (width - x0 + dx - 1) // dx
            hp = (height - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            sub, pos = _png_unfilter(raw, pos, wp, hp, channels)
            for ry in range(hp):
                oy = y0 + ry * dy
                for rx in range(wp):
                    ox = x0 + rx * dx
                    s = (ry * wp + rx) * channels
                    d = (oy * width + ox) * channels
                    out[d : d + channels] = sub[s : s + channels]
        if pos != len(raw):
            raise NotImplementedError(
                f"png Adam7 IDAT length {len(raw)} != consumed {pos}"
            )
        out = bytes(out)
    if colortype == 3:
        # expand indices through the palette — grey palettes collapse to
        # one channel, color ones to RGB (the bmp_decode convention)
        triples = [plte[k : k + 3] for k in range(0, len(plte), 3)]
        grey = all(t[0] == t[1] == t[2] for t in triples)
        n_entries = len(triples)
        if max(out, default=0) >= n_entries:
            # explicit format error, not a bare IndexError (r9 ADVICE fix):
            # a palette index past the PLTE table means a corrupt stream
            raise ValueError(
                f"png palette index {max(out)} out of range for "
                f"{n_entries}-entry PLTE"
            )
        expanded = bytearray()
        for idx in out:
            t = triples[idx]
            expanded += t[:1] if grey else t
        return (1 if grey else 3), width, height, bytes(expanded)
    return channels, width, height, bytes(out)


def png_encode(
    pix: bytes,
    width: int,
    height: int,
    channels: int = 1,
    filters: "tuple[int, ...] | None" = None,
) -> bytes:
    """REAL PNG encode — stdlib only: per-scanline filtering (the inverse
    transforms of :func:`_png_parse`, so any filter type round-trips) +
    ``zlib`` deflate, wrapped in the IHDR/IDAT/IEND chunk stream with CRCs.
    ``filters`` cycles per scanline (default: all-None); encode+decode is
    byte-exact for every filter type, which is what the round-trip query
    pins."""
    import struct
    import zlib

    colortype = {1: 0, 2: 4, 3: 2, 4: 6}.get(channels)
    if colortype is None:
        raise NotImplementedError(f"png encode: {channels} channels unsupported")
    stride = width * channels
    if len(pix) != stride * height:
        raise ValueError(f"pixel buffer {len(pix)} != {stride * height}")
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = pix[y * stride : (y + 1) * stride]
        ft = filters[y % len(filters)] if filters else 0
        raw.append(ft)
        for k in range(stride):
            left = row[k - channels] if k >= channels else 0
            if ft == 0:
                v = row[k]
            elif ft == 1:
                v = (row[k] - left) & 0xFF
            elif ft == 2:
                v = (row[k] - prev[k]) & 0xFF
            elif ft == 3:
                v = (row[k] - (left + prev[k]) // 2) & 0xFF
            elif ft == 4:
                corner = prev[k - channels] if k >= channels else 0
                v = (row[k] - _paeth(left, prev[k], corner)) & 0xFF
            else:
                raise NotImplementedError(f"png filter type {ft}")
            raw.append(v)
        prev = row

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, colortype, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def png_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """REAL image decode for PNG — stdlib inflate + unfilter via
    :func:`_png_parse`. Feature shape matches the netpbm extractor:
    [width, height, per-channel mean-intensity ppm] (``sum·1e6 // n``
    integer-exact)."""
    channels, width, height, pix = _png_parse(payload)
    n = width * height
    means = []
    for c in range(channels):
        total = sum(pix[k] for k in range(c, len(pix), channels))
        means.append(float(total * 1_000_000 // n))
    return [float(width), float(height), *means]


def gif_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """REAL image decode for GIF — LZW + palette expansion via
    :mod:`.gif_codec`. Feature shape matches the other image extractors:
    [width, height, per-channel mean-intensity ppm over RGB]."""
    from .gif_codec import gif_decode

    width, height, rgb = gif_decode(payload)
    n = width * height
    means = [
        float(sum(rgb[k] for k in range(c, len(rgb), 3)) * 1_000_000 // n)
        for c in range(3)
    ]
    return [float(width), float(height), *means]


def stdlib_decoder(payload: bytes, mime_type: str) -> list[float]:
    """Dispatching REAL decoder for every format this container can decode
    without codec libraries — WAV audio, binary netpbm images, PNG (zlib
    inflate + unfilter), and baseline JPEG (Huffman + IDCT, see
    :mod:`.jpeg_codec`); compressed audio/video (mp3/mp4) still needs
    codec libraries and raises through :func:`real_decode_stub`, keeping
    the stub honest rather than faking those paths."""
    mt = (mime_type or "").lower()
    if mt in ("audio/wav", "audio/x-wav", "audio/wave"):
        return wav_feature_extractor(payload, mime_type)
    if mt in ("image/x-portable-graymap", "image/x-portable-pixmap"):
        return netpbm_feature_extractor(payload, mime_type)
    if mt == "image/png":
        return png_feature_extractor(payload, mime_type)
    if mt in ("image/jpeg", "image/jpg"):
        from .jpeg_codec import jpeg_feature_extractor

        return jpeg_feature_extractor(payload, mime_type)
    if mt == "image/gif":
        return gif_feature_extractor(payload, mime_type)
    if mt in ("image/bmp", "image/x-ms-bmp"):
        return bmp_feature_extractor(payload, mime_type)
    return real_decode_stub(payload, mime_type)  # type: ignore[return-value]


def resize_images(media: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Image resize as an Arrow ``mapInPandas`` stage: payload in → resized
    payload out, schema preserved — the standard thumbnail/normalize hop
    before feature extraction. The payload stays within the stage's tasks
    (narrow; nothing shuffles); the resize is the stdlib-real
    :func:`netpbm_resize`."""
    schema = media.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = batch.copy()
            out["payload"] = [
                netpbm_resize(bytes(p), out_w, out_h) for p in batch["payload"]
            ]
            yield out

    return media.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# Container / bitstream METADATA extraction (round 6).
#
# Audio/video DECODE for mp3/mp4 genuinely needs codec libraries absent
# from this container (MDCT synthesis, AVC) and stays behind
# real_decode_stub; JPEG pixel decode is REAL since round 7 (baseline
# Huffman + IDCT in .jpeg_codec). The container METADATA is plain big-endian
# struct parsing that stdlib handles completely — ISO-BMFF box walking
# (ISO/IEC 14496-12), MPEG audio frame headers (ISO/IEC 11172-3), and JPEG
# marker segments (ITU-T T.81 §B) — so a training-data pipeline can filter /
# bucket / audit media by dimensions, duration, and track layout WITHOUT
# decoding a single sample. These parsers are REAL for all six formats the
# repo carries (mp4/mp3/jpeg here; png/netpbm/wav reuse the decode parsers).
# ---------------------------------------------------------------------------

#: MPEG-1 Layer III bitrate table, kbit/s, index 1-14 (0=free, 15=bad) —
#: ISO/IEC 11172-3 Table B.2.
_MP3_BITRATES_V1L3 = (
    0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
)
#: MPEG-1 sampling rates, Hz, index 0-2 (3=reserved).
_MP3_RATES_V1 = (44100, 48000, 32000)


def _mp4_boxes(data: bytes, start: int, end: int):
    """Iterate ISO-BMFF boxes in ``data[start:end]`` → (type, body_start,
    box_end). Handles 64-bit ``size==1`` largesize and ``size==0``
    (to-end-of-file) per ISO/IEC 14496-12 §4.2."""
    off = start
    while off + 8 <= end:
        size = int.from_bytes(data[off : off + 4], "big")
        btype = data[off + 4 : off + 8]
        hdr = 8
        if size == 1:
            if off + 16 > end:
                raise ValueError("truncated largesize box header")
            size = int.from_bytes(data[off + 8 : off + 16], "big")
            hdr = 16
        elif size == 0:
            size = end - off
        if size < hdr or off + size > end:
            raise ValueError(f"bad mp4 box size {size} at offset {off}")
        yield btype, off + hdr, off + size
        off += size


def mp4_parse_metadata(payload: bytes) -> dict:
    """REAL MP4/ISO-BMFF metadata — pure stdlib box walk: ``ftyp`` major
    brand, ``moov``→``mvhd`` timescale+duration (version 0 and 1 layouts),
    and the ``trak`` count. Sample DECODE (AVC/AAC) stays stubbed; the
    container layer needs no codec."""
    brand = None
    timescale = duration = None
    n_tracks = 0
    seen_moov = False
    for btype, body, bend in _mp4_boxes(payload, 0, len(payload)):
        if btype == b"ftyp":
            brand = payload[body : body + 4].decode("ascii", "replace")
        elif btype == b"moov":
            seen_moov = True
            for ityp, ibody, _iend in _mp4_boxes(payload, body, bend):
                if ityp == b"mvhd":
                    version = payload[ibody]
                    if version == 1:  # 64-bit times: 8+8 creation/modif
                        timescale = int.from_bytes(
                            payload[ibody + 20 : ibody + 24], "big"
                        )
                        duration = int.from_bytes(
                            payload[ibody + 24 : ibody + 32], "big"
                        )
                    else:  # version 0: 4+4 creation/modification
                        timescale = int.from_bytes(
                            payload[ibody + 12 : ibody + 16], "big"
                        )
                        duration = int.from_bytes(
                            payload[ibody + 16 : ibody + 20], "big"
                        )
                elif ityp == b"trak":
                    n_tracks += 1
    if not seen_moov:
        raise ValueError("mp4 stream has no moov box")
    duration_ms = (
        duration * 1000 // timescale if timescale else None
    )
    return {
        "container": "mp4",
        "brand": brand,
        "duration_ms": duration_ms,
        "sample_rate": timescale,
        "n_tracks": n_tracks,
        "n_frames": None,
        "width": None,
        "height": None,
    }


def mp3_parse_metadata(payload: bytes) -> dict:
    """REAL MP3 bitstream metadata — stdlib frame-header walk: skip an
    ID3v2 tag (syncsafe size), then parse each MPEG-1 Layer III header
    (sync / bitrate index / sampling index / padding), step whole frames
    (``144·bitrate//rate + padding``), and count them. Duration is
    integer-exact: ``n_frames·1152·1000 // sample_rate`` (1152
    samples/frame for Layer III). MDCT audio decode stays stubbed."""
    off = 0
    if payload[:3] == b"ID3":  # ID3v2 header: 10 bytes, syncsafe 28-bit size
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        off = 10 + size
        if payload[5] & 0x10:  # footer flag: tag occupies 10 more bytes
            off += 10
    n_frames = 0
    bitrate_kbps = sample_rate = None
    while off + 4 <= len(payload):
        b0, b1, b2, _b3 = payload[off : off + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break  # lost sync — stop at trailing garbage/tag
        version = (b1 >> 3) & 0x3
        layer = (b1 >> 1) & 0x3
        if version != 3 or layer != 1:  # MPEG-1 (11) Layer III (01) only
            raise NotImplementedError(
                "mp3_parse_metadata handles MPEG-1 Layer III frames only"
            )
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("free-format/reserved mp3 header")
        bitrate_kbps = _MP3_BITRATES_V1L3[br_idx]
        sample_rate = _MP3_RATES_V1[sr_idx]
        frame_len = 144 * bitrate_kbps * 1000 // sample_rate + padding
        off += frame_len
        n_frames += 1
    if n_frames == 0:
        raise ValueError("no mp3 frames found")
    duration_ms = n_frames * 1152 * 1000 // sample_rate
    return {
        "container": "mp3",
        "brand": None,
        "duration_ms": duration_ms,
        "sample_rate": sample_rate,
        "n_tracks": 1,
        "n_frames": n_frames,
        "width": None,
        "height": None,
    }


#: JPEG start-of-frame markers that carry dimensions (T.81 §B.2.2): baseline
#: C0, extended C1, progressive C2, lossless C3, and the differential /
#: arithmetic variants — everything in C0-CF except DHT(C4)/DAC(CC)/JPG(C8).
_JPEG_SOF_MARKERS = frozenset(
    range(0xC0, 0xD0)
) - {0xC4, 0xC8, 0xCC}


def jpeg_parse_metadata(payload: bytes) -> dict:
    """REAL JPEG metadata — stdlib marker-segment walk (ITU-T T.81 §B):
    verify SOI, step length-prefixed segments, and read dimensions +
    component count from the first SOF marker WITHOUT entropy-decoding
    (full pixel decode lives in :mod:`.jpeg_codec`); works on progressive
    streams the baseline decoder honestly rejects."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG byte stream (missing SOI)")
    off = 2
    while off + 4 <= len(payload):
        if payload[off] != 0xFF:
            raise ValueError(f"expected jpeg marker at offset {off}")
        # T.81 §B.1.1.2: any number of 0xFF fill bytes may pad a marker —
        # skip them so the marker byte is never itself read as 0xFF.
        while off + 4 <= len(payload) and payload[off + 1] == 0xFF:
            off += 1
        marker = payload[off + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            off += 2  # standalone markers carry no length
            continue
        if marker == 0xD9:  # EOI
            break
        seg_len = int.from_bytes(payload[off + 2 : off + 4], "big")
        if marker in _JPEG_SOF_MARKERS:
            height = int.from_bytes(payload[off + 5 : off + 7], "big")
            width = int.from_bytes(payload[off + 7 : off + 9], "big")
            n_components = payload[off + 9]
            return {
                "container": "jpeg",
                "brand": "progressive" if marker == 0xC2 else "baseline",
                "duration_ms": None,
                "sample_rate": None,
                "n_tracks": n_components,
                "n_frames": None,
                "width": width,
                "height": height,
            }
        if marker == 0xDA:  # SOS — entropy data follows; no SOF seen
            break
        off += 2 + seg_len
    raise ValueError("jpeg stream has no SOF marker")


def mp4_encode(timescale: int, duration: int, n_tracks: int = 1) -> bytes:
    """Build a minimal VALID ISO-BMFF stream — ``ftyp`` + ``moov`` holding
    an mvhd (version 0) and ``n_tracks`` skeletal ``trak`` boxes — for
    metadata round-trip tests. Every byte follows ISO/IEC 14496-12 box
    framing, so any conformant demuxer reads the same values back."""

    def box(btype: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + btype + body

    ftyp = box(b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom")
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + (0).to_bytes(4, "big")  # creation_time
        + (0).to_bytes(4, "big")  # modification_time
        + timescale.to_bytes(4, "big")
        + duration.to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")  # rate 1.0
        + (0x0100).to_bytes(2, "big")  # volume 1.0
        + bytes(10)  # reserved
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )  # unity matrix
        + bytes(24)  # pre_defined
        + (n_tracks + 1).to_bytes(4, "big")  # next_track_ID
    )
    traks = b"".join(
        box(b"trak", box(b"tkhd", b"\x00\x00\x00\x07" + bytes(80)))
        for _ in range(n_tracks)
    )
    moov = box(b"moov", box(b"mvhd", mvhd_body) + traks)
    return ftyp + moov


def mp3_encode(
    n_frames: int,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    id3_payload: bytes = b"",
) -> bytes:
    """Build a VALID MPEG-1 Layer III bitstream of ``n_frames`` silent
    frames (correct sync/bitrate/rate headers, zero main data), optionally
    prefixed with an ID3v2 tag whose syncsafe size the parser must skip."""
    br_idx = _MP3_BITRATES_V1L3.index(bitrate_kbps)
    sr_idx = _MP3_RATES_V1.index(sample_rate)
    out = bytearray()
    if id3_payload:
        size = len(id3_payload)
        syncsafe = bytes(
            (size >> shift) & 0x7F for shift in (21, 14, 7, 0)
        )
        out += b"ID3\x04\x00\x00" + syncsafe + id3_payload
    frame_len = 144 * bitrate_kbps * 1000 // sample_rate  # padding bit 0
    header = bytes(
        [0xFF, 0xFB, (br_idx << 4) | (sr_idx << 2), 0xC0]  # mono
    )
    for _ in range(n_frames):
        out += header + bytes(frame_len - 4)
    return bytes(out)


def jpeg_encode_headers(width: int, height: int, n_components: int = 3) -> bytes:
    """Build a structurally VALID baseline JPEG marker stream (SOI /
    APP0-JFIF / DQT / SOF0 / SOS / EOI) carrying real dimensions. The entropy-coded
    scan body is empty — dimension/component metadata is what the marker
    layer defines, and is all :func:`jpeg_parse_metadata` reads; producing
    decodable pixel data would need the stubbed codec."""
    app0 = b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\x00" + bytes(range(1, 65))  # table 0, 64 8-bit entries
    comps = b"".join(
        bytes([cid + 1, 0x11, 0]) for cid in range(n_components)
    )
    sof = (
        b"\x08"  # precision
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + bytes([n_components])
        + comps
    )
    sos = bytes([n_components]) + b"".join(
        bytes([cid + 1, 0]) for cid in range(n_components)
    ) + b"\x00\x3f\x00"

    def seg(marker: bytes, body: bytes) -> bytes:
        return marker + (len(body) + 2).to_bytes(2, "big") + body

    return (
        b"\xff\xd8"
        + seg(b"\xff\xe0", app0)
        + seg(b"\xff\xdb", dqt)
        + seg(b"\xff\xc0", sof)
        + seg(b"\xff\xda", sos)
        + b"\xff\xd9"
    )


def container_metadata(payload: bytes) -> dict:
    """Unified REAL metadata extractor — dispatch on magic bytes across all
    six media formats the repo carries. Returns one flat dict (container,
    brand, width, height, duration_ms, sample_rate, n_tracks, n_frames;
    inapplicable fields None). Image formats report dimensions without
    decoding pixels; WAV reports frames/rate from the RIFF header; mp4/mp3/
    jpeg use the stdlib bitstream parsers above. Unknown magic raises
    through :func:`real_decode_stub` (honest — no guessing)."""
    if payload[:2] == b"\xff\xd8":
        return jpeg_parse_metadata(payload)
    if payload[:3] == b"ID3" or (
        len(payload) >= 2 and payload[0] == 0xFF and (payload[1] & 0xE0) == 0xE0
    ):
        return mp3_parse_metadata(payload)
    if payload[4:8] == b"ftyp":
        return mp4_parse_metadata(payload)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        channels, width, height, _pix = _png_parse(payload)
        return {
            "container": "png", "brand": None, "duration_ms": None,
            "sample_rate": None, "n_tracks": channels, "n_frames": None,
            "width": width, "height": height,
        }
    if payload[:2] in (b"P5", b"P6"):
        channels, width, height, _maxval, _pix = _netpbm_parse(payload)
        return {
            "container": "netpbm", "brand": None, "duration_ms": None,
            "sample_rate": None, "n_tracks": channels, "n_frames": None,
            "width": width, "height": height,
        }
    if payload[:4] == b"GIF8":
        from .gif_codec import gif_parse_metadata

        return gif_parse_metadata(payload)
    if payload[:2] == b"BM":
        channels, width, height, _pix = bmp_decode(payload)
        return {
            "container": "bmp", "brand": None, "duration_ms": None,
            "sample_rate": None, "n_tracks": channels, "n_frames": None,
            "width": width, "height": height,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(payload), "rb") as w:
            rate, n_frames, n_ch = (
                w.getframerate(), w.getnframes(), w.getnchannels()
            )
        return {
            "container": "wav", "brand": None,
            "duration_ms": n_frames * 1000 // rate, "sample_rate": rate,
            "n_tracks": n_ch, "n_frames": n_frames,
            "width": None, "height": None,
        }
    return real_decode_stub(payload, "unknown")  # type: ignore[return-value]


CONTAINER_METADATA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("container", StringType()),
        StructField("brand", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_tracks", LongType()),
        StructField("n_frames", LongType()),
    ]
)


def extract_container_metadata(media: DataFrame) -> DataFrame:
    """Container-metadata extraction as an Arrow ``mapInPandas`` stage:
    binary payload in → typed metadata row out (payload dropped from the
    output schema — bytes never shuffle). This is the audit/filter hop a
    media training pipeline runs BEFORE any decode: bucket by dimensions,
    gate on duration, count tracks — all from headers."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            metas = [container_metadata(bytes(p)) for p in batch["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": batch["media_id"],
                    **{
                        field: [m[field] for m in metas]
                        for field in (
                            "container", "brand", "width", "height",
                            "duration_ms", "sample_rate", "n_tracks",
                            "n_frames",
                        )
                    },
                }
            )

    return media.mapInPandas(run, schema=CONTAINER_METADATA_SCHEMA)


# ---------------------------------------------------------------------------
# MP4 sample table: the demux layer under frame sampling (ISO/IEC 14496-12)
# ---------------------------------------------------------------------------


def _mp4_box(btype: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + btype + body


def _mp4_full(btype: bytes, body: bytes, version: int = 0) -> bytes:
    return _mp4_box(btype, bytes([version, 0, 0, 0]) + body)


def _rle(values: list[int]) -> list[tuple[int, int]]:
    """Run-length compress → [(count, value)] preserving order."""
    runs: list[tuple[int, int]] = []
    for v in values:
        if runs and runs[-1][1] == v:
            runs[-1] = (runs[-1][0] + 1, v)
        else:
            runs.append((1, v))
    return runs


_MP4_TIMESCALE = 90000  # media-header ticks per second


def mp4_encode_track(
    sample_sizes: list[int],
    sample_deltas: list[int],
    sync_every: int = 0,
    samples_per_chunk: list[int] | None = None,
) -> bytes:
    """Build a VALID single-track ISO-BMFF stream whose sample table is
    fully populated — ``ftyp`` + ``mdat`` (mdat-FIRST layout, the
    non-faststart file shape, so the first media byte lands at a fixed
    offset) + ``moov`` with a complete ``stbl``: run-length-compressed
    ``stts``, compressed ``stsc`` chunk map, per-sample ``stsz``, ``stco``
    chunk offsets into the mdat, and an ``stss`` sync table when
    ``sync_every`` > 0 (sample 1, 1+k, … are keyframes). Sample BYTES are a
    deterministic per-sample fill — the demux layer never inspects them.

    ``samples_per_chunk`` partitions the samples into chunks (default: one
    chunk holding everything); sizes must sum to ``len(sample_sizes)``.
    The track is track 1."""
    n = len(sample_sizes)
    if len(sample_deltas) != n:
        raise ValueError("sample_sizes and sample_deltas length mismatch")
    if samples_per_chunk is None:
        samples_per_chunk = [n]
    if sum(samples_per_chunk) != n or any(c <= 0 for c in samples_per_chunk):
        raise ValueError("samples_per_chunk must partition the sample list")

    ftyp = _mp4_box(
        b"ftyp", b"isom" + (0).to_bytes(4, "big") + b"isom"
    )
    mdat_body = b"".join(
        bytes([i % 256]) * size for i, size in enumerate(sample_sizes)
    )
    mdat = _mp4_box(b"mdat", mdat_body)

    # chunk offsets: chunks are laid out contiguously in mdat order
    base = len(ftyp) + 8
    chunk_offsets: list[int] = []
    consumed = 0
    for spc in samples_per_chunk:
        chunk_offsets.append(base + sum(sample_sizes[:consumed]))
        consumed += spc

    stts_runs = _rle(sample_deltas)
    stts = _mp4_full(
        b"stts",
        len(stts_runs).to_bytes(4, "big")
        + b"".join(
            c.to_bytes(4, "big") + d.to_bytes(4, "big") for c, d in stts_runs
        ),
    )
    # stsc compression: emit an entry only when samples_per_chunk changes
    stsc_entries: list[tuple[int, int]] = []
    for idx, spc in enumerate(samples_per_chunk, start=1):
        if not stsc_entries or stsc_entries[-1][1] != spc:
            stsc_entries.append((idx, spc))
    stsc = _mp4_full(
        b"stsc",
        len(stsc_entries).to_bytes(4, "big")
        + b"".join(
            fc.to_bytes(4, "big") + spc.to_bytes(4, "big") + (1).to_bytes(4, "big")
            for fc, spc in stsc_entries
        ),
    )
    stsz = _mp4_full(
        b"stsz",
        (0).to_bytes(4, "big")  # sample_size 0 → per-sample table
        + n.to_bytes(4, "big")
        + b"".join(s.to_bytes(4, "big") for s in sample_sizes),
    )
    stco = _mp4_full(
        b"stco",
        len(chunk_offsets).to_bytes(4, "big")
        + b"".join(o.to_bytes(4, "big") for o in chunk_offsets),
    )
    stss = b""
    if sync_every > 0:
        syncs = list(range(1, n + 1, sync_every))
        stss = _mp4_full(
            b"stss",
            len(syncs).to_bytes(4, "big")
            + b"".join(s.to_bytes(4, "big") for s in syncs),
        )
    stsd = _mp4_full(
        b"stsd", (1).to_bytes(4, "big") + _mp4_box(b"fake", bytes(8))
    )
    stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco + stss)
    minf = _mp4_box(b"minf", stbl)
    mdhd = _mp4_full(
        b"mdhd",
        (0).to_bytes(4, "big") * 2  # creation/modification
        + _MP4_TIMESCALE.to_bytes(4, "big")
        + sum(sample_deltas).to_bytes(4, "big")
        + (0x55C4).to_bytes(2, "big")  # language 'und'
        + (0).to_bytes(2, "big"),
    )
    hdlr = _mp4_full(
        b"hdlr", (0).to_bytes(4, "big") + b"vide" + bytes(12) + b"\x00"
    )
    mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
    tkhd = _mp4_full(
        b"tkhd",
        (0).to_bytes(4, "big") * 2
        + (1).to_bytes(4, "big")  # track_ID
        + bytes(72),
    )
    mvhd_body = (
        (0).to_bytes(4, "big") * 2
        + _MP4_TIMESCALE.to_bytes(4, "big")
        + sum(sample_deltas).to_bytes(4, "big")
        + (0x00010000).to_bytes(4, "big")
        + (0x0100).to_bytes(2, "big")
        + bytes(10)
        + b"".join(
            v.to_bytes(4, "big")
            for v in (0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000)
        )
        + bytes(24)
        + (2).to_bytes(4, "big")  # next_track_ID
    )
    moov = _mp4_box(b"moov", _mp4_full(b"mvhd", mvhd_body) + _mp4_box(b"trak", tkhd + mdia))
    return ftyp + mdat + moov


def _mp4_find(payload: bytes, start: int, end: int, *path: bytes):
    """Yield (body_start, body_end) of every box matching the nested
    ``path`` of box types under payload[start:end]."""
    head, rest = path[0], path[1:]
    for btype, body, bend in _mp4_boxes(payload, start, end):
        if btype != head:
            continue
        if not rest:
            yield body, bend
        else:
            yield from _mp4_find(payload, body, bend, *rest)


def mp4_sample_table(payload: bytes) -> list[dict]:
    """REAL ISO-BMFF demux — expand each track's ``stbl`` into one row per
    sample: ``(track_id, sample_idx, chunk_idx, offset, size, dts,
    duration, is_sync)`` with 0-based indices, byte offsets into the file,
    and decode timestamps in mdhd-timescale ticks. This is the layer a
    video training pipeline needs for FRAME SAMPLING: keyframe selection
    (``is_sync``), every-Nth decimation, and byte-range reads of chosen
    samples — all WITHOUT touching a codec. Handles run-length ``stts``,
    compressed ``stsc`` chunk maps, uniform and per-sample ``stsz``,
    ``stco``/``co64`` offsets, and an optional ``stss`` (absent → every
    sample is a sync sample, per 14496-12 §8.6.2)."""
    rows: list[dict] = []
    moovs = list(_mp4_find(payload, 0, len(payload), b"moov"))
    if not moovs:
        raise ValueError("mp4 stream has no moov box")
    for mbody, mend in moovs:
        for tbody, tend in _mp4_find(payload, mbody, mend, b"trak"):
            track_id = None
            for hb, _he in _mp4_find(payload, tbody, tend, b"tkhd"):
                track_id = int.from_bytes(payload[hb + 12 : hb + 16], "big")
                if payload[hb] == 1:  # version 1: 64-bit times shift id
                    track_id = int.from_bytes(payload[hb + 20 : hb + 24], "big")
            tables: dict[bytes, tuple[int, int]] = {}
            for sb, se in _mp4_find(
                payload, tbody, tend, b"mdia", b"minf", b"stbl"
            ):
                for btype, body, bend in _mp4_boxes(payload, sb, se):
                    tables[btype] = (body, bend)
            if b"stsz" not in tables or b"stco" not in tables and b"co64" not in tables:
                continue  # hint/empty track without a usable sample table

            def _u32(off: int) -> int:
                return int.from_bytes(payload[off : off + 4], "big")

            # sizes
            body, _ = tables[b"stsz"]
            uniform, count = _u32(body + 4), _u32(body + 8)
            if uniform:
                sizes = [uniform] * count
            else:
                sizes = [_u32(body + 12 + 4 * i) for i in range(count)]
            # durations (stts runs → per-sample deltas → dts prefix sums);
            # a malformed track without stts degrades to zero durations
            # rather than raising mid-batch
            deltas: list[int] = []
            if b"stts" in tables:
                body, _ = tables[b"stts"]
                for e in range(_u32(body + 4)):
                    c, d = _u32(body + 8 + 8 * e), _u32(body + 12 + 8 * e)
                    deltas.extend([d] * c)
            # chunk offsets
            if b"stco" in tables:
                body, _ = tables[b"stco"]
                offsets = [_u32(body + 8 + 4 * i) for i in range(_u32(body + 4))]
            else:
                body, _ = tables[b"co64"]
                offsets = [
                    int.from_bytes(payload[body + 8 + 8 * i : body + 16 + 8 * i], "big")
                    for i in range(_u32(body + 4))
                ]
            # stsc chunk map: (first_chunk, samples_per_chunk) entries;
            # absent stsc → everything in the first chunk (degenerate but
            # parseable, same spirit as the stts guard)
            if b"stsc" in tables:
                body, _ = tables[b"stsc"]
                stsc = [
                    (_u32(body + 8 + 12 * e), _u32(body + 12 + 12 * e))
                    for e in range(_u32(body + 4))
                ]
            else:
                stsc = [(1, count)]
            # sync table
            syncs: set[int] | None = None
            if b"stss" in tables:
                body, _ = tables[b"stss"]
                syncs = {_u32(body + 8 + 4 * i) for i in range(_u32(body + 4))}

            sample = 0
            dts = 0
            for ci, chunk_off in enumerate(offsets, start=1):
                spc = 0
                for fc, n_in in stsc:
                    if fc <= ci:
                        spc = n_in
                    else:
                        break
                within = chunk_off
                for _ in range(spc):
                    if sample >= count:
                        break
                    delta = deltas[sample] if sample < len(deltas) else 0
                    rows.append(
                        {
                            "track_id": track_id,
                            "sample_idx": sample,
                            "chunk_idx": ci - 1,
                            "offset": within,
                            "size": sizes[sample],
                            "dts": dts,
                            "duration": delta,
                            "is_sync": syncs is None or (sample + 1) in syncs,
                        }
                    )
                    within += sizes[sample]
                    dts += delta
                    sample += 1
    return rows


MP4_SAMPLE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("track_id", LongType()),
        StructField("sample_idx", LongType()),
        StructField("chunk_idx", LongType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("dts", LongType()),
        StructField("duration", LongType()),
        StructField("is_sync", BooleanType()),
    ]
)


def extract_mp4_samples(media: DataFrame) -> DataFrame:
    """MP4 demux as an Arrow ``mapInPandas`` stage: binary payload in →
    one typed row PER SAMPLE out (payload dropped — bytes never shuffle).
    Downstream frame sampling is then pure DataFrame algebra:
    ``filter(is_sync)`` for keyframes, ``sample_idx % n = 0`` for
    every-Nth decimation, and the (offset, size) byte ranges drive ranged
    reads of only the chosen samples — the 100 TB video story is 'ship
    sample-table rows, not video bytes'."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in MP4_SAMPLE_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                for row in mp4_sample_table(bytes(p)):
                    out["media_id"].append(int(mid))
                    for k, v in row.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=MP4_SAMPLE_SCHEMA)


def mp3_frame_index(payload: bytes) -> list[dict]:
    """REAL MP3 frame index — one row per MPEG-1 Layer III frame:
    ``(frame_idx, offset, size, dts_ms)`` with byte offsets into the file
    and integer-exact decode timestamps (``idx·1152·1000 // rate``). This
    is the audio twin of :func:`mp4_sample_table`: it turns an opaque CBR/
    VBR bitstream into byte ranges that parallel workers can decode
    independently (each frame is self-contained after the header), without
    needing the MDCT codec that stays stubbed in this container. Walks the
    same header grammar as :func:`mp3_parse_metadata` (syncsafe ID3v2 skip
    incl. footer flag, bitrate/rate/padding arithmetic)."""
    off = 0
    if payload[:3] == b"ID3":
        size = 0
        for b in payload[6:10]:
            size = (size << 7) | (b & 0x7F)
        off = 10 + size
        if payload[5] & 0x10:
            off += 10
    rows: list[dict] = []
    while off + 4 <= len(payload):
        b0, b1, b2, _b3 = payload[off : off + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 0x3
        layer = (b1 >> 1) & 0x3
        if version != 3 or layer != 1:
            raise NotImplementedError(
                "mp3_frame_index handles MPEG-1 Layer III frames only"
            )
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("free-format/reserved mp3 header")
        bitrate_kbps = _MP3_BITRATES_V1L3[br_idx]
        sample_rate = _MP3_RATES_V1[sr_idx]
        frame_len = 144 * bitrate_kbps * 1000 // sample_rate + padding
        if off + frame_len > len(payload):
            # truncated final frame: advertising the header-derived length
            # would drive a ranged read past end-of-payload downstream
            break
        rows.append(
            {
                "frame_idx": len(rows),
                "offset": off,
                "size": frame_len,
                "dts_ms": len(rows) * 1152 * 1000 // sample_rate,
                "bitrate_kbps": bitrate_kbps,
            }
        )
        off += frame_len
    if not rows:
        raise ValueError("no mp3 frames found")
    return rows


MP3_FRAME_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("dts_ms", LongType()),
        StructField("bitrate_kbps", LongType()),
    ]
)


def extract_mp3_frames(media: DataFrame) -> DataFrame:
    """MP3 frame indexing as an Arrow ``mapInPandas`` stage: payload in →
    one row per frame out (payload never shuffles) — the split map for
    parallel audio decode at scale."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in MP3_FRAME_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                for row in mp3_frame_index(bytes(p)):
                    out["media_id"].append(int(mid))
                    for k, v in row.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=MP3_FRAME_SCHEMA)


def wav_audio_features(payload: bytes) -> dict:
    """REAL audio feature extraction over PCM WAV — the curation signals an
    audio training pipeline gates on, all INTEGER-EXACT so any engine that
    can see the samples reproduces them bit-for-bit: ``peak`` (max |s|),
    ``mean_abs_ppm`` (sum|s|·1e6 // n), ``energy`` (mean square, floor),
    ``zero_crossings`` (sign-boundary count with sign(0)=+), and
    ``silence_ppm`` (share of samples with |s| ≤ 100, in ppm).
    Decodes 8/16-bit mono PCM via the stdlib ``wave`` module — no codec
    libraries; compressed formats stay behind the honest stub."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_ch, width, n_frames = w.getnchannels(), w.getsampwidth(), w.getnframes()
        rate = w.getframerate()
        raw = w.readframes(n_frames)
    if n_ch != 1 or width not in (1, 2):
        raise NotImplementedError(
            f"wav_audio_features supports 8/16-bit mono PCM, got "
            f"channels={n_ch} sampwidth={width}"
        )
    if width == 2:
        samples = struct.unpack(f"<{len(raw) // 2}h", raw)
    else:
        samples = [b - 128 for b in raw]
    n = len(samples)
    if n == 0:
        return {
            "n_samples": 0, "sample_rate": rate, "duration_ms": 0,
            "peak": 0, "mean_abs_ppm": 0, "energy": 0,
            "zero_crossings": 0, "silence_ppm": 1_000_000,
        }
    abs_sum = sum(abs(s) for s in samples)
    return {
        "n_samples": n,
        "sample_rate": rate,
        "duration_ms": n * 1000 // rate,
        "peak": max(abs(s) for s in samples),
        "mean_abs_ppm": abs_sum * 1_000_000 // n,
        "energy": sum(s * s for s in samples) // n,
        "zero_crossings": sum(
            1
            for a, b in zip(samples, samples[1:])
            if (a >= 0) != (b >= 0)
        ),
        "silence_ppm": sum(1 for s in samples if abs(s) <= 100) * 1_000_000 // n,
    }


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("sample_rate", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak", LongType()),
        StructField("mean_abs_ppm", LongType()),
        StructField("energy", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("silence_ppm", LongType()),
    ]
)


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Audio curation features as an Arrow ``mapInPandas`` stage: WAV
    payload in → one integer-exact feature row out (payload never
    shuffles). The gate a speech/audio corpus runs before paying for
    transcription: drop silent clips (``silence_ppm``), clipped clips
    (``peak`` at full scale), and out-of-band durations."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in AUDIO_FEATURE_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                row = wav_audio_features(bytes(p))
                out["media_id"].append(int(mid))
                for k, v in row.items():
                    out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# G.711 companded audio (µ-law / A-law): REAL compressed-audio decode —
# integer-exact expansion formulas, no codec library required
# ---------------------------------------------------------------------------


def _mulaw_expand(code: int) -> int:
    """ITU-T G.711 µ-law byte → 16-bit linear PCM (the BIAS=0x84 table
    formula every codec ships; integer-exact)."""
    code = ~code & 0xFF
    sign = code & 0x80
    exponent = (code >> 4) & 0x07
    mantissa = code & 0x0F
    sample = ((mantissa << 3) + 0x84) << exponent
    sample -= 0x84
    return -sample if sign else sample


def _alaw_expand(code: int) -> int:
    """ITU-T G.711 A-law byte → 16-bit linear PCM (0x55 toggle + segment
    expansion; integer-exact)."""
    code ^= 0x55
    sign = code & 0x80
    exponent = (code >> 4) & 0x07
    mantissa = code & 0x0F
    if exponent == 0:
        sample = (mantissa << 4) + 8
    else:
        sample = ((mantissa << 4) + 0x108) << (exponent - 1)
    # G.711 A-law: the (toggled) sign bit SET means positive (Sun codec)
    return sample if sign else -sample


_MULAW_TABLE = [_mulaw_expand(c) for c in range(256)]
_ALAW_TABLE = [_alaw_expand(c) for c in range(256)]

#: RIFF WAVE format tags (WAVEFORMATEX wFormatTag)
_WAVE_FMT_PCM = 1
_WAVE_FMT_ALAW = 6
_WAVE_FMT_MULAW = 7


def _riff_chunks(payload: bytes):
    """Iterate (fourcc, body) chunks of a RIFF/WAVE stream — the stdlib
    ``wave`` module refuses compressed format tags, so the companded
    decoders walk the container themselves."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    off = 12
    while off + 8 <= len(payload):
        fourcc = payload[off : off + 4]
        size = int.from_bytes(payload[off + 4 : off + 8], "little")
        yield fourcc, payload[off + 8 : off + 8 + size]
        off += 8 + size + (size & 1)  # chunks are word-aligned


def g711_wav_decode(payload: bytes) -> tuple[int, list[int]]:
    """REAL decode of G.711-companded WAV (µ-law format tag 7 / A-law tag
    6, the telephony and call-center archive formats) → (sample_rate,
    16-bit linear PCM samples). Pure stdlib: RIFF chunk walk + the G.711
    expansion tables above — ``audioop`` (removed in Python 3.13) is not
    needed. Mono only (telephony is mono); linear PCM tag 1 is accepted
    too so one entry point covers a mixed archive."""
    fmt_tag = rate = channels = bits = None
    data = None
    for fourcc, body in _riff_chunks(payload):
        if fourcc == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
        elif fourcc == b"data":
            data = body
    if fmt_tag is None or data is None:
        raise ValueError("WAV stream missing fmt/data chunks")
    if channels != 1:
        raise NotImplementedError("g711_wav_decode supports mono only")
    if fmt_tag == _WAVE_FMT_MULAW:
        return rate, [_MULAW_TABLE[b] for b in data]
    if fmt_tag == _WAVE_FMT_ALAW:
        return rate, [_ALAW_TABLE[b] for b in data]
    if fmt_tag == _WAVE_FMT_PCM and bits == 16:
        import struct

        return rate, list(struct.unpack(f"<{len(data) // 2}h", data))
    raise NotImplementedError(f"unsupported WAV format tag {fmt_tag}/{bits}")


def g711_wav_encode(
    samples: list[int], sample_rate: int = 8000, law: str = "mulaw"
) -> bytes:
    """Encode 16-bit linear PCM as a G.711 WAV (µ-law or A-law): compress
    each sample with the standard segment search (argmin over the
    expansion table is exact and table-small), emit a RIFF/WAVE container
    with the right format tag. Round-trips bit-exactly through
    :func:`g711_wav_decode` for values ON the quantization lattice."""
    table = _MULAW_TABLE if law == "mulaw" else _ALAW_TABLE
    fmt_tag = _WAVE_FMT_MULAW if law == "mulaw" else _WAVE_FMT_ALAW
    inverse = {}
    for code, value in enumerate(table):
        inverse.setdefault(value, code)

    def compress(s: int) -> int:
        if s in inverse:
            return inverse[s]
        # nearest lattice point, ties toward the smaller magnitude
        return min(
            range(256), key=lambda c: (abs(table[c] - s), abs(table[c]))
        )

    data = bytes(compress(s) for s in samples)
    fmt = (
        fmt_tag.to_bytes(2, "little")
        + (1).to_bytes(2, "little")  # mono
        + sample_rate.to_bytes(4, "little")
        + sample_rate.to_bytes(4, "little")  # byte rate (1 byte/sample)
        + (1).to_bytes(2, "little")  # block align
        + (8).to_bytes(2, "little")  # bits per sample
    )

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return fourcc + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    body = b"WAVE" + chunk(b"fmt ", fmt) + chunk(b"data", data)
    return b"RIFF" + len(body).to_bytes(4, "little") + body


G711_STATS_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("sum_pcm", LongType()),
        StructField("min_pcm", LongType()),
        StructField("max_pcm", LongType()),
    ]
)


def g711_wav_stats(media: DataFrame) -> DataFrame:
    """G.711 decode as an Arrow ``mapInPandas`` stage: companded WAV
    payload in → integer-exact linear-PCM stats out (count/sum/min/max —
    the audit pass over a telephony archive before transcription). Payload
    bytes never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in G711_STATS_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                rate, samples = g711_wav_decode(bytes(p))
                out["media_id"].append(int(mid))
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(samples))
                out["sum_pcm"].append(sum(samples))
                out["min_pcm"].append(min(samples) if samples else 0)
                out["max_pcm"].append(max(samples) if samples else 0)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=G711_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# ID3v2 tag frames: the textual-metadata layer of the mp3 container
# ---------------------------------------------------------------------------

_ID3_ENCODINGS = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}


def id3v2_encode(tags: dict[str, str], version: int = 4) -> bytes:
    """Build a VALID ID3v2.3/2.4 tag from ``{frame_id: text}`` (frame ids
    are the standard 4-char codes: TIT2 title, TPE1 artist, TALB album,
    TDRC date…). Text frames are UTF-8 (encoding byte 3); v2.4 uses
    syncsafe frame sizes, v2.3 plain big-endian — both shapes the parser
    must handle."""
    body = bytearray()
    for fid, text in tags.items():
        if len(fid) != 4:
            raise ValueError(f"bad frame id {fid!r}")
        content = b"\x03" + text.encode("utf-8")
        size = len(content)
        if version == 4:
            size_bytes = bytes((size >> s) & 0x7F for s in (21, 14, 7, 0))
        else:
            size_bytes = size.to_bytes(4, "big")
        body += fid.encode("ascii") + size_bytes + b"\x00\x00" + content
    total = len(body)
    syncsafe = bytes((total >> s) & 0x7F for s in (21, 14, 7, 0))
    return b"ID3" + bytes([version, 0, 0]) + syncsafe + bytes(body)


def id3v2_tags(payload: bytes) -> dict[str, str]:
    """REAL ID3v2.3/2.4 text-frame parse — the metadata an audio corpus
    catalogs before any decode: walk the frame list inside the tag
    (syncsafe sizes for v2.4, plain for v2.3), decode T*** text frames by
    their declared encoding (latin-1 / UTF-16 with BOM / UTF-16BE /
    UTF-8), and return ``{frame_id: text}``. Non-text frames are skipped
    by size; a missing tag returns {}."""
    if payload[:3] != b"ID3":
        return {}
    version = payload[3]
    if version < 3:  # ID3v2.2 uses 3-char/6-byte frames — don't misparse
        return {}
    flags = payload[5]
    if flags & 0x80:  # unsynchronisation applied to the whole tag — frame
        return {}  # offsets below would be wrong; bail rather than corrupt
    size = 0
    for b in payload[6:10]:
        size = (size << 7) | (b & 0x7F)
    off, end = 10, 10 + size
    if flags & 0x40:
        # extended header precedes the first frame; skip it or the frame
        # walk reads it as a frame with a garbage size. If the payload is
        # truncated before its size field, there is nothing safe to parse
        # at all — bail to {} (the unsynchronisation convention) instead
        # of walking the extended-header bytes as frames (r9 ADVICE fix).
        if off + 4 > len(payload):
            return {}
        raw = payload[off : off + 4]
        if version >= 4:
            ext = 0  # v2.4: syncsafe, counts the WHOLE extended header
            for b in raw:
                ext = (ext << 7) | (b & 0x7F)
            off += ext
        else:
            # v2.3: plain int, EXCLUDES the 4 size bytes themselves
            off += 4 + int.from_bytes(raw, "big")
    tags: dict[str, str] = {}
    while off + 10 <= end:
        fid = payload[off : off + 4]
        if fid == b"\x00\x00\x00\x00":
            break  # padding
        raw = payload[off + 4 : off + 8]
        if version >= 4:
            fsize = 0
            for b in raw:
                fsize = (fsize << 7) | (b & 0x7F)
        else:
            fsize = int.from_bytes(raw, "big")
        content = payload[off + 10 : off + 10 + fsize]
        if fid[:1] == b"T" and content:
            enc = _ID3_ENCODINGS.get(content[0], "latin-1")
            text = content[1:].decode(enc, "replace").rstrip("\x00")
            tags[fid.decode("ascii", "replace")] = text
        off += 10 + fsize
    return tags


ID3_TAG_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("album", StringType()),
    ]
)


def extract_id3_tags(media: DataFrame) -> DataFrame:
    """ID3v2 catalog extraction as an Arrow ``mapInPandas`` stage: mp3
    payload in → (title, artist, album) out from TIT2/TPE1/TALB frames
    (NULL where absent); payload bytes never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in ID3_TAG_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                tags = id3v2_tags(bytes(p))
                out["media_id"].append(int(mid))
                out["title"].append(tags.get("TIT2"))
                out["artist"].append(tags.get("TPE1"))
                out["album"].append(tags.get("TALB"))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=ID3_TAG_SCHEMA)


# ---------------------------------------------------------------------------
# TAR shard indexing: the WebDataset container layer
# ---------------------------------------------------------------------------


def tar_index(payload: bytes) -> list[dict]:
    """REAL USTAR/GNU tar member index — one row per archive member:
    ``(name, offset, size, typeflag, mtime)`` with ``offset`` pointing at
    the member's DATA (header is the 512 bytes before it). This is the
    WebDataset access path: multimodal training shards ship as tar files
    of (image, caption, metadata) member groups, and the index turns an
    opaque shard into byte ranges that ranged reads (or
    ``substring(payload, offset+1, size)`` JVM-side) can fetch without
    untarring. Pure header-block walk — handles octal and GNU base-256
    size encodings, stops at the end-of-archive zero blocks; PAX extended
    headers (typeflags x/g) are indexed like any member, so a PAX-format
    shard still walks correctly (the pax override of a member's name is
    NOT applied — WebDataset shards are USTAR in practice)."""
    rows: list[dict] = []
    off = 0
    while off + 512 <= len(payload):
        header = payload[off : off + 512]
        if header == b"\x00" * 512:
            break
        name = header[0:100].split(b"\x00", 1)[0].decode("utf-8", "replace")
        prefix = header[345:500].split(b"\x00", 1)[0].decode("utf-8", "replace")
        if prefix:
            name = prefix + "/" + name
        size_field = header[124:136]
        if size_field[0] & 0x80:  # GNU base-256 encoding for >8GB members
            size = int.from_bytes(
                bytes([size_field[0] & 0x7F]) + size_field[1:], "big"
            )
        else:
            size = int(size_field.split(b"\x00")[0].strip() or b"0", 8)
        mtime = int(header[136:148].split(b"\x00")[0].strip() or b"0", 8)
        typeflag = chr(header[156]) if header[156] else "0"
        rows.append(
            {
                "name": name,
                "offset": off + 512,
                "size": size,
                "typeflag": typeflag,
                "mtime": mtime,
            }
        )
        off += 512 + (size + 511) // 512 * 512
    return rows


TAR_INDEX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("name", StringType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("typeflag", StringType()),
        StructField("mtime", LongType()),
    ]
)


def extract_tar_index(media: DataFrame) -> DataFrame:
    """TAR shard indexing as an Arrow ``mapInPandas`` stage: shard payload
    in → one typed row per member out (payload never shuffles). Member
    bytes are then reachable JVM-side via
    ``substring(payload, offset + 1, size)`` on the original frame, or by
    object-store ranged reads at 100 TB — the shard bytes themselves
    never need to move."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in TAR_INDEX_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                for row in tar_index(bytes(p)):
                    out["media_id"].append(int(mid))
                    for k, v in row.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=TAR_INDEX_SCHEMA)


# ---------------------------------------------------------------------------
# BMP (Windows bitmap): uncompressed 24-bit and 8-bit-palette decode/encode
# ---------------------------------------------------------------------------


def bmp_encode(
    pix: bytes, width: int, height: int, channels: int = 3
) -> bytes:
    """Encode top-down pixel rows (grey or RGB) as an uncompressed
    BITMAPINFOHEADER BMP — 24-bit for RGB, 8-bit greyscale-palette for
    single-channel. BMP stores rows BOTTOM-UP with 4-byte row padding and
    BGR channel order; every quirk is exercised by the round trip."""
    if channels not in (1, 3):
        raise ValueError("bmp_encode supports 1 (grey) or 3 (RGB) channels")
    if len(pix) != width * height * channels:
        raise ValueError("pixel buffer size mismatch")
    bpp = 8 if channels == 1 else 24
    row_bytes = (width * bpp // 8 + 3) // 4 * 4
    palette = (
        b"".join(bytes((v, v, v, 0)) for v in range(256))
        if channels == 1
        else b""
    )
    data_off = 14 + 40 + len(palette)
    image_size = row_bytes * height
    header = (
        b"BM"
        + (data_off + image_size).to_bytes(4, "little")
        + bytes(4)
        + data_off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")  # positive = bottom-up
        + (1).to_bytes(2, "little")
        + bpp.to_bytes(2, "little")
        + bytes(4)  # BI_RGB
        + image_size.to_bytes(4, "little")
        + bytes(16)
    )
    out = bytearray(header + palette)
    for y in reversed(range(height)):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            k = (y * width + x) * channels
            if channels == 1:
                row.append(pix[k])
            else:
                r, g, b = pix[k : k + 3]
                row += bytes((b, g, r))  # BGR on disk
        row += bytes(row_bytes - len(row))
        out += row
    return bytes(out)


def bmp_decode(payload: bytes) -> tuple[int, int, int, bytes]:
    """REAL BMP decode — stdlib only: BITMAPINFOHEADER (and the larger
    V4/V5 headers, read by their declared size), uncompressed 8-bit
    palette / 24-bit / 32-bit BI_RGB pixels, bottom-up AND top-down
    (negative height) row order, 4-byte row padding. Returns
    (channels, width, height, top-down pixel bytes); 8-bit applies the
    palette (grey palettes collapse to 1 channel, color ones expand to
    3)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP stream")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    if hdr_size < 40:
        raise NotImplementedError("BITMAPCOREHEADER BMPs not supported")
    width = int.from_bytes(payload[18:22], "little")
    height = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    compression = int.from_bytes(payload[30:34], "little")
    if compression != 0:
        raise NotImplementedError(f"BMP compression {compression} not supported")
    if bpp not in (8, 24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP not supported")
    top_down = height < 0
    height = abs(height)
    palette = None
    if bpp == 8:
        n_colors = int.from_bytes(payload[46:50], "little") or 256
        pal_off = 14 + hdr_size
        palette = [
            tuple(payload[pal_off + 4 * i : pal_off + 4 * i + 3][::-1])
            for i in range(n_colors)
        ]
        grey = all(r == g == b for r, g, b in palette)
        channels = 1 if grey else 3
    else:
        channels = 3
    row_bytes = (width * bpp // 8 + 3) // 4 * 4
    out = bytearray()
    for y in range(height):
        src_y = y if top_down else height - 1 - y
        row = payload[data_off + src_y * row_bytes :][:row_bytes]
        for x in range(width):
            if bpp == 8:
                entry = palette[row[x]]
                out += bytes([entry[0]] if channels == 1 else entry)
            elif bpp == 24:
                b, g, r = row[3 * x : 3 * x + 3]
                out += bytes((r, g, b))
            else:
                b, g, r = row[4 * x : 4 * x + 3]
                out += bytes((r, g, b))
    return channels, width, height, bytes(out)


def bmp_feature_extractor(payload: bytes, mime_type: str) -> list[float]:
    """Feature shape matches the other image extractors: [width, height,
    per-channel mean-intensity ppm]."""
    channels, width, height, pix = bmp_decode(payload)
    n = width * height
    means = [
        float(sum(pix[k] for k in range(c, len(pix), channels)) * 1_000_000 // n)
        for c in range(channels)
    ]
    return [float(width), float(height), *means]


def zip_index(payload: bytes) -> list[dict]:
    """REAL ZIP central-directory index — one row per archive member:
    ``(name, method, size, compressed_size, data_offset)``. Walks the
    end-of-central-directory record (scanned from the tail, comment-
    tolerant) to the central directory, then reads each member's LOCAL
    header to resolve the actual data offset (local name/extra lengths
    can differ from the central entry's — the classic zip-parsing trap).
    The archive twin of :func:`tar_index` for corpora shipped as zips;
    STORED members are directly ranged-readable, DEFLATE members hand
    their exact byte range to ``zlib.decompressobj(-15)``.

    ZIP64 is handled for real (a >4 GB shard or a >65k-member archive is
    exactly the 100 TB-corpus case): 0xFFFF/0xFFFFFFFF sentinels in the
    EOCD route through the ZIP64 EOCD locator → ZIP64 EOCD record for the
    true entry count / directory offset, and per-entry sentinels resolve
    from the 0x0001 extra field in central-header field order."""
    eocd_sig = b"PK\x05\x06"
    tail_start = max(0, len(payload) - 65_557)  # 22-byte EOCD + 64k comment
    pos = payload.rfind(eocd_sig, tail_start)
    if pos < 0:
        raise ValueError("no ZIP end-of-central-directory record")
    n_entries = int.from_bytes(payload[pos + 10 : pos + 12], "little")
    cd_off = int.from_bytes(payload[pos + 16 : pos + 20], "little")
    if n_entries == 0xFFFF or cd_off == 0xFFFFFFFF:
        # 0xFFFF is also a LEGITIMATE literal count for a real
        # 65535-member non-ZIP64 archive — the sentinel reading requires
        # the ZIP64 EOCD locator actually preceding the EOCD; without it
        # the literal values stand (true corruption still fails the
        # central-directory signature check below)
        loc = payload.rfind(b"PK\x06\x07", max(0, pos - 20), pos)
        if loc < 0 and cd_off == 0xFFFFFFFF:
            raise ValueError("ZIP64 cd-offset sentinel without EOCD locator")
        if loc < 0:
            loc = None
    else:
        loc = None
    if loc is not None:
        z64 = int.from_bytes(payload[loc + 8 : loc + 16], "little")
        if payload[z64 : z64 + 4] != b"PK\x06\x06":
            raise ValueError(f"bad ZIP64 EOCD signature at {z64}")
        n_entries = int.from_bytes(payload[z64 + 32 : z64 + 40], "little")
        cd_off = int.from_bytes(payload[z64 + 48 : z64 + 56], "little")
    rows: list[dict] = []
    off = cd_off
    for _ in range(n_entries):
        if payload[off : off + 4] != b"PK\x01\x02":
            raise ValueError(f"bad central-directory signature at {off}")
        method = int.from_bytes(payload[off + 10 : off + 12], "little")
        csize = int.from_bytes(payload[off + 20 : off + 24], "little")
        usize = int.from_bytes(payload[off + 24 : off + 28], "little")
        name_len = int.from_bytes(payload[off + 28 : off + 30], "little")
        extra_len = int.from_bytes(payload[off + 30 : off + 32], "little")
        comment_len = int.from_bytes(payload[off + 32 : off + 34], "little")
        lho = int.from_bytes(payload[off + 42 : off + 46], "little")
        name = payload[off + 46 : off + 46 + name_len].decode(
            "utf-8", "replace"
        )
        if 0xFFFFFFFF in (csize, usize, lho):
            # ZIP64 extra field: 8-byte values present ONLY for the fields
            # whose 32-bit slots hold the sentinel, in usize/csize/lho order
            extra = payload[
                off + 46 + name_len : off + 46 + name_len + extra_len
            ]
            e = 0
            while e + 4 <= len(extra):
                hid = int.from_bytes(extra[e : e + 2], "little")
                hlen = int.from_bytes(extra[e + 2 : e + 4], "little")
                if hid == 0x0001:
                    f = e + 4
                    if usize == 0xFFFFFFFF:
                        usize = int.from_bytes(extra[f : f + 8], "little")
                        f += 8
                    if csize == 0xFFFFFFFF:
                        csize = int.from_bytes(extra[f : f + 8], "little")
                        f += 8
                    if lho == 0xFFFFFFFF:
                        lho = int.from_bytes(extra[f : f + 8], "little")
                    break
                e += 4 + hlen
            else:
                raise ValueError(
                    f"ZIP64 sentinel in entry {name!r} without 0x0001 extra"
                )
        # resolve data offset via the LOCAL header's own lengths
        if payload[lho : lho + 4] != b"PK\x03\x04":
            raise ValueError(f"bad local-header signature at {lho}")
        lh_name = int.from_bytes(payload[lho + 26 : lho + 28], "little")
        lh_extra = int.from_bytes(payload[lho + 28 : lho + 30], "little")
        rows.append(
            {
                "name": name,
                "method": {0: "stored", 8: "deflate"}.get(
                    method, str(method)
                ),
                "size": usize,
                "compressed_size": csize,
                "data_offset": lho + 30 + lh_name + lh_extra,
            }
        )
        off += 46 + name_len + extra_len + comment_len
    return rows


ZIP_INDEX_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("name", StringType()),
        StructField("method", StringType()),
        StructField("size", LongType()),
        StructField("compressed_size", LongType()),
        StructField("data_offset", LongType()),
    ]
)


def extract_zip_index(media: DataFrame) -> DataFrame:
    """ZIP indexing as an Arrow ``mapInPandas`` stage — same contract as
    :func:`extract_tar_index`: payload in, typed member rows out, archive
    bytes never shuffle."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in ZIP_INDEX_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                for row in zip_index(bytes(p)):
                    out["media_id"].append(int(mid))
                    for k, v in row.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=ZIP_INDEX_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual image hashing (round 8): dHash over the stdlib decoders —
# the image-level twin of text dedup's SimHash. A 100 TB image corpus
# dedups on a 64-bit difference hash long before anyone trains on pixels.
# ---------------------------------------------------------------------------


def decode_image_pixels(payload: bytes) -> tuple[int, int, int, bytes]:
    """Dispatch by MAGIC BYTES to every REAL stdlib image decoder in this
    package (binary netpbm, PNG, BMP, GIF first frame, baseline JPEG) →
    ``(channels, width, height, top-down interleaved pixel bytes)``.
    Formats without a stdlib decoder raise through the honest stub."""
    if payload[:2] in (b"P5", b"P6"):
        channels, width, height, _maxval, pix = _netpbm_parse(payload)
        return channels, width, height, pix
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_parse(payload)
    if payload[:2] == b"BM":
        return bmp_decode(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif_codec import gif_decode

        width, height, rgb = gif_decode(payload)
        return 3, width, height, rgb
    if payload[:2] == b"\xff\xd8":
        from .jpeg_codec import jpeg_decode

        return jpeg_decode(payload)
    return real_decode_stub(payload, "")  # type: ignore[return-value]


def image_dhash(payload: bytes) -> tuple[int, int, int, int]:
    """Difference hash (dHash): decode, integer-luma grayscale, 9×8
    nearest-neighbour grid (``sx = x·W // 9``, ``sy = y·H // 8`` — the
    same integer sampling as :func:`netpbm_resize`, so any engine replays
    which pixels survive), then 64 horizontal brightness comparisons
    ``bit(y·8+x) = grid[y][x] < grid[y][x+1]``. Returns
    ``(width, height, hash_hi, hash_lo)`` with the 64 bits split into two
    unsigned 32-bit halves (bits 32-63 / 0-31) so both engines and the
    DuckDB oracle stay inside non-overflowing BIGINT arithmetic.

    Integer-exact end to end: luma is the BT.601 fixed-point form
    ``(299·r + 587·g + 114·b) // 1000``; no float enters the hash, so
    equal pixels ⇒ equal hash on every platform."""
    channels, width, height, pix = decode_image_pixels(payload)

    def grey(sx: int, sy: int) -> int:
        k = (sy * width + sx) * channels
        if channels <= 2:  # grey or grey+alpha: luma is the first byte
            return pix[k]
        return (299 * pix[k] + 587 * pix[k + 1] + 114 * pix[k + 2]) // 1000

    grid = [
        [grey(x * width // 9, y * height // 8) for x in range(9)]
        for y in range(8)
    ]
    hi = lo = 0
    for y in range(8):
        for x in range(8):
            if grid[y][x] < grid[y][x + 1]:
                idx = y * 8 + x
                if idx < 32:
                    lo |= 1 << idx
                else:
                    hi |= 1 << (idx - 32)
    return width, height, hi, lo


IMAGE_DHASH_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("dhash_hi", LongType()),
        StructField("dhash_lo", LongType()),
    ]
)


def extract_image_dhash(media: DataFrame) -> DataFrame:
    """dHash extraction as an Arrow ``mapInPandas`` stage: payloads in,
    (width, height, dhash_hi, dhash_lo) out — image bytes never shuffle;
    only 64-bit sketches continue downstream (the multimodal twin of the
    text-dedup contract)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in IMAGE_DHASH_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                w, h, hi, lo = image_dhash(bytes(p))
                out["media_id"].append(int(mid))
                out["width"].append(w)
                out["height"].append(h)
                out["dhash_hi"].append(hi)
                out["dhash_lo"].append(lo)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=IMAGE_DHASH_SCHEMA)


def dhash_duplicate_groups(media: DataFrame) -> DataFrame:
    """Image duplicate groups by exact dHash: one groupBy on the 64-bit
    sketch (the pixel payloads never shuffle — they die inside the
    extraction stage's tasks). Output: (dhash_hi, dhash_lo, member_ids,
    n_copies) for groups of ≥2. Near-dup variants bucket the same hashes
    by Hamming bands exactly like :func:`~.dedup.simhash` — exact grouping
    is the oracle-checkable core."""
    return (
        extract_image_dhash(media)
        .groupBy("dhash_hi", "dhash_lo")
        .agg(
            F.sort_array(F.collect_list("media_id")).alias("member_ids"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Energy-based voice-activity detection (round 8): frame-energy
# segmentation over PCM — the audio curation step that selects speech
# spans for ranged reads, no codec libraries required.
# ---------------------------------------------------------------------------


def wav_vad_segments(
    payload: bytes, frame_ms: int = 20, threshold: int = 200
) -> list[dict]:
    """REAL energy VAD over 8/16-bit mono PCM WAV: split samples into
    ``frame_ms`` frames, mark a frame speech iff its integer mean |s|
    exceeds ``threshold``, and merge consecutive speech frames into
    segments. Returns one dict per segment: ``segment_idx`` (0-based),
    ``start_frame``, ``n_frames``, ``start_ms``, ``duration_ms`` — all
    integer-exact (frame times quantize to the frame grid; the final
    partial frame counts if non-empty), so a SQL oracle replays the
    segmentation closed-form."""
    import io
    import struct
    import wave

    fmt_tag = None
    for fourcc, body in _riff_chunks(payload):
        if fourcc == b"fmt ":
            fmt_tag = int.from_bytes(body[0:2], "little")
            break
    if fmt_tag in (_WAVE_FMT_MULAW, _WAVE_FMT_ALAW):
        # telephony archives: expand G.711 companded samples to linear PCM
        rate, samples = g711_wav_decode(payload)
    else:
        with wave.open(io.BytesIO(payload), "rb") as w:
            n_ch, width = w.getnchannels(), w.getsampwidth()
            n_frames = w.getnframes()
            rate = w.getframerate()
            raw = w.readframes(n_frames)
        if n_ch != 1 or width not in (1, 2):
            raise NotImplementedError(
                "wav_vad_segments supports 8/16-bit mono PCM and G.711"
            )
        if width == 2:
            samples = struct.unpack(f"<{len(raw) // 2}h", raw)
        else:
            samples = [b - 128 for b in raw]
    frame_len = max(1, rate * frame_ms // 1000)
    speech = []
    for off in range(0, len(samples), frame_len):
        chunk = samples[off : off + frame_len]
        speech.append(sum(abs(s) for s in chunk) // len(chunk) > threshold)
    segments: list[dict] = []
    start = None
    for f, is_speech in enumerate([*speech, False]):  # sentinel closes tail
        if is_speech and start is None:
            start = f
        elif not is_speech and start is not None:
            segments.append(
                {
                    "segment_idx": len(segments),
                    "start_frame": start,
                    "n_frames": f - start,
                    "start_ms": start * frame_ms,
                    "duration_ms": (f - start) * frame_ms,
                }
            )
            start = None
    return segments


VAD_SEGMENT_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("segment_idx", LongType()),
        StructField("start_frame", LongType()),
        StructField("n_frames", LongType()),
        StructField("start_ms", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def extract_vad_segments(
    media: DataFrame, frame_ms: int = 20, threshold: int = 200
) -> DataFrame:
    """VAD as an Arrow ``mapInPandas`` stage: audio payloads in, typed
    speech-segment rows out. Payload bytes never shuffle — downstream
    selection joins on (media_id, start_ms, duration_ms) and range-reads
    only the speech spans, the same ship-the-index-not-the-media shape as
    the mp4 sample table."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out: dict[str, list] = {f.name: [] for f in VAD_SEGMENT_SCHEMA}
            for mid, p in zip(batch["media_id"], batch["payload"]):
                for seg in wav_vad_segments(
                    bytes(p), frame_ms=frame_ms, threshold=threshold
                ):
                    out["media_id"].append(int(mid))
                    for k, v in seg.items():
                        out[k].append(v)
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=VAD_SEGMENT_SCHEMA)

