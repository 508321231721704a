"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real 100 TB multimodal pipelines carry image/audio/video as opaque
``binary`` columns with a typed metadata struct, and run decode /
feature-extract / resize / frame-sample as Arrow-batched Python UDFs over
``mapInPandas``.  The image/video decode libraries (PIL/ffmpeg/pyav) are
NOT in this container, so those codec steps are stubbed — a
clearly-marked deterministic fake behind an import-try
(``NotImplementedError`` if real decode is requested without the lib).
FIVE codec paths are fully real with zero dependencies:
:func:`decode_wav` parses RIFF/WAVE PCM headers, :func:`decode_bmp`
parses uncompressed-BMP headers (both stdlib ``struct``),
:func:`decode_png` decodes actual PNG pixels (stdlib ``zlib`` inflate +
numpy scanline unfiltering), :func:`decode_gif` walks animated-GIF
containers (frame count + duration, plus a full LZW pixel decode behind
``decode_pixels=True``), and :func:`decode_jpeg` walks the JPEG/JFIF
marker stream (geometry, components, baseline-vs-progressive, table
counts, stuffed-byte/restart-aware entropy scan to EOI — no Huffman/DCT,
which genuinely needs a codec library); ``*_features`` wrappers run
each through the same ``mapInPandas`` plumbing as the stub extractor.  Everything Spark-side
is real and tested either way: binary column construction, metadata
schema, Arrow batch shapes, UDF signatures, partition-parallel
execution.

``media_table`` synthesizes the corpus: each document's text bytes stand
in for a media payload (deterministic), with kind image/audio/video by
``doc_id % 3``.  ``multimodal_features`` runs the mapInPandas extractor
over it; its (deterministic) outputs are oracle-checked — the oracle
recomputes byte length and first-byte from the same utf-8 payload.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table

try:  # real decoders, absent in this container — the stub path is used
    import PIL.Image  # noqa: F401

    HAVE_IMAGE_LIB = True
except ImportError:
    HAVE_IMAGE_LIB = False

KINDS = ("image", "audio", "video")

FEATURE_SCHEMA = (
    "doc_id long, kind string, n_bytes long, head_byte int, "
    "n_frames_sampled int"
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the multimodal table: (doc_id, kind, payload binary,
    meta struct<declared_bytes: long, source: string>)."""
    docs = load_table(spark, sf_dir, "documents")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in KINDS]), (F.col("doc_id") % 3 + 1).cast("int")
    )
    return docs.select(
        "doc_id",
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.col("n_chars").alias("declared_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


def decode_stub(payload: bytes, kind: str) -> dict:
    """STUB codec: deterministic fake 'decode'.

    Real implementation would be: image → PIL.Image.open; audio →
    soundfile/torchaudio; video → pyav keyframe iterator.  Raises
    ``NotImplementedError`` if real decode is requested and the library
    is missing — callers opt into the fake explicitly.
    """
    return {
        "n_bytes": len(payload),
        "head_byte": payload[0] if payload else -1,
        # video: pretend to sample 1 frame per 64 bytes, cap 8 (fake but
        # deterministic); image/audio: single "frame"
        "n_frames_sampled": min(len(payload) // 64, 8) if kind == "video" else 1,
    }


def decode_real(payload: bytes, kind: str) -> dict:
    """Real decode entry point.

    ``audio`` payloads that are RIFF/WAVE go through the dependency-free
    PCM header parser (:func:`decode_wav`); ``image`` payloads that are
    BMP go through :func:`decode_bmp`, PNG through :func:`decode_png`
    (full pixel decode via stdlib zlib), and JPEG through
    :func:`decode_jpeg` (marker walk — geometry/metadata; pixel-level
    JPEG decode still needs a DCT library).  Video container formats
    still require ffmpeg/pyav, absent in this container — fail-loud.
    """
    if kind == "audio" and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    if kind == "image" and payload[:2] == b"BM":
        return decode_bmp(payload)
    if kind == "image" and payload[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(payload)
    if kind == "image" and payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if kind in ("image", "video") and payload[:6] in (b"GIF87a", b"GIF89a"):
        return decode_gif(payload)
    if not HAVE_IMAGE_LIB:
        raise NotImplementedError(
            "real media decode requires PIL/ffmpeg/pyav, not installed"
        )
    raise NotImplementedError("real decode wiring is out of scope for this env")


def decode_wav(payload: bytes) -> dict:
    """REAL codec path: RIFF/WAVE PCM header parse with stdlib ``struct``.

    Walks the chunk list (chunks may appear in any order and carry odd
    lengths, which pad to even per the RIFF spec), extracts the ``fmt ``
    geometry and the ``data`` chunk size, and derives sample count and
    duration.  Only uncompressed PCM (``wFormatTag == 1``) is supported;
    anything else fails loudly — same policy as the missing-lib codecs.
    """
    import struct

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data_len = None
    pos = 12
    while pos + 8 <= len(payload):
        chunk_id = payload[pos : pos + 4]
        (chunk_len,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if chunk_id == b"fmt ":
            if body + 16 > len(payload):
                raise ValueError("truncated fmt chunk")
            audio_fmt, n_channels, sample_rate = struct.unpack_from(
                "<HHI", payload, body
            )
            (bits_per_sample,) = struct.unpack_from("<H", payload, body + 14)
            if audio_fmt != 1:
                raise NotImplementedError(
                    f"only PCM WAV (wFormatTag=1) supported, got {audio_fmt}"
                )
            fmt = (n_channels, sample_rate, bits_per_sample)
        elif chunk_id == b"data":
            if body + chunk_len > len(payload):
                raise ValueError(
                    "data chunk extends past payload (truncated WAV)"
                )
            data_len = chunk_len
        pos = body + chunk_len + (chunk_len & 1)  # chunks pad to even
    if fmt is None or data_len is None:
        raise ValueError("WAV missing fmt or data chunk")
    n_channels, sample_rate, bits_per_sample = fmt
    frame_bytes = n_channels * bits_per_sample // 8
    if frame_bytes == 0 or sample_rate == 0:
        raise ValueError("degenerate WAV geometry")
    n_samples = data_len // frame_bytes
    return {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "bits_per_sample": bits_per_sample,
        "n_samples": n_samples,
        "duration_ms": 1000.0 * n_samples / sample_rate,
    }


def decode_bmp(payload: bytes) -> dict:
    """REAL codec path #2: BMP header parse with stdlib ``struct``.

    Reads the BITMAPFILEHEADER + DIB header (CORE/INFO/V4/V5 variants),
    extracts pixel geometry, and validates that the declared uncompressed
    pixel array actually fits the payload.  Only uncompressed BI_RGB
    (and the compression-free CORE header) is supported; RLE/bitfield/
    JPEG-embedded BMPs fail loudly — same policy as :func:`decode_wav`.
    """
    import struct

    if len(payload) < 18 or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (pixel_offset,) = struct.unpack_from("<I", payload, 10)
    (dib_size,) = struct.unpack_from("<I", payload, 14)
    if dib_size == 12:  # BITMAPCOREHEADER: 16-bit dims, no compression
        if len(payload) < 26:
            raise ValueError("truncated BMP core header")
        width, height, planes, bpp = struct.unpack_from("<HHHH", payload, 18)
        top_down = False
    elif dib_size >= 40:  # INFO/V4/V5: 32-bit signed dims
        if len(payload) < 14 + 40:
            raise ValueError("truncated BMP info header")
        width, height = struct.unpack_from("<ii", payload, 18)
        planes, bpp = struct.unpack_from("<HH", payload, 26)
        (compression,) = struct.unpack_from("<I", payload, 30)
        if compression != 0:
            raise NotImplementedError(
                f"only uncompressed BI_RGB BMP supported, got "
                f"compression={compression}"
            )
        top_down = height < 0
        height = abs(height)
    else:
        raise ValueError(f"unknown BMP DIB header size {dib_size}")
    if width <= 0 or height <= 0 or bpp == 0:
        raise ValueError("degenerate BMP geometry")
    # rows pad to 4-byte boundaries per spec
    row_stride = ((bpp * width + 31) // 32) * 4
    if pixel_offset + row_stride * height > len(payload):
        raise ValueError("pixel array extends past payload (truncated BMP)")
    return {
        "width": width,
        "height": height,
        "bits_per_pixel": bpp,
        "row_stride": row_stride,
        "n_pixels": width * height,
        "top_down": top_down,
    }


def decode_png(payload: bytes) -> dict:
    """REAL codec path #3: full PNG pixel decode with stdlib ``zlib``.

    Unlike :func:`decode_wav` / :func:`decode_bmp` (header parses), this
    decodes actual pixels: walks the chunk list (CRC-verified), inflates
    the concatenated IDAT stream, reverses the per-scanline filters
    (None/Up fully vectorized; Sub via per-channel cumulative sums;
    Average/Paeth per-byte — their predictor depends on the
    just-reconstructed left neighbor, an inherently sequential
    recurrence), and returns
    geometry plus the mean sample value — the cheap "is this image
    black/blown-out" feature a curation pipeline computes at ingest.

    Supported: 8-bit, color types 0 (gray), 2 (RGB), 4 (gray+alpha),
    6 (RGBA), both non-interlaced and Adam7-interlaced (round 10: each
    of the seven passes is its own filtered sub-image — unfilter per
    pass, then scatter into the frame by the pass's (offset, step)
    lattice).  Palette (3), 1/2/4/16-bit, and corrupt streams fail
    loudly — same policy as the other codecs.
    """
    out, width, height, bit_depth, channels = _png_pixels(payload)
    return {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "channels": channels,
        "n_pixels": width * height,
        "mean_sample": round(float(out.mean()), 4),
    }


def _png_pixels(payload: bytes):
    """PNG chunk walk + inflate + unfilter; returns the raw sample matrix
    ``(height, width*channels) uint8`` plus geometry (see :func:`decode_png`)."""
    import struct
    import zlib

    import numpy as np

    if len(payload) < 8 or payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    idat = bytearray()
    seen_iend = False
    while pos + 8 <= len(payload):
        (chunk_len,) = struct.unpack_from(">I", payload, pos)
        # length covers header(8) + body + CRC(4): a payload truncated
        # anywhere inside the chunk — including between body and CRC —
        # must fail loudly, not with a raw struct.error
        if pos + 12 + chunk_len > len(payload):
            raise ValueError("PNG chunk extends past payload (truncated)")
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + chunk_len]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + chunk_len)
        if zlib.crc32(payload[pos + 4 : pos + 8 + chunk_len]) != crc:
            raise ValueError(f"PNG chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            ihdr = (width, height, bit_depth, color_type, interlace)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + chunk_len
    if ihdr is None or not idat or not seen_iend:
        raise ValueError("PNG missing IHDR, IDAT, or IEND")
    width, height, bit_depth, color_type, interlace = ihdr
    if interlace not in (0, 1):
        raise ValueError(f"invalid PNG interlace method {interlace}")
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None or bit_depth != 8:
        raise NotImplementedError(
            f"only 8-bit gray/RGB/gray+alpha/RGBA PNG supported, got "
            f"color_type={color_type} bit_depth={bit_depth}"
        )
    raw = zlib.decompress(bytes(idat))
    stride = width * channels
    if interlace == 0:
        if len(raw) != (stride + 1) * height:
            raise ValueError("PNG pixel stream length mismatch")
        out = _png_unfilter(raw, stride, height, channels)
        return out, width, height, bit_depth, channels
    # Adam7: seven passes, each a self-contained filtered sub-image
    # (filters reference neighbors WITHIN the pass), deinterlaced into
    # the frame on the pass's (offset, step) lattice.  Empty passes
    # (dimension smaller than the offset) contribute zero bytes.
    out3 = np.zeros((height, width, channels), dtype=np.uint8)
    pos = 0
    for xoff, yoff, xstep, ystep in _ADAM7_PASSES:
        pw = (width - xoff + xstep - 1) // xstep if width > xoff else 0
        ph = (height - yoff + ystep - 1) // ystep if height > yoff else 0
        if pw == 0 or ph == 0:
            continue
        pstride = pw * channels
        nbytes = (pstride + 1) * ph
        if pos + nbytes > len(raw):
            raise ValueError("PNG pixel stream length mismatch (Adam7)")
        sub = _png_unfilter(raw[pos : pos + nbytes], pstride, ph, channels)
        pos += nbytes
        out3[yoff::ystep, xoff::xstep, :] = sub.reshape(ph, pw, channels)
    if pos != len(raw):
        raise ValueError("PNG pixel stream length mismatch (Adam7)")
    return out3.reshape(height, stride), width, height, bit_depth, channels


#: Adam7 pass lattice: (x offset, y offset, x step, y step) — PNG spec
#: §8.2, pass order 1-7
_ADAM7_PASSES = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _png_unfilter(raw: bytes, stride: int, height: int, bpp: int):
    """Reverse the per-scanline PNG filters over one filtered image
    (the whole frame, or one Adam7 pass): ``raw`` is ``height`` rows of
    1 filter byte + ``stride`` sample bytes.  None/Up fully vectorized;
    Sub via per-channel cumulative sums; Average/Paeth per-byte (their
    predictor depends on the just-reconstructed left neighbor, an
    inherently sequential recurrence)."""
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, rows = arr[:, 0], arr[:, 1:].astype(np.int16)
    out = np.zeros((height, stride), dtype=np.uint8)
    for y in range(height):
        f, cur = int(filters[y]), rows[y].copy()
        prior = out[y - 1].astype(np.int16) if y else np.zeros(stride, np.int16)
        if f == 0:  # None
            line = cur
        elif f == 1:  # Sub — per-channel cumulative sum (mod-256 addition
            # is associative, so out[x] = (cur[x] + out[x-bpp]) % 256
            # collapses to a cumsum along each channel lane)
            line = cur.copy()
            for c in range(bpp):
                line[c::bpp] = np.cumsum(cur[c::bpp], dtype=np.int64) & 0xFF
        elif f == 2:  # Up
            line = (cur + prior) & 0xFF
        elif f == 3:  # Average
            line = cur
            for x in range(stride):
                left = line[x - bpp] if x >= bpp else 0
                line[x] = (line[x] + ((left + prior[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            line = cur
            for x in range(stride):
                a = int(line[x - bpp]) if x >= bpp else 0
                b = int(prior[x])
                c = int(prior[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {f}")
        out[y] = line.astype(np.uint8)
    return out


def _gif_lzw_decode(data: bytes, min_code_size: int, n_pixels: int) -> bytes:
    """GIF-variant LZW decode (stdlib-only): LSB-first variable-width
    codes, CLEAR/END control codes, table growth to 12 bits.  Returns
    exactly ``n_pixels`` palette indices; truncated streams, invalid
    codes, and short pixel runs fail loudly (the codec-family policy).
    """
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad GIF LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    base = {i: bytes([i]) for i in range(clear)}
    table = dict(base)
    code_size = min_code_size + 1
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    ptr = 0
    while len(out) < n_pixels:
        while nbits < code_size:
            if ptr >= len(data):
                raise ValueError("GIF LZW stream truncated")
            bitbuf |= data[ptr] << nbits
            ptr += 1
            nbits += 8
        code = bitbuf & ((1 << code_size) - 1)
        bitbuf >>= code_size
        nbits -= code_size
        if code == clear:
            table = dict(base)
            code_size = min_code_size + 1
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if code in table:
            entry = table[code]
        elif prev is not None and code == next_code:
            # the KwKwK case: code refers to the entry being built
            entry = prev + prev[:1]
        else:
            raise ValueError(f"invalid GIF LZW code {code}")
        out += entry
        if prev is not None and next_code < 4096:
            table[next_code] = prev + entry[:1]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = entry
    if len(out) < n_pixels:
        raise ValueError("GIF pixel data short (truncated LZW stream)")
    return bytes(out[:n_pixels])


def decode_gif(payload: bytes, decode_pixels: bool = False) -> dict:
    """REAL codec path #4: GIF parse with stdlib ``struct`` — the
    video-adjacent path, with a full LZW pixel decode behind a dial.

    Walks the block structure of an (optionally animated) GIF: logical
    screen descriptor, color tables, extension blocks (reading frame
    delays from Graphic Control Extensions), and image descriptors —
    counting frames and total animation duration WITHOUT LZW-decoding
    pixel data, exactly what a frame-sampling pipeline needs to build
    its decode schedule (:func:`frame_sample_schedule`) before paying
    for any pixels.  Truncated/garbage streams fail loudly.

    With ``decode_pixels=True`` the FIRST frame's pixel data is fully
    LZW-decoded (:func:`_gif_lzw_decode`, round 8 — closing the one
    container-only codec) and mapped through its active palette, adding
    ``n_pixels`` and per-channel means (``mean_r/g/b``) to the result —
    the same "is this image black/blown-out" ingest feature
    :func:`decode_png` computes.  The schedule-building walk stays the
    default: a sampling pipeline decodes only the frames the schedule
    picks.
    """
    import struct

    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    width, height, packed = struct.unpack_from("<HHB", payload, 6)
    pos = 13
    has_global_palette = bool(packed & 0x80)
    global_palette = b""
    if has_global_palette:
        n_pal = 3 * (2 << (packed & 0x07))
        global_palette = payload[pos : pos + n_pal]
        pos += n_pal

    def skip_subblocks(p: int, collect: bytearray | None = None) -> int:
        while True:
            if p >= len(payload):
                raise ValueError("GIF sub-blocks extend past payload (truncated)")
            n = payload[p]
            p += 1
            if n == 0:
                return p
            if p + n > len(payload):
                raise ValueError("GIF sub-blocks extend past payload (truncated)")
            if collect is not None:
                collect += payload[p : p + n]
            p += n

    n_frames = 0
    duration_cs = 0  # GIF delays are in centiseconds
    first_frame: tuple | None = None  # (fw, fh, palette, mcs, lzw bytes)
    while True:
        if pos >= len(payload):
            raise ValueError("GIF missing trailer (truncated)")
        block = payload[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(payload):
                raise ValueError("GIF extension truncated")
            label = payload[pos]
            pos += 1
            if label == 0xF9 and pos + 5 <= len(payload) and payload[pos] == 4:
                (delay,) = struct.unpack_from("<H", payload, pos + 2)
                duration_cs += delay
            pos = skip_subblocks(pos)
        elif block == 0x2C:  # image descriptor
            if pos + 9 > len(payload):
                raise ValueError("GIF image descriptor truncated")
            fw, fh = struct.unpack_from("<HH", payload, pos + 4)
            (ipacked,) = struct.unpack_from("<B", payload, pos + 8)
            pos += 9
            palette = global_palette
            if ipacked & 0x80:  # local color table
                n_pal = 3 * (2 << (ipacked & 0x07))
                palette = payload[pos : pos + n_pal]
                pos += n_pal
            if pos >= len(payload):
                raise ValueError("GIF image data truncated")
            mcs = payload[pos]
            pos += 1  # LZW minimum code size
            if decode_pixels and n_frames == 0:
                lzw = bytearray()
                pos = skip_subblocks(pos, collect=lzw)
                first_frame = (fw, fh, palette, mcs, bytes(lzw))
            else:
                pos = skip_subblocks(pos)
            n_frames += 1
        else:
            raise ValueError(f"unknown GIF block type 0x{block:02x}")
    if n_frames == 0:
        raise ValueError("GIF contains no image frames")
    out = {
        "width": width,
        "height": height,
        "n_frames": n_frames,
        "duration_ms": duration_cs * 10,
        "has_global_palette": has_global_palette,
    }
    if decode_pixels:
        fw, fh, palette, mcs, lzw = first_frame
        if not palette:
            raise ValueError("GIF frame has no color table to decode with")
        idx = _gif_lzw_decode(lzw, mcs, fw * fh)
        if max(idx) * 3 + 3 > len(palette):
            raise ValueError("GIF pixel index exceeds palette size")
        import numpy as np

        pal = np.frombuffer(palette, dtype=np.uint8).reshape(-1, 3)
        px = pal[np.frombuffer(idx, dtype=np.uint8)]
        out.update(
            {
                "n_pixels": fw * fh,
                "mean_r": round(float(px[:, 0].mean()), 4),
                "mean_g": round(float(px[:, 1].mean()), 4),
                "mean_b": round(float(px[:, 2].mean()), 4),
            }
        )
    return out


GIF_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, n_frames int, duration_ms long, "
    "has_global_palette boolean"
)


def _extract_gif(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [decode_gif(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            rows,
            columns=[
                "width",
                "height",
                "n_frames",
                "duration_ms",
                "has_global_palette",
            ],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def gif_features(media: DataFrame) -> DataFrame:
    """Real-codec animation feature extraction: ``(doc_id, payload
    binary)`` rows → frame count / duration per item, through the same
    Arrow-batched ``mapInPandas`` shape as the other codec paths."""
    return media.select("doc_id", "payload").mapInPandas(
        _extract_gif, schema=GIF_FEATURE_SCHEMA
    )


PNG_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bit_depth int, channels int, "
    "n_pixels long, mean_sample double"
)


def _extract_png(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [decode_png(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            rows,
            columns=[
                "width",
                "height",
                "bit_depth",
                "channels",
                "n_pixels",
                "mean_sample",
            ],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def png_features(media: DataFrame) -> DataFrame:
    """Real-codec PNG feature extraction: ``(doc_id, payload binary)``
    rows → decoded-pixel stats per item, through the same Arrow-batched
    ``mapInPandas`` shape as :func:`wav_features` / :func:`bmp_features`."""
    return media.select("doc_id", "payload").mapInPandas(
        _extract_png, schema=PNG_FEATURE_SCHEMA
    )


BMP_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, bits_per_pixel int, "
    "row_stride int, n_pixels long, top_down boolean"
)


def _extract_bmp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [decode_bmp(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            rows,
            columns=[
                "width",
                "height",
                "bits_per_pixel",
                "row_stride",
                "n_pixels",
                "top_down",
            ],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def bmp_features(media: DataFrame) -> DataFrame:
    """Real-codec image feature extraction: ``(doc_id, payload binary)``
    rows → BMP geometry per item, through the same Arrow-batched
    ``mapInPandas`` shape as :func:`wav_features`."""
    return media.select("doc_id", "payload").mapInPandas(
        _extract_bmp, schema=BMP_FEATURE_SCHEMA
    )


WAV_FEATURE_SCHEMA = (
    "doc_id long, n_channels int, sample_rate int, bits_per_sample int, "
    "n_samples long, duration_ms double"
)


def _extract_wav(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [decode_wav(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            rows,
            columns=[
                "n_channels",
                "sample_rate",
                "bits_per_sample",
                "n_samples",
                "duration_ms",
            ],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def wav_features(media: DataFrame) -> DataFrame:
    """Real-codec feature extraction: ``(doc_id, payload binary)`` rows →
    PCM geometry per item, through the same Arrow-batched ``mapInPandas``
    shape as :func:`multimodal_features` — partition-parallel, no
    shuffle, bytes never leave the batch."""
    return media.select("doc_id", "payload").mapInPandas(
        _extract_wav, schema=WAV_FEATURE_SCHEMA
    )


def _extract_features(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """mapInPandas feature extractor: Arrow batches in, feature rows out.

    One output row per media row; runs partition-parallel with no
    shuffle — the canonical shape for per-item media processing.
    """
    for pdf in batches:
        feats = [
            decode_stub(payload, kind)
            for payload, kind in zip(pdf["payload"], pdf["kind"])
        ]
        out = pd.DataFrame(feats)
        out.insert(0, "doc_id", pdf["doc_id"].values)
        out.insert(1, "kind", pdf["kind"].values)
        yield out


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over the media table via mapInPandas (stub
    codec).  Deterministic, hence oracle-checkable end-to-end."""
    media = media_table(spark, sf_dir)
    return (
        media.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)
        .orderBy("doc_id")
    )


def frame_sample_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling SCHEDULE for the video rows: one row per frame to
    decode, with its byte offset into the payload.

    This is the part of video processing that is pure Spark plumbing
    regardless of codec: deciding WHICH frames to pull (every 64 bytes,
    capped at 8 — the stub's fake GOP) and fanning one row per media
    item out to one row per frame via ``sequence`` + ``explode`` —
    JVM-side, no Python.  A real pipeline feeds exactly this schedule to
    the decode UDF so each Arrow batch carries (payload-slice, frame)
    work items; videos too short for one frame produce no rows.
    """
    media = media_table(spark, sf_dir)
    n_frames = F.least(F.floor(F.length("payload") / 64), F.lit(8)).cast("int")
    return (
        media.where(F.col("kind") == "video")
        .withColumn("n_frames", n_frames)
        .where(F.col("n_frames") > 0)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(0), F.col("n_frames") - 1)
            ).alias("frame_idx"),
        )
        .select(
            "doc_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            (F.col("frame_idx") * 64).cast("long").alias("byte_offset"),
        )
        .orderBy("doc_id", "frame_idx")
    )


#: payload_chunks: fixed chunk size in bytes for the audio rows
CHUNK_BYTES = 64


def payload_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size chunking of the audio payloads: one row per
    ``CHUNK_BYTES`` segment with its offset, length, and content digest —
    the segmentation step an ASR/batch-inference pipeline runs before
    feeding audio to a model.

    Pure JVM plumbing (``sequence`` + ``posexplode`` + ``substr`` —
    Python never touches the bytes); the digest lets a downstream
    exactly-once consumer dedupe re-delivered chunks.  Payloads are
    ASCII text bytes (see :func:`media_table`), so the oracle chunks the
    same characters and md5s match byte-for-byte.
    """
    media = media_table(spark, sf_dir)
    n_chunks = F.ceil(F.length("payload") / CHUNK_BYTES).cast("int")
    return (
        media.where((F.col("kind") == "audio") & (F.length("payload") > 0))
        .withColumn("n_chunks", n_chunks)
        .select(
            "doc_id",
            "payload",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, n_chunks - 1), "
                    f"i -> substring(payload, i * {CHUNK_BYTES} + 1, "
                    f"{CHUNK_BYTES}))"
                )
            ).alias("chunk_idx", "chunk"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            (F.col("chunk_idx") * CHUNK_BYTES).cast("long").alias("byte_offset"),
            F.length("chunk").cast("long").alias("n_chunk_bytes"),
            F.md5("chunk").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


ORACLES = {
    "payload_chunks": f"""
        WITH audio AS (
            SELECT doc_id, text FROM documents
            WHERE CAST(doc_id % 3 AS INT) = 1 AND length(text) > 0),
        chunks AS (
            SELECT doc_id,
                   CAST(i AS BIGINT) AS chunk_idx,
                   substr(text, CAST(i * {CHUNK_BYTES} + 1 AS INTEGER),
                          {CHUNK_BYTES}) AS chunk
            FROM audio, LATERAL (SELECT unnest(range(
                CAST(ceil(length(text) / {CHUNK_BYTES}.0) AS BIGINT))) AS i) t)
        SELECT doc_id, chunk_idx,
               chunk_idx * {CHUNK_BYTES} AS byte_offset,
               length(chunk) AS n_chunk_bytes,
               md5(chunk) AS chunk_md5
        FROM chunks ORDER BY doc_id, chunk_idx
    """,
    "frame_sample_schedule": """
        SELECT d.doc_id, gs.frame_idx,
               gs.frame_idx * 64 AS byte_offset
        FROM documents d,
             LATERAL (SELECT unnest(range(
                 CAST(least(octet_length(encode(d.text)) // 64, 8) AS BIGINT)
             )) AS frame_idx) gs
        WHERE CAST(d.doc_id % 3 AS INT) = 2
        ORDER BY d.doc_id, gs.frame_idx
    """,
    # the oracle recomputes the deterministic fake-decode outputs from the
    # same utf-8 payload: octet_length + first byte + fake frame sampling
    "multimodal_features": """
        SELECT doc_id,
               ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1] AS kind,
               octet_length(encode(text)) AS n_bytes,
               CASE WHEN octet_length(encode(text)) > 0
                    THEN ascii(substr(text, 1, 1)) ELSE -1 END AS head_byte,
               CASE WHEN ['image', 'audio', 'video'][CAST(doc_id % 3 AS INT) + 1]
                         = 'video'
                    THEN least(octet_length(encode(text)) // 64, 8)
                    ELSE 1 END AS n_frames_sampled
        FROM documents ORDER BY doc_id
    """,
}

QUERIES = {
    "multimodal_features": multimodal_features,
    "frame_sample_schedule": frame_sample_schedule,
    "payload_chunks": payload_chunks,
}


# --------------------------------------------------------------------------
# JPEG marker walk (real codec path #5, round-9 addition)
# --------------------------------------------------------------------------


def decode_jpeg(payload: bytes) -> dict:
    """REAL codec path #5: JPEG/JFIF marker walk with stdlib ``struct``.

    Walks the marker stream — SOI, APPn, DQT/DHT tables, the SOF frame
    header (geometry + component count + progressive flag), SOS — then
    scans the entropy-coded data respecting byte stuffing (``FF 00``),
    restart markers (``FF D0``–``D7``) and fill bytes (runs of ``FF``,
    JPEG B.1.1.2).  A non-stuffed/non-RST marker inside entropy data
    ENDS the scan and resumes the marker walk: progressive files carry
    multiple SOS scans separated by DHT/DQT segments (and baseline
    files may carry a DNL), so raising there — the round-9 behavior
    this round's ADVICE flagged — would fail every real progressive
    JPEG.  The walk ends at EOI.  No entropy decode (that genuinely
    needs a DCT library); this is the metadata extraction an ingest
    pipeline runs on billions of crawled images — dimensions,
    component count, baseline-vs-progressive — plus a structural
    validity check that catches truncated files.  Truncation, a
    missing frame header, or an invalid marker fail loudly — same
    policy as the other four codecs.
    """
    import struct

    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    sof_kinds = set(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
    pos = 2
    out: dict | None = None
    n_dqt = n_dht = 0
    has_jfif = False
    while True:
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (no SOS/EOI)")
        if payload[pos] != 0xFF:
            raise ValueError(f"invalid marker byte at {pos}")
        # legal fill: any run of 0xFF bytes may pad before a marker
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG (fill bytes to EOF)")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01, *range(0xD0, 0xD8)):  # standalone
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment length")
        (seg_len,) = struct.unpack_from(">H", payload, pos)
        if seg_len < 2 or pos + seg_len > len(payload):
            raise ValueError("JPEG segment extends past payload")
        body = payload[pos + 2 : pos + seg_len]
        if marker == 0xE0 and body[:5] == b"JFIF\x00":
            has_jfif = True
        elif marker == 0xDB:
            n_dqt += 1
        elif marker == 0xC4:
            n_dht += 1
        elif marker in sof_kinds:
            if len(body) < 6:
                raise ValueError("truncated SOF header")
            precision = body[0]
            height, width = struct.unpack_from(">HH", body, 1)
            n_components = body[5]
            out = {
                "width": width,
                "height": height,
                "n_components": n_components,
                "precision": precision,
                "progressive": marker == 0xC2,
            }
        pos += seg_len
        if marker == 0xDA:  # SOS — scan entropy data to the next marker
            if out is None:
                raise ValueError("SOS before SOF (no frame header)")
            while True:
                if pos + 1 >= len(payload):
                    raise ValueError("truncated entropy stream (no EOI)")
                if payload[pos] == 0xFF:
                    nxt = payload[pos + 1]
                    if nxt == 0x00 or 0xD0 <= nxt <= 0xD7:
                        pos += 2  # stuffed byte / restart marker
                        continue
                    if nxt == 0xFF:
                        pos += 1  # fill byte run inside entropy data
                        continue
                    # real marker (EOI, or a later progressive scan's
                    # DHT/DQT/SOS, or DNL): resume the outer walk at it
                    break
                pos += 1
            continue
    if out is None:
        raise ValueError("no SOF frame header found")
    if out["width"] <= 0 or out["height"] <= 0 or out["n_components"] == 0:
        raise ValueError("degenerate JPEG geometry")
    out["n_quant_tables"] = n_dqt
    out["n_huff_tables"] = n_dht
    out["has_jfif"] = has_jfif
    return out


JPEG_FEATURE_SCHEMA = (
    "doc_id long, width int, height int, n_components int, precision int, "
    "progressive boolean, n_quant_tables int, n_huff_tables int, "
    "has_jfif boolean"
)


def _extract_jpeg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [decode_jpeg(p) for p in pdf["payload"]]
        out = pd.DataFrame(
            rows,
            columns=[
                "width",
                "height",
                "n_components",
                "precision",
                "progressive",
                "n_quant_tables",
                "n_huff_tables",
                "has_jfif",
            ],
        )
        out.insert(0, "doc_id", pdf["doc_id"].values)
        yield out


def jpeg_features(media: DataFrame) -> DataFrame:
    """Real-codec JPEG metadata extraction through the same Arrow-batched
    ``mapInPandas`` shape as the other four codecs."""
    return media.select("doc_id", "payload").mapInPandas(
        _extract_jpeg, schema=JPEG_FEATURE_SCHEMA
    )


# --------------------------------------------------------------------------
# Perceptual-hash image dedup (round-13 addition)
# --------------------------------------------------------------------------

#: dedup_image_phash geometry: IMG_SIDE×IMG_SIDE 8-bit gray images,
#: aHash over 2×2 block means → 64 bits, banded into 4×16-bit chunks.
#: With PHASH_MAX_HAMMING = 3 < 4 bands the chunk blocking is LOSSLESS
#: by pigeonhole (same argument as dedup_simhash): the operator finds
#: EXACTLY the Hamming ≤ 3 pairs, no approximation.
IMG_SIDE = 16
PHASH_BAND_BITS = 16
PHASH_BANDS = 4
PHASH_MAX_HAMMING = 3
#: plant density: every 16th image is a near-duplicate of its
#: predecessor image (pixels 0 and 1 brightened by +8)
PHASH_PLANT_MOD = 16


def _png_encode_gray(px: bytes, w: int, h: int) -> bytes:
    """Minimal REAL PNG encoder (stdlib struct+zlib): 8-bit grayscale,
    filter 0 scanlines, non-interlaced, CRC-correct chunks — the exact
    dialect :func:`_png_pixels` round-trips (and validates: chunk CRCs,
    stream length)."""
    import struct
    import zlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    raw = b"".join(b"\x00" + px[y * w : (y + 1) * w] for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)  # 8-bit gray
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def image_corpus(docs: DataFrame, n_hint: int | None = None) -> DataFrame:
    """The image-kind rows of :func:`media_table` as REAL PNG payloads.

    The synthetic corpus has no decodable images (payloads are text
    bytes), so — per the repo's self-plant convention (_moji_plant,
    _pii_plant) — the operator synthesizes deterministic 16×16 grayscale
    pixels per image doc and ENCODES them through a real PNG writer:
    ``px[i] = hash60('imgpx:<base>:<i>') % 240``, where ``base`` is the
    doc itself except every ``PHASH_PLANT_MOD``-th image, which reuses
    its predecessor image's pixels with pixels 0–1 brightened by +8 (a
    planted near-duplicate: same image, slightly re-exposed).  Both
    engines replay the pixel formula exactly — the oracle from the SQL
    ``md5``, this side from ``hashlib.md5`` (byte-identical, the
    dedup_simhash precedent).
    """
    from .dedup import fan_out_sized

    imgs = docs.where(F.expr("doc_id % 3 = 0")).select(
        "doc_id",
        F.expr(
            "CASE WHEN (doc_id div 3) % "
            f"{PHASH_PLANT_MOD} = 1 THEN doc_id - 3 ELSE doc_id END"
        ).alias("base"),
        F.expr(f"(doc_id div 3) % {PHASH_PLANT_MOD} = 1").alias("pert"),
    )
    if n_hint:
        # the encode kernel is ~256 md5 calls per row — fan out so the
        # single-file testdata scan doesn't serialize it on one task
        # (rows_per_task sized for this kernel's per-row weight)
        imgs = fan_out_sized(imgs, n_hint, rows_per_task=128)

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.vecmd5 import md5_u60_grid

        side = IMG_SIDE
        n_px = side * side
        for pdf in batches:
            if not len(pdf):
                continue
            # round-14 kernel: the per-pixel md5 grid runs as ONE
            # vectorized pass per batch (values bit-identical to
            # hashlib — vecmd5's contract), deduped per distinct base
            # (a planted near-dup reuses its predecessor's pixels)
            bases = pdf["base"].to_numpy()
            uniq, inv = np.unique(bases, return_inverse=True)
            grid = md5_u60_grid(
                [f"imgpx:{b}:".encode() for b in uniq], n_px
            )
            px = (grid % 240).astype(np.uint8)[inv]
            pert = pdf["pert"].to_numpy(dtype=bool)
            px[pert, :2] += 8  # max 239+8 < 256: no uint8 wrap
            payloads = [
                _png_encode_gray(row.tobytes(), side, side) for row in px
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return imgs.mapInPandas(encode_batches, "doc_id long, payload binary")


def image_ahash_bands(media: DataFrame) -> DataFrame:
    """aHash of a PNG payload column, banded: decode pixels through the
    REAL decoder (:func:`_png_pixels` — chunk walk, CRC verify, inflate,
    unfilter), average 2×2 blocks (integer floor), threshold each block
    mean against the integer mean-of-means, and pack the 64 bits
    (j = block_row·8 + block_col) into ``PHASH_BANDS`` little-endian
    16-bit band values.  All-integer, so the DuckDB oracle reproduces
    every bit.
    """

    def ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            mats = []
            for payload in pdf["payload"]:
                m, w, h, _depth, ch = _png_pixels(bytes(payload))
                if ch != 1:
                    raise ValueError("image_ahash_bands expects grayscale")
                mats.append(m.reshape(h, w))
            # round-14: banding math batched across the whole Arrow
            # batch (one (N,8,8) block-mean pass + one packed-bits
            # matmul instead of ~10 tiny numpy ops per item)
            g = np.stack(mats).astype(np.int64)
            n, h, w = g.shape
            blocks = g.reshape(n, h // 2, 2, w // 2, 2).sum(axis=(2, 4)) // 4
            flat = blocks.reshape(n, -1)
            mean = flat.sum(axis=1) // flat.shape[1]
            bits = (flat >= mean[:, None]).astype(np.int64)
            weights = np.int64(1) << np.arange(
                PHASH_BAND_BITS, dtype=np.int64
            )
            out = {"doc_id": pdf["doc_id"]}
            for k in range(PHASH_BANDS):
                seg = bits[
                    :, k * PHASH_BAND_BITS : (k + 1) * PHASH_BAND_BITS
                ]
                out[f"b{k}"] = (seg * weights).sum(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        ahash_batches, "doc_id long, b0 int, b1 int, b2 int, b3 int"
    )


def dedup_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the image corpus — the
    multimodal leg of the dedup family (re-encoded / re-exposed copies
    of the same image share an aHash even when their bytes differ, so
    exact/byte dedup misses them).

    Pipeline: real PNG encode (:func:`image_corpus`) → real PNG decode +
    aHash (:func:`image_ahash_bands`) → 16-bit-band equi-join →
    exact-Hamming verify ≤ ``PHASH_MAX_HAMMING``.  The banding is the
    :func:`~.dedup.dedup_simhash` construction and, at max Hamming 3 <
    4 bands, LOSSLESS by pigeonhole — output is exactly the Hamming ≤ 3
    pair set.

    Scale: candidate generation is an equi-join on (band index, band
    value) — never an all-pairs product; at 100 TB the band table is a
    skinny (doc_id, 4 ints) projection and hot-band skew is bounded by
    the 2¹⁶ value space per band (AQE skew-split handles residual
    hotspots).  Python touches each image once (decode + 64-int hash);
    everything after is JVM equi-join + bit_count.

    No counterpart in the reference (SURVEY §2.4 extension; multimodal
    training-data-pipeline family).
    """
    return image_phash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_image_phash` without the presentation sort — for
    composition (the connected-components edge list of
    :func:`media_dedup_clusters`)."""
    from ..cache import persist_tracked
    from ..sources.tables import table_row_count

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")
    # persist + materialize: the band table feeds BOTH join sides — an
    # unpersisted plan would run the encode+decode kernels twice (and
    # it is the skinny (doc_id, 4 ints) projection, trivially cached)
    bands = persist_tracked(
        image_ahash_bands(image_corpus(docs, n_hint=n_docs // 3))
    )
    bands.count()
    return _banded_hamming_pairs(bands)


def _banded_hamming_pairs(bands: DataFrame) -> DataFrame:
    """Shared candidate-generation + verify tail for 64-bit perceptual
    fingerprints (image aHash, audio delta-sign): explode the 4 band
    values into band keys, equi-join, verify exact Hamming ≤
    ``PHASH_MAX_HAMMING`` — lossless at ham ≤ 3 < 4 bands (pigeonhole,
    the dedup_simhash construction).  Unsorted: the public pair queries
    add the ``orderBy``."""
    chunks = bands.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(k), F.col(f"b{k}").cast("string"))
                    for k in range(PHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = sum(
        F.bit_count(
            F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}"))
        )
        for k in range(PHASH_BANDS)
    )
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (hamming <= PHASH_MAX_HAMMING),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


from .dedup import _hash60_sql as _h60  # noqa: E402


def _banded_pairs_sql(bit_ctes: str) -> str:
    """DuckDB twin of :func:`_banded_hamming_pairs`, shared by the image
    and audio fingerprint oracles: ``bit_ctes`` must end with a CTE
    ``bits(doc_id, j, bit)`` (j in 0..63); this appends the identical
    band packing, band-key candidate join, and exact-Hamming verify."""
    return f"""
    WITH {bit_ctes},
    bands AS (SELECT doc_id, j // {PHASH_BAND_BITS} AS k,
                     sum(bit * (1 << (j % {PHASH_BAND_BITS}))) AS val
              FROM bits GROUP BY doc_id, j // {PHASH_BAND_BITS}),
    wide AS (SELECT doc_id,
                    sum(CASE WHEN k = 0 THEN val ELSE 0 END) AS b0,
                    sum(CASE WHEN k = 1 THEN val ELSE 0 END) AS b1,
                    sum(CASE WHEN k = 2 THEN val ELSE 0 END) AS b2,
                    sum(CASE WHEN k = 3 THEN val ELSE 0 END) AS b3
             FROM bands GROUP BY doc_id),
    chunks AS (SELECT doc_id, b0, b1, b2, b3,
                      unnest([concat('0:', b0), concat('1:', b1),
                              concat('2:', b2), concat('3:', b3)]) AS ck
               FROM wide),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.b0 AS a0, a.b1 AS a1, a.b2 AS a2, a.b3 AS a3,
                    b.b0 AS c0, b.b1 AS c1, b.b2 AS c2, b.b3 AS c3
             FROM chunks a JOIN chunks b
             ON a.ck = b.ck AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
                + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3))
                AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(a0, c0)) + bit_count(xor(a1, c1))
          + bit_count(xor(a2, c2)) + bit_count(xor(a3, c3))
          <= {PHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
"""


_IMG_BITS_CTES = f"""
    imgs AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
    par AS (SELECT doc_id,
                   CASE WHEN (doc_id // 3) % {PHASH_PLANT_MOD} = 1
                        THEN doc_id - 3 ELSE doc_id END AS base,
                   ((doc_id // 3) % {PHASH_PLANT_MOD} = 1) AS pert
            FROM imgs),
    px AS (SELECT doc_id,
                  r.i AS i,
                  {_h60("concat('imgpx:', base, ':', r.i)")} % 240
                  + CASE WHEN pert AND r.i < 2 THEN 8 ELSE 0 END AS v
           FROM par, range({IMG_SIDE * IMG_SIDE}) r(i)),
    avgs AS (SELECT doc_id,
                    ((i // {IMG_SIDE}) // 2) * 8 + ((i % {IMG_SIDE}) // 2) AS j,
                    sum(v) // 4 AS a
             FROM px GROUP BY doc_id, ((i // {IMG_SIDE}) // 2) * 8
                     + ((i % {IMG_SIDE}) // 2)),
    means AS (SELECT doc_id, sum(a) // 64 AS m FROM avgs GROUP BY doc_id),
    bits AS (SELECT avgs.doc_id, j,
                    CASE WHEN a >= m THEN 1 ELSE 0 END AS bit
             FROM avgs JOIN means ON means.doc_id = avgs.doc_id)"""

ORACLES["dedup_image_phash"] = _banded_pairs_sql(_IMG_BITS_CTES)

QUERIES["dedup_image_phash"] = dedup_image_phash


# --------------------------------------------------------------------------
# Audio fingerprint dedup (round-13 addition — the audio leg)
# --------------------------------------------------------------------------

#: dedup_audio_fingerprint geometry: mono 8-bit PCM clips of
#: AUDIO_FRAME·(AUDIO_BITS+1) samples; fingerprint bit j = 1 iff frame
#: j+1's energy exceeds frame j's (the energy-delta sign sequence — the
#: Shazam/Chromaprint family's core invariant, EXACTLY invariant to a
#: uniform DC offset and to any monotone per-frame-preserving gain).
#: Bands/verify reuse the image constants (4×16-bit, ham ≤ 3 lossless).
AUDIO_FRAME = 4
AUDIO_BITS = 64
AUDIO_N_SAMPLES = AUDIO_FRAME * (AUDIO_BITS + 1)
AUDIO_RATE = 8000


def _wav_encode_pcm8(samples: bytes, rate: int = AUDIO_RATE) -> bytes:
    """Minimal REAL WAV encoder (stdlib struct): RIFF/WAVE with a
    16-byte PCM ``fmt `` chunk (mono, 8-bit) and a ``data`` chunk — the
    exact dialect :func:`decode_wav` walks and validates."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate, 1, 8)
    data = samples
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_pcm8_samples(payload: bytes):
    """Decode a mono 8-bit PCM WAV to its sample array through the REAL
    chunk walk: :func:`decode_wav` validates geometry (fail-loud on
    non-PCM/truncation), then the data chunk bytes are located by the
    same RIFF walk and returned as uint8."""
    import struct

    import numpy as np

    geo = decode_wav(payload)
    if geo["bits_per_sample"] != 8 or geo["n_channels"] != 1:
        raise ValueError("fingerprint expects mono 8-bit PCM")
    pos = 12
    while pos + 8 <= len(payload):
        chunk_id = payload[pos : pos + 4]
        (chunk_len,) = struct.unpack_from("<I", payload, pos + 4)
        body = pos + 8
        if chunk_id == b"data":
            return np.frombuffer(
                payload[body : body + chunk_len], dtype=np.uint8
            )
        pos = body + chunk_len + (chunk_len & 1)
    raise ValueError("WAV missing data chunk")  # unreachable post-decode


def audio_corpus(docs: DataFrame, n_hint: int | None = None) -> DataFrame:
    """The audio-kind rows of :func:`media_table` as REAL WAV payloads —
    the audio twin of :func:`image_corpus`: deterministic samples
    ``u[i] = hash60('wavpx:<base>:<i>') % 200``, with every
    ``PHASH_PLANT_MOD``-th audio doc reusing its predecessor's samples
    with samples 0–1 raised by +8 (a planted near-duplicate: the same
    recording with a small leading edit)."""
    from .dedup import fan_out_sized

    auds = docs.where(F.expr("doc_id % 3 = 1")).select(
        "doc_id",
        F.expr(
            "CASE WHEN ((doc_id - 1) div 3) % "
            f"{PHASH_PLANT_MOD} = 1 THEN doc_id - 3 ELSE doc_id END"
        ).alias("base"),
        F.expr(
            f"((doc_id - 1) div 3) % {PHASH_PLANT_MOD} = 1"
        ).alias("pert"),
    )
    if n_hint:
        auds = fan_out_sized(auds, n_hint, rows_per_task=128)

    def encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        from ..functions.vecmd5 import md5_u60_grid

        for pdf in batches:
            if not len(pdf):
                continue
            # round-14 kernel: one vectorized md5 grid per batch,
            # deduped per distinct base (see image_corpus)
            bases = pdf["base"].to_numpy()
            uniq, inv = np.unique(bases, return_inverse=True)
            grid = md5_u60_grid(
                [f"wavpx:{b}:".encode() for b in uniq], AUDIO_N_SAMPLES
            )
            u = (grid % 200).astype(np.uint8)[inv]
            pert = pdf["pert"].to_numpy(dtype=bool)
            u[pert, :2] += 8  # max 199+8 < 256: no uint8 wrap
            payloads = [_wav_encode_pcm8(row.tobytes()) for row in u]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads}
            )

    return auds.mapInPandas(encode_batches, "doc_id long, payload binary")


def audio_delta_bands(media: DataFrame) -> DataFrame:
    """Energy-delta-sign fingerprint of a WAV payload column, banded:
    decode PCM through the real chunk walk, sum ``AUDIO_FRAME``-sample
    frame energies, emit bit j = (E[j+1] > E[j]) for the 64 deltas, and
    pack into 4×16-bit band values.  All-integer; EXACTLY invariant to
    a uniform DC offset (every frame energy shifts equally, no strict
    inequality flips) — the property the pytest pins."""

    def fp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            samples = []
            for payload in pdf["payload"]:
                u = _wav_pcm8_samples(bytes(payload))
                if len(u) != AUDIO_N_SAMPLES:
                    raise ValueError(
                        f"expected {AUDIO_N_SAMPLES} samples, got {len(u)}"
                    )
                samples.append(u)
            # round-14: frame-energy + delta-sign + band packing batched
            # across the whole Arrow batch (see image_ahash_bands)
            us = np.stack(samples).astype(np.int64)
            e = us.reshape(-1, AUDIO_BITS + 1, AUDIO_FRAME).sum(axis=2)
            bits = (e[:, 1:] > e[:, :-1]).astype(np.int64)
            weights = np.int64(1) << np.arange(
                PHASH_BAND_BITS, dtype=np.int64
            )
            out = {"doc_id": pdf["doc_id"]}
            for k in range(PHASH_BANDS):
                seg = bits[
                    :, k * PHASH_BAND_BITS : (k + 1) * PHASH_BAND_BITS
                ]
                out[f"b{k}"] = (seg * weights).sum(axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    return media.select("doc_id", "payload").mapInPandas(
        fp_batches, "doc_id long, b0 int, b1 int, b2 int, b3 int"
    )


def dedup_audio_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acoustic-fingerprint near-dup pairs over the audio corpus — the
    audio leg of the multimodal dedup family (a re-encoded / re-leveled
    copy of the same recording differs byte-wise but keeps its energy
    contour, so exact dedup misses it; this catches it).

    Pipeline: real WAV encode (:func:`audio_corpus`) → real chunk-walk
    decode + delta-sign fingerprint (:func:`audio_delta_bands`) → the
    shared 16-bit-band equi-join + exact-Hamming verify
    (:func:`_banded_hamming_pairs`, lossless at ham ≤ 3).  Same scale
    posture as :func:`dedup_image_phash`: Python touches each clip
    once; candidates come from a banded equi-join, never a product.

    No counterpart in the reference (SURVEY §2.4 extension; multimodal
    training-data-pipeline family).
    """
    return audio_fingerprint_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def audio_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`dedup_audio_fingerprint` without the presentation sort —
    for composition (the connected-components edge list of
    :func:`media_dedup_clusters`)."""
    from ..cache import persist_tracked
    from ..sources.tables import table_row_count

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")
    bands = persist_tracked(
        audio_delta_bands(audio_corpus(docs, n_hint=n_docs // 3))
    )
    bands.count()
    return _banded_hamming_pairs(bands)


_AUD_BITS_CTES = f"""
    auds AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
    par AS (SELECT doc_id,
                   CASE WHEN ((doc_id - 1) // 3) % {PHASH_PLANT_MOD} = 1
                        THEN doc_id - 3 ELSE doc_id END AS base,
                   (((doc_id - 1) // 3) % {PHASH_PLANT_MOD} = 1) AS pert
            FROM auds),
    px AS (SELECT doc_id,
                  r.i AS i,
                  {_h60("concat('wavpx:', base, ':', r.i)")} % 200
                  + CASE WHEN pert AND r.i < 2 THEN 8 ELSE 0 END AS v
           FROM par, range({AUDIO_N_SAMPLES}) r(i)),
    frames AS (SELECT doc_id, i // {AUDIO_FRAME} AS f, sum(v) AS e
               FROM px GROUP BY doc_id, i // {AUDIO_FRAME}),
    bits AS (SELECT a.doc_id, a.f AS j,
                    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
             FROM frames a JOIN frames b
             ON b.doc_id = a.doc_id AND b.f = a.f + 1
             WHERE a.f < {AUDIO_BITS})"""

ORACLES["dedup_audio_fingerprint"] = _banded_pairs_sql(_AUD_BITS_CTES)

QUERIES["dedup_audio_fingerprint"] = dedup_audio_fingerprint


def media_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve BOTH perceptual-fingerprint pair lists (image aHash +
    audio delta-sign) into keep/drop clusters — the canonicalization
    step that completes the multimodal dedup pipeline, exactly as
    :func:`~.graph.dedup_clusters` completes the text pipeline: edges =
    near-dup pairs, transitive closure via min-label propagation with
    pointer doubling (:func:`~.graph.connected_components`), canonical =
    lowest doc_id per cluster.  Image and audio doc populations are
    disjoint (doc_id mod 3), so components never mix modalities — the
    union is a convenience, not a semantic merge.

    Scale posture: both edge generators are banded equi-joins (never a
    product), and each CC sweep shuffles two longs per edge; cluster
    diameter for perceptual near-dups is tiny (dense blobs).

    No counterpart in the reference (SURVEY §2.4 extension; multimodal
    training-data-pipeline family).
    """
    from .graph import connected_components

    pairs = (
        image_phash_pairs(spark, sf_dir)
        .select("doc_a", "doc_b")
        .union(
            audio_fingerprint_pairs(spark, sf_dir).select("doc_a", "doc_b")
        )
    )
    labels = connected_components(pairs, "doc_a", "doc_b")
    modality = F.when(F.col("doc_id") % 3 == 0, "image").otherwise("audio")
    return (
        labels.select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            (F.col("id") == F.col("label")).alias("is_canonical"),
        )
        .withColumn("modality", modality)
        .select("doc_id", "modality", "cluster_id", "is_canonical")
        .orderBy("doc_id")
    )


ORACLES["media_dedup_clusters"] = f"""
    WITH RECURSIVE
    ipairs AS ({ORACLES["dedup_image_phash"]}),
    apairs AS ({ORACLES["dedup_audio_fingerprint"]}),
    pairs AS (SELECT doc_a, doc_b FROM ipairs
              UNION ALL SELECT doc_a, doc_b FROM apairs),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL
              SELECT doc_b AS src, doc_a AS dst FROM pairs),
    verts AS (SELECT DISTINCT src AS doc_id FROM edges),
    reach(doc_id, label) AS (
        SELECT doc_id, doc_id AS label FROM verts
        UNION
        SELECT e.dst AS doc_id, r.label
        FROM reach r JOIN edges e ON e.src = r.doc_id)
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'audio' END
               AS modality,
           min(label) AS cluster_id,
           (doc_id = min(label)) AS is_canonical
    FROM reach GROUP BY doc_id ORDER BY doc_id
"""

QUERIES["media_dedup_clusters"] = media_dedup_clusters


# --------------------------------------------------------------------------
# Incremental fingerprint screen (round-13 addition — the ingest shape)
# --------------------------------------------------------------------------


def _band_chunks(bands: DataFrame) -> DataFrame:
    """Explode a (doc_id, b0..b3) band table into band-key rows —
    shared by the self-join pair generator and the incremental
    new×old screen."""
    return bands.select(
        "doc_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.explode(
            F.array(
                *[
                    F.concat_ws(":", F.lit(k), F.col(f"b{k}").cast("string"))
                    for k in range(PHASH_BANDS)
                ]
            )
        ).alias("band_key"),
    )


def _banded_hamming_hits(
    new_bands: DataFrame, old_bands: DataFrame
) -> DataFrame:
    """Distinct NEW doc_ids whose fingerprint sits within
    ``PHASH_MAX_HAMMING`` of any OLD doc — the asymmetric (ingest)
    variant of :func:`_banded_hamming_pairs`, same lossless banding."""
    a = _band_chunks(new_bands).alias("a")
    b = _band_chunks(old_bands).alias("b")
    hamming = sum(
        F.bit_count(F.col(f"a.b{k}").bitwiseXOR(F.col(f"b.b{k}")))
        for k in range(PHASH_BANDS)
    )
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (hamming <= PHASH_MAX_HAMMING),
        )
        .select(F.col("a.doc_id").alias("doc_id"))
        .distinct()
    )


def dedup_media_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PERCEPTUAL dedup: screen an incoming media batch
    against the already-ingested corpus — the multimodal twin of
    :func:`~.dedup.dedup_incremental` (dedup the new crawl's images and
    audio WITHOUT re-deduping the existing corpus against itself).

    The batch/corpus split is the engine's shared deterministic hash
    split (``dedup._incr_is_new``, ~20% new); each modality's band
    table is computed once (in production the corpus side is the
    persisted band index the pipeline keeps between runs, exactly as
    the gram/band/ann index families do), the screen is the asymmetric
    new×old band-key equi-join at the same lossless ham ≤ 3 verify, and
    the summary is one row per modality: n_new, n_dup (near-dup of an
    indexed item), n_kept.

    No counterpart in the reference (SURVEY §2.4 extension; multimodal
    training-data-pipeline family, ingest/maintenance axis).
    """
    from ..cache import persist_tracked
    from ..sources.tables import table_row_count
    from .dedup import _incr_is_new

    docs = load_table(spark, sf_dir, "documents")
    n_docs = table_row_count(spark, sf_dir, "documents")

    def screen(bands: DataFrame, modality: str) -> DataFrame:
        bands = persist_tracked(bands)
        bands.count()
        is_new = _incr_is_new()
        newb, oldb = bands.where(is_new), bands.where(~is_new)
        hits = _banded_hamming_hits(newb, oldb).withColumn(
            "is_dup", F.lit(1)
        )
        flagged = newb.select("doc_id").join(hits, "doc_id", "left")
        dup = F.coalesce("is_dup", F.lit(0))
        # coalesce the sums: over an EMPTY new batch (possible on a tiny
        # corpus where the ~20% hash split selects no new docs for one
        # modality) sum() is NULL while the oracle emits 0
        return flagged.agg(
            F.lit(modality).alias("modality"),
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.coalesce(F.sum(dup), F.lit(0)).cast("long").alias("n_dup"),
            F.coalesce(F.sum(1 - dup), F.lit(0))
            .cast("long")
            .alias("n_kept"),
        )

    img = screen(
        image_ahash_bands(image_corpus(docs, n_hint=n_docs // 3)), "image"
    )
    aud = screen(
        audio_delta_bands(audio_corpus(docs, n_hint=n_docs // 3)), "audio"
    )
    return img.unionAll(aud).orderBy("modality")


def _fp_wide_query(bit_ctes: str) -> str:
    """DuckDB query producing the per-doc (doc_id, b0..b3) band table
    from a ``bits(doc_id, j, bit)`` CTE chain — the shared front half of
    :func:`_banded_pairs_sql`, also consumed by the incremental
    screen's oracle."""
    return f"""
    WITH {bit_ctes},
    bands AS (SELECT doc_id, j // {PHASH_BAND_BITS} AS k,
                     sum(bit * (1 << (j % {PHASH_BAND_BITS}))) AS val
              FROM bits GROUP BY doc_id, j // {PHASH_BAND_BITS}),
    wide AS (SELECT doc_id,
                    sum(CASE WHEN k = 0 THEN val ELSE 0 END) AS b0,
                    sum(CASE WHEN k = 1 THEN val ELSE 0 END) AS b1,
                    sum(CASE WHEN k = 2 THEN val ELSE 0 END) AS b2,
                    sum(CASE WHEN k = 3 THEN val ELSE 0 END) AS b3
             FROM bands GROUP BY doc_id)
    SELECT doc_id, b0, b1, b2, b3 FROM wide
"""


def _incr_screen_sql(bit_ctes: str, modality: str) -> str:
    """One modality's incremental-screen summary row (DuckDB)."""
    from .dedup import INCR_BATCH_MOD

    batch_key = "concat('batch:', doc_id)"
    is_new = f"{_h60(batch_key)} % {INCR_BATCH_MOD} = 0"
    unnest = ", ".join(f"concat('{k}:', b{k})" for k in range(PHASH_BANDS))
    ham = " + ".join(
        f"bit_count(xor(nc.b{k}, oc.b{k}))" for k in range(PHASH_BANDS)
    )
    return f"""
    WITH w AS (SELECT * FROM ({_fp_wide_query(bit_ctes)}) t),
    nw AS (SELECT * FROM w WHERE {is_new}),
    ow AS (SELECT * FROM w WHERE NOT ({is_new})),
    nc AS (SELECT doc_id, b0, b1, b2, b3, unnest([{unnest}]) AS ck FROM nw),
    oc AS (SELECT doc_id, b0, b1, b2, b3, unnest([{unnest}]) AS ck FROM ow),
    hits AS (SELECT DISTINCT nc.doc_id FROM nc JOIN oc
             ON nc.ck = oc.ck AND {ham} <= {PHASH_MAX_HAMMING})
    SELECT '{modality}' AS modality,
           (SELECT count(*) FROM nw) AS n_new,
           (SELECT count(*) FROM hits) AS n_dup,
           (SELECT count(*) FROM nw) - (SELECT count(*) FROM hits) AS n_kept
"""


ORACLES["dedup_media_incremental"] = f"""
    SELECT * FROM ({_incr_screen_sql(_AUD_BITS_CTES, "audio")}) a
    UNION ALL
    SELECT * FROM ({_incr_screen_sql(_IMG_BITS_CTES, "image")}) i
    ORDER BY modality
"""

QUERIES["dedup_media_incremental"] = dedup_media_incremental
