"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video travel as ``binary`` columns with a metadata struct;
decode / feature-extraction run as Arrow-batched ``mapInPandas`` stages.
These formats decode for REAL in pure NumPy: binary PPM (P6), 24-bit
BI_RGB BMP and non-interlaced 8-bit PNG images (``decode_image``/
``decode_images`` — PNG rides stdlib zlib for the inflate), and
RIFF/WAVE 16-bit PCM audio (``decode_audio``/``decode_audios``).
Formats needing codec libraries (JPEG/WebP/MP3/video) remain honestly
stubbed because the container has none.  Everything
Spark-side — schema, batching, partitioning, UDF signatures — is real
and tested, and resize/features take the real pixel/sample path when
the payload magic parses.

At scale: payloads dominate partition size, so re-chunk by bytes
(``maxPartitionBytes``) not rows; metadata extraction is a narrow map.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..worker import drops_zip_finders

MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha_prefix", T.StringType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def as_media_table(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from documents: payload = utf-8 bytes of
    the text (deterministic stand-in for image bytes)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
    )


def extract_metadata(media: DataFrame) -> DataFrame:
    """Typed metadata per payload — real plumbing, no media decode needed."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [b"" if p is None else bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in payloads],
                    "sha_prefix": [
                        hashlib.sha256(p).hexdigest()[:16] for p in payloads
                    ],
                }
            )

    return media.mapInPandas(fn, schema=MEDIA_META_SCHEMA)


def _parse_ppm(b: bytes) -> "np.ndarray | None":
    """Binary PPM (P6, maxval <= 255) -> HxWx3 uint8, pure NumPy.
    Returns None when the payload is not a parseable P6 stream (so
    callers can fall back); raises NotImplementedError for valid-but-
    unsupported 16-bit maxval."""
    # magic must be followed by whitespace or a comment ("P63..." is
    # not a P6 stream and must not parse as width=3)
    if not b.startswith(b"P6") or len(b) < 3 or (
        not b[2:3].isspace() and b[2] != 0x23
    ):
        return None
    try:
        pos, vals = 2, []
        while len(vals) < 3:
            # skip whitespace and '#' comments between header tokens
            while pos < len(b) and (b[pos : pos + 1].isspace() or b[pos] == 0x23):
                if b[pos] == 0x23:  # comment to end of line
                    nl = b.find(b"\n", pos)
                    if nl < 0:
                        return None
                    pos = nl
                pos += 1
            start = pos
            while pos < len(b) and b[pos : pos + 1].isdigit():
                pos += 1
            if pos == start:
                return None
            vals.append(int(b[start:pos]))
        w, h, maxval = vals
        if maxval > 255:
            raise NotImplementedError("16-bit PPM (maxval > 255) unsupported")
        if maxval <= 0 or w <= 0 or h <= 0:
            return None
        # exactly one whitespace byte after maxval per the spec; a
        # Windows-written header ends CRLF — accept it, and reject a
        # non-whitespace separator instead of decoding shifted pixels
        if pos >= len(b) or not b[pos : pos + 1].isspace():
            return None
        if b[pos : pos + 2] == b"\r\n":
            pos += 1
        pos += 1
        need = w * h * 3
        if len(b) - pos < need:
            return None
        return (
            np.frombuffer(b, dtype=np.uint8, count=need, offset=pos)
            .reshape(h, w, 3)
            .copy()
        )
    except NotImplementedError:
        raise
    except Exception:
        return None


def _parse_bmp(b: bytes) -> "np.ndarray | None":
    """Uncompressed 24-bit BI_RGB BMP -> HxWx3 uint8 (RGB), pure NumPy.
    Returns None for anything that does not parse as that shape; raises
    NotImplementedError for valid BMPs with unsupported bpp/compression."""
    if len(b) < 54 or not b.startswith(b"BM"):
        return None
    try:
        data_off = int.from_bytes(b[10:14], "little")
        dib = int.from_bytes(b[14:18], "little")
        if dib < 40:
            return None
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = int.from_bytes(b[22:26], "little", signed=True)
        bpp = int.from_bytes(b[28:30], "little")
        comp = int.from_bytes(b[30:34], "little")
        if w <= 0 or h == 0:
            return None
        if bpp != 24 or comp != 0:
            raise NotImplementedError(
                f"BMP bpp={bpp} compression={comp} unsupported (24-bit BI_RGB only)"
            )
        stride = (w * 3 + 3) & ~3  # rows padded to 4 bytes
        n_rows = abs(h)
        # pixel data cannot start inside the file/DIB headers (a
        # data_off of 0 would decode the magic bytes as pixels)
        if data_off < 14 + dib or data_off + stride * n_rows > len(b):
            return None
        rows = np.frombuffer(
            b, dtype=np.uint8, count=stride * n_rows, offset=data_off
        ).reshape(n_rows, stride)[:, : w * 3].reshape(n_rows, w, 3)
        if h > 0:  # bottom-up storage
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR -> RGB
    except NotImplementedError:
        raise
    except Exception:
        return None


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_unfilter(raw: bytes, h: int, w: int, ch: int) -> "np.ndarray":
    """Reverse the PNG per-row filters (None/Sub/Up/Average/Paeth) on the
    inflated scanline stream -> (h, w*ch) uint8.  Up is fully vectorized;
    Sub uses the mod-256 cumsum identity per byte-lane; Average/Paeth
    walk pixels left-to-right (inherently sequential) but operate on
    whole-channel vectors."""
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("PNG scanline stream shorter than h*(stride+1)")
    lines = np.frombuffer(raw, dtype=np.uint8, count=h * (stride + 1)).reshape(
        h, stride + 1
    )
    ftypes = lines[:, 0]
    out = np.zeros((h, stride), dtype=np.uint8)
    prior = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        f = int(ftypes[y])
        row = lines[y, 1:].astype(np.int32)
        if f == 0:  # None
            rec = row
        elif f == 1:  # Sub: rec[x] = row[x] + rec[x-ch]  (mod 256)
            rec = row.reshape(w, ch).cumsum(axis=0).reshape(stride) & 0xFF
        elif f == 2:  # Up
            rec = (row + prior) & 0xFF
        elif f == 3:  # Average
            rec = np.empty(stride, dtype=np.int32)
            left = np.zeros(ch, dtype=np.int32)
            p32 = prior.astype(np.int32)
            for x in range(0, stride, ch):
                left = (row[x : x + ch] + ((left + p32[x : x + ch]) >> 1)) & 0xFF
                rec[x : x + ch] = left
        elif f == 4:  # Paeth
            rec = np.empty(stride, dtype=np.int32)
            a = np.zeros(ch, dtype=np.int32)  # left
            c = np.zeros(ch, dtype=np.int32)  # upper-left
            p32 = prior.astype(np.int32)
            for x in range(0, stride, ch):
                b_ = p32[x : x + ch]
                p = a + b_ - c
                pa, pb, pc = np.abs(p - a), np.abs(p - b_), np.abs(p - c)
                pred = np.where(
                    (pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b_, c)
                )
                a = (row[x : x + ch] + pred) & 0xFF
                rec[x : x + ch] = a
                c = b_
        else:
            raise ValueError(f"PNG filter type {f} invalid")
        prior = out[y] = rec.astype(np.uint8)
    return out


def _parse_png(b: bytes) -> "np.ndarray | None":
    """PNG -> HxWx3 uint8 RGB via stdlib zlib, pure NumPy unfiltering.
    Handles non-interlaced 8-bit depth in all five color types (gray,
    RGB, palette, gray+alpha, RGBA; alpha dropped).  Returns None when
    the payload is not a structurally valid PNG (bad magic, CRC
    mismatch, truncated chunk walk); raises NotImplementedError for
    valid PNGs using features outside that profile (16-bit, interlaced)
    — same contract as _parse_ppm/_parse_bmp."""
    if not b.startswith(_PNG_MAGIC):
        return None
    try:
        pos, ihdr, plte, idat = len(_PNG_MAGIC), None, None, []
        while pos + 8 <= len(b):
            (length,) = struct.unpack(">I", b[pos : pos + 4])
            ctype = b[pos + 4 : pos + 8]
            body = b[pos + 8 : pos + 8 + length]
            if len(body) < length or pos + 12 + length > len(b):
                return None  # truncated chunk
            (crc,) = struct.unpack(">I", b[pos + 8 + length : pos + 12 + length])
            if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
                return None
            if ctype == b"IHDR":
                ihdr = body
            elif ctype == b"PLTE":
                plte = body
            elif ctype == b"IDAT":
                idat.append(body)
            elif ctype == b"IEND":
                break
            pos += 12 + length
        if ihdr is None or len(ihdr) < 13 or not idat:
            return None
        w, h, depth, color, comp, filt, interlace = struct.unpack(
            ">IIBBBBB", ihdr[:13]
        )
        if w <= 0 or h <= 0 or comp != 0 or filt != 0:
            return None
        if depth != 8 or interlace != 0:
            raise NotImplementedError(
                f"PNG depth={depth} interlace={interlace} unsupported "
                "(non-interlaced 8-bit only)"
            )
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
        if channels is None:
            return None
        raw = zlib.decompress(b"".join(idat))
        px = _png_unfilter(raw, h, w, channels).reshape(h, w, channels)
        if color == 3:  # palette lookup
            if plte is None or len(plte) % 3:
                return None
            pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
            if int(px.max(initial=0)) >= len(pal):
                return None
            return pal[px[:, :, 0]].copy()
        if color == 0:
            return np.repeat(px, 3, axis=2).copy()
        if color == 4:
            return np.repeat(px[:, :, :1], 3, axis=2).copy()
        return px[:, :, :3].copy()  # RGB / RGBA (alpha dropped)
    except NotImplementedError:
        raise
    except Exception:
        return None


def encode_png(img: "np.ndarray") -> bytes:
    """HxWx3 uint8 -> non-interlaced 8-bit RGB PNG (filter 0 rows,
    stdlib zlib) — the inverse of decode_image's PNG path, used by the
    hypothesis round-trip property and the planted-payload oracle."""
    arr = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    raw = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), arr.reshape(h, w * 3)], axis=1
    ).tobytes()

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def decode_image(payload: bytes) -> "np.ndarray":
    """Decode an image payload to an HxWx3 uint8 RGB array.

    Real, pure-NumPy decoders for the formats this container can handle
    without an imaging library: binary PPM (P6), 24-bit BI_RGB BMP, and
    non-interlaced 8-bit PNG (stdlib zlib inflate + vectorized
    unfiltering; gray/RGB/palette/alpha color types, alpha dropped).
    JPEG/WebP still raise — libjpeg is absent here; the Spark-side
    contract (binary in, HxWxC array out) is identical either way."""
    b = bytes(payload)
    img = _parse_ppm(b)
    if img is None:
        img = _parse_bmp(b)
    if img is None:
        img = _parse_png(b)
    if img is not None:
        return img
    raise NotImplementedError(
        "only PPM(P6), 24-bit BMP and non-interlaced 8-bit PNG decode "
        "natively; JPEG/WebP require an imaging library not present in "
        "this environment — use fake_features() for pipeline testing"
    )


def encode_ppm(img: "np.ndarray") -> bytes:
    """HxWx3 uint8 -> binary PPM (P6) bytes — the inverse of
    decode_image's PPM path, used to keep resize output self-describing
    (resized images can be decoded again downstream)."""
    arr = np.ascontiguousarray(img, dtype=np.uint8)
    h, w = arr.shape[0], arr.shape[1]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _resize_nearest(img: "np.ndarray", width: int, height: int) -> "np.ndarray":
    """Nearest-neighbor resample to (height, width, 3) — index-grid
    fancy indexing, no Python loops."""
    rows = (np.arange(height) * img.shape[0]) // height
    cols = (np.arange(width) * img.shape[1]) // width
    return img[rows][:, cols]


def _try_decode(b: bytes) -> "np.ndarray | None":
    """decode_image that returns None instead of raising, for the
    magic-gated real path inside the batched UDFs (unparseable or
    compressed payloads fall back to the deterministic stand-in)."""
    try:
        img = _parse_ppm(b)
        if img is None:
            img = _parse_bmp(b)
        if img is None:
            img = _parse_png(b)
        return img
    except NotImplementedError:
        return None


DECODED_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("pixels", T.BinaryType()),  # raw HxWx3 RGB
        T.StructField("decoded", T.BooleanType()),
    ]
)


def decode_images(media: DataFrame) -> DataFrame:
    """Table-level decode stage: one row per payload with raw RGB pixel
    bytes + dims where the magic parses (PPM/BMP), decoded=false with
    null pixels otherwise — the distributed form of decode_image.  A
    narrow Arrow-batched map: no shuffle, embarrassingly parallel, the
    shape every downstream vision featurizer consumes."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hs, ws, px, ok = [], [], [], []
            for p in pdf["payload"]:
                # NULL payloads are decoded=false rows, never a crash
                img = _try_decode(b"" if p is None else bytes(p))
                if img is None:
                    hs.append(0)
                    ws.append(0)
                    px.append(None)
                    ok.append(False)
                else:
                    hs.append(img.shape[0])
                    ws.append(img.shape[1])
                    px.append(img.tobytes())
                    ok.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "height": np.asarray(hs, dtype=np.int32),
                    "width": np.asarray(ws, dtype=np.int32),
                    "pixels": px,
                    "decoded": ok,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        fn, schema=DECODED_IMAGE_SCHEMA
    )


# --- header-only image probing (no pixel decode) -----------------------------

PROBE_IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("decodable", T.BooleanType()),
    ]
)

# PNG color type -> delivered channel count (palette expands to RGB)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 3, 4: 2, 6: 4}


def _probe_jpeg(b: bytes) -> "dict | None":
    """JPEG dimensions from the SOF segment header — a plain marker
    walk, no entropy decode.  SOF markers are 0xC0-0xCF excluding DHT
    (0xC4), JPG (0xC8) and DAC (0xCC); the segment body is
    [precision u8][height u16 BE][width u16 BE][n_components u8]."""
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None  # desynchronized stream
        marker = b[pos + 1]
        if marker == 0xFF:  # fill bytes before a marker
            pos += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        if marker == 0xD9:  # EOI before any SOF
            return None
        seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if seg_len < 2 or pos + 2 + seg_len > len(b):
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            body = b[pos + 4 : pos + 2 + seg_len]
            if len(body) < 6:
                return None
            h = int.from_bytes(body[1:3], "big")
            w = int.from_bytes(body[3:5], "big")
            return {"format": "jpeg", "width": w, "height": h, "channels": body[5]}
        pos += 2 + seg_len
    return None


def probe_image(payload: bytes) -> "dict | None":
    """Header-only metadata for an image payload: format, dimensions,
    channel count and whether the native pixel decoders can decode it.
    Covers the decodable formats (PPM/BMP/PNG) AND the header-parsable
    compressed ones (JPEG via the SOF walk, GIF via the logical screen
    descriptor) — the op a corpus pipeline uses to filter by
    resolution/aspect WITHOUT paying for pixel decode or needing codec
    libraries.  Returns None when no magic matches."""
    b = bytes(payload)
    if b[:2] == b"P6" and len(b) > 2 and b[2:3].isspace():
        # ASCII header: whitespace/comment-separated width height maxval
        fields, pos = [], 2
        while len(fields) < 3 and pos < min(len(b), 512):
            if b[pos : pos + 1].isspace():
                pos += 1
            elif b[pos : pos + 1] == b"#":
                pos = b.find(b"\n", pos)
                if pos < 0:
                    return None
            elif b[pos : pos + 1].isdigit():
                end = pos
                while end < len(b) and b[end : end + 1].isdigit():
                    end += 1
                fields.append(int(b[pos:end]))
                pos = end
            else:
                return None
        if len(fields) < 3:
            return None
        w, h, maxval = fields
        return {
            "format": "ppm", "width": w, "height": h, "channels": 3,
            "decodable": maxval == 255,
        }
    if b[:2] == b"BM" and len(b) >= 30:
        w = int.from_bytes(b[18:22], "little", signed=True)
        h = abs(int.from_bytes(b[22:26], "little", signed=True))
        bpp = int.from_bytes(b[28:30], "little")
        comp = int.from_bytes(b[30:34], "little") if len(b) >= 34 else 0
        return {
            "format": "bmp", "width": abs(w), "height": h, "channels": 3,
            "decodable": bpp == 24 and comp == 0,
        }
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 29:
        w = int.from_bytes(b[16:20], "big")
        h = int.from_bytes(b[20:24], "big")
        depth, color, interlace = b[24], b[25], b[28]
        return {
            "format": "png", "width": w, "height": h,
            "channels": _PNG_CHANNELS.get(color, 0),
            "decodable": depth == 8 and interlace == 0
            and color in _PNG_CHANNELS,
        }
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        return {
            "format": "gif",
            "width": int.from_bytes(b[6:8], "little"),
            "height": int.from_bytes(b[8:10], "little"),
            "channels": 3,
            "decodable": False,  # LZW decode not implemented
        }
    j = _probe_jpeg(b)
    if j is not None:
        j["decodable"] = False  # entropy decode needs libjpeg
        return j
    return None


def probe_images(media: DataFrame) -> DataFrame:
    """Table-level header probe: (doc_id, format, width, height,
    channels, decodable) per payload; unrecognized/NULL payloads yield
    format=null rows, never a stage failure.  Narrow Arrow-batched map
    like decode_images, but reads only header bytes per payload — the
    cheap first pass a 100 TB image corpus filters on."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fmts, ws, hs, cs, dec = [], [], [], [], []
            for p in pdf["payload"]:
                meta = probe_image(b"" if p is None else bytes(p))
                if meta is None:
                    fmts.append(None), ws.append(0), hs.append(0)
                    cs.append(0), dec.append(False)
                else:
                    fmts.append(meta["format"])
                    ws.append(meta["width"])
                    hs.append(meta["height"])
                    cs.append(meta["channels"])
                    dec.append(meta["decodable"])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": fmts,
                    "width": np.asarray(ws, dtype=np.int32),
                    "height": np.asarray(hs, dtype=np.int32),
                    "channels": np.asarray(cs, dtype=np.int32),
                    "decodable": dec,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        fn, schema=PROBE_IMAGE_SCHEMA
    )


# --- audio: real pure-NumPy decode for uncompressed PCM WAV ------------------


def decode_audio(payload: bytes) -> "tuple[np.ndarray, int]":
    """Decode an audio payload to (samples[n, channels] int16,
    sample_rate).

    Real decoder for the format this container can handle without codec
    libraries: RIFF/WAVE, 16-bit integer PCM (format tag 1).  The RIFF
    chunk walk skips unknown chunks (LIST/fact/cue) like any compliant
    reader.  Compressed audio (MP3/AAC/Opus/float WAV) raises — same
    honest-stub policy as compressed images."""
    b = bytes(payload)
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise NotImplementedError(
            "only RIFF/WAVE 16-bit PCM decodes natively; compressed audio "
            "requires codec libraries not present in this environment"
        )
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if pos + 8 + size > len(b):
            # a declared size past EOF would silently shorten the body
            # slice (and floor the sample count) — raise like every
            # other malformed-input path instead of truncating
            raise ValueError(
                f"WAV truncated: chunk {cid!r} declares {size} bytes, "
                f"{len(b) - pos - 8} remain"
            )
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None or len(fmt) < 16:
        raise ValueError("WAV missing fmt/data chunk")
    tag = int.from_bytes(fmt[0:2], "little")
    channels = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if tag != 1 or bits != 16:
        raise NotImplementedError(
            f"WAV format tag={tag} bits={bits} unsupported (16-bit PCM only)"
        )
    if channels < 1:
        raise ValueError("WAV channels < 1")
    n = len(data) // (2 * channels)
    samples = (
        np.frombuffer(data, dtype="<i2", count=n * channels)
        .reshape(n, channels)
        .copy()
    )
    return samples, rate


def encode_wav(samples: "np.ndarray", sample_rate: int) -> bytes:
    """(n, channels) int16 -> RIFF/WAVE 16-bit PCM bytes — the inverse
    of decode_audio's PCM path."""
    arr = np.ascontiguousarray(samples, dtype="<i2")
    if arr.ndim == 1:
        arr = arr[:, None]
    channels = arr.shape[1]
    data = arr.tobytes()
    byte_rate = sample_rate * channels * 2
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + sample_rate.to_bytes(4, "little")
        + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
    body += b"data" + len(data).to_bytes(4, "little") + data
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def audio_stats_features(samples: "np.ndarray", rate: int) -> "np.ndarray":
    """Real features for decoded PCM: normalized RMS, peak, zero-crossing
    rate (first channel), duration, channel count and log sample rate —
    the classic cheap audio descriptor; float32, length 8 like the
    stand-in."""
    x = samples.astype(np.float64) / 32768.0
    mono = x[:, 0] if x.size else np.zeros(1)
    rms = float(np.sqrt(np.mean(x**2))) if x.size else 0.0
    peak = float(np.abs(x).max()) if x.size else 0.0
    zcr = (
        float(np.mean(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
        if len(mono) > 1
        else 0.0
    )
    dur = samples.shape[0] / rate if rate else 0.0
    return np.asarray(
        [
            rms,
            peak,
            zcr,
            np.log1p(dur) / 10.0,
            samples.shape[1] / 16.0,
            np.log1p(rate) / 12.0,
            float(np.mean(mono)),
            float(np.std(mono)),
        ],
        dtype=np.float32,
    )


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def resize_images(media: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Resize stage: binary in -> resized binary + dims out, Arrow-
    batched.  Payloads whose magic parses as PPM(P6)/24-bit BMP/8-bit
    PNG take the REAL path: decode -> nearest-neighbor resample -> re-encode as P6
    (self-describing, so resize output composes with decode_image
    downstream).  Anything else keeps the deterministic byte-level
    stand-in (strided subsample / zero-pad) — same schema, batching and
    UDF signature a PIL/libvips-backed resize would use, so swapping in
    a compressed-format kernel is a one-function change."""
    target = width * height

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            outs = []
            for p in pdf["payload"]:
                b = b"" if p is None else bytes(p)
                img = _try_decode(b)
                if img is not None:
                    outs.append(encode_ppm(_resize_nearest(img, width, height)))
                elif len(b) >= target:
                    stride = len(b) // target
                    arr = np.frombuffer(b, dtype=np.uint8)[: stride * target]
                    outs.append(arr[::stride][:target].tobytes())
                else:
                    outs.append(b.ljust(target, b"\x00"))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": outs,
                    "width": np.full(len(pdf), width, dtype=np.int32),
                    "height": np.full(len(pdf), height, dtype=np.int32),
                }
            )

    return media.select("doc_id", "payload").mapInPandas(fn, schema=RESIZE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame", T.BinaryType()),
    ]
)


def sample_frames(
    media: DataFrame, n_frames: int = 4, frame_bytes: int = 256
) -> DataFrame:
    """Frame-sampling stage: one video payload row -> n_frames rows
    (uniform temporal stride), the fan-out shape a real decoder UDF
    has.  Frame extraction is the deterministic byte-slice stand-in
    (no codec libs here); at scale the fan-out is a narrow map with no
    shuffle — downstream per-frame features stay embarrassingly
    parallel."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for doc_id, p in zip(pdf["doc_id"], pdf["payload"]):
                b = b"" if p is None else bytes(p)
                step = max(1, len(b) // n_frames)
                for i in range(n_frames):
                    lo = i * step
                    frames.append(b[lo : lo + frame_bytes].ljust(frame_bytes, b"\x00"))
                    ids.append(doc_id)
                    idxs.append(i)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(ids, dtype=np.int64),
                    "frame_idx": np.asarray(idxs, dtype=np.int32),
                    "frame": frames,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(fn, schema=FRAME_SCHEMA)


def image_stats_features(img: "np.ndarray") -> "np.ndarray":
    """Real features for a decoded image: per-channel mean and std
    (normalized to [0,1]) + log-scaled dims — the classic cheap visual
    descriptor; float32, length 8, like the stand-in."""
    px = img.astype(np.float64) / 255.0
    means = px.mean(axis=(0, 1))
    stds = px.std(axis=(0, 1))
    dims = np.log1p([img.shape[0], img.shape[1]]) / 10.0
    return np.concatenate([means, stds, dims]).astype(np.float32)


def fake_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extractor: payloads that decode as PPM/BMP get REAL
    image-statistics features (per-channel mean/std + dims) and
    RIFF/WAVE PCM payloads get REAL audio statistics (RMS/peak/ZCR/
    duration); everything else keeps the deterministic sha256-seeded
    stand-in vector — all fixed-dim float32 through the exact batch
    shape / signature a real encoder UDF would have."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for p in pdf["payload"]:
                b = b"" if p is None else bytes(p)
                if dim == 8:
                    img = _try_decode(b)
                    if img is not None:
                        feats.append(image_stats_features(img).tolist())
                        continue
                    if b[0:4] == b"RIFF" and b[8:12] == b"WAVE":
                        try:
                            samples, rate = decode_audio(b)
                            feats.append(
                                audio_stats_features(samples, rate).tolist()
                            )
                            continue
                        except (NotImplementedError, ValueError):
                            pass  # compressed/odd WAV: stand-in below
                digest = hashlib.sha256(b).digest()
                arr = np.frombuffer(digest[: dim * 4], dtype="<u4").astype(np.float32)
                feats.append((arr / np.float32(2**32)).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "features": feats})

    return media.select("doc_id", "payload").mapInPandas(fn, schema=FEATURE_SCHEMA)


DECODED_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("pcm", T.BinaryType()),  # interleaved <i2
        T.StructField("decoded", T.BooleanType()),
    ]
)


def decode_audios(media: DataFrame) -> DataFrame:
    """Table-level audio decode stage: raw interleaved 16-bit PCM +
    shape where the payload parses as RIFF/WAVE PCM, decoded=false
    otherwise — the distributed form of decode_audio, same narrow
    no-shuffle map shape as decode_images."""

    @drops_zip_finders
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ns, ch, sr, pcm, ok = [], [], [], [], []
            for p in pdf["payload"]:
                b = b"" if p is None else bytes(p)
                samples = None
                if b[0:4] == b"RIFF" and b[8:12] == b"WAVE":
                    try:
                        samples, rate = decode_audio(b)
                    except (NotImplementedError, ValueError):
                        samples = None
                if samples is None:
                    ns.append(0); ch.append(0); sr.append(0)
                    pcm.append(None); ok.append(False)
                else:
                    ns.append(samples.shape[0])
                    ch.append(samples.shape[1])
                    sr.append(rate)
                    pcm.append(samples.tobytes())
                    ok.append(True)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_samples": np.asarray(ns, dtype=np.int64),
                    "channels": np.asarray(ch, dtype=np.int32),
                    "sample_rate": np.asarray(sr, dtype=np.int32),
                    "pcm": pcm,
                    "decoded": ok,
                }
            )

    return media.select("doc_id", "payload").mapInPandas(
        fn, schema=DECODED_AUDIO_SCHEMA
    )
