"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Engine extension. Image/audio/video travel as BinaryType columns with a
metadata struct; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so heavy per-item work is vectorized and partition-local.

``decode_image`` is REAL for the two uncompressed formats a pure-NumPy
parser can own (PPM P6 and 24-bit BI_RGB BMP, r10 — no media libs needed);
PIL is tried first when importable (the real-cluster hook for JPEG/PNG/
WebP). Compressed formats without PIL raise ValueError. The synthetic
feature/frame helpers keep their deterministic stand-ins for
payloads that aren't images at all (md5-derived bench fixtures)."""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType, DoubleType, LongType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload", BinaryType()),
    StructField("n_bytes", LongType()),
])

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", LongType()),
    StructField("feature_mean", DoubleType()),
])


def decode_image(payload: bytes):
    """Decode an image payload to an (H, W, 3) uint8 RGB ndarray.

    Resolution order: PIL when importable (real-cluster hook — JPEG/PNG/
    WebP/...), else the pure-NumPy parsers below for PPM P6 and 24-bit
    uncompressed BMP. Anything else raises ValueError naming the format.
    """
    try:
        from PIL import Image  # type: ignore[import-not-found]
    except ImportError:
        Image = None
    if Image is not None:
        # PIL decodes everything it can; normalize its failure (an
        # OSError/UnidentifiedImageError) to the documented ValueError so
        # callers have ONE exception contract with or without PIL. The
        # import is the only thing the ImportError guard covers — a PIL
        # plugin failure must not silently fall through to the NumPy
        # parsers and surface as a misleading unsupported-format error.
        import io

        import numpy as np

        try:
            return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
        except Exception as exc:
            raise ValueError(
                f"image payload failed PIL decode (magic {payload[:2]!r}): {exc}"
            ) from exc
    # ONE exception contract with or without PIL (ADVICE r10): a truncated
    # or malformed payload must surface as the documented ValueError, not as
    # struct.error / IndexError / zlib.error leaking from the parsers below
    try:
        if payload[:8] == b"\x89PNG\r\n\x1a\n":
            return _decode_png(payload)
        if payload[:2] == b"P6":
            return _decode_ppm_p6(payload)
        if payload[:2] == b"BM":
            return _decode_bmp24(payload)
    except ValueError:
        raise  # already the documented contract, message intact
    except Exception as exc:
        raise ValueError(
            f"malformed image payload (magic {payload[:2]!r}): "
            f"{type(exc).__name__}: {exc}"
        ) from exc
    raise ValueError(
        f"unsupported image format (magic {payload[:2]!r}); without PIL only "
        "PNG (8-bit, non-interlaced), PPM P6 and 24-bit BI_RGB BMP decode here"
    )


def _decode_ppm_p6(payload: bytes):
    """Binary PPM (netpbm P6): ASCII header 'P6 <w> <h> <maxval>' with
    whitespace/comment separators, then w*h*3 raw RGB bytes."""
    import numpy as np

    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":  # comment runs to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raster
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"PPM maxval {maxval} unsupported (8-bit only)")
    raster = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raster.reshape(h, w, 3).copy()


def _decode_bmp24(payload: bytes):
    """24-bit uncompressed (BI_RGB) BMP: little-endian headers, BGR pixel
    order, rows padded to 4 bytes and stored BOTTOM-UP (positive height)."""
    import struct

    import numpy as np

    data_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", payload, 14)
    planes, bpp = struct.unpack_from("<HH", payload, 26)
    compression = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or compression != 0:
        raise ValueError(f"BMP bpp={bpp} compression={compression} unsupported (24-bit BI_RGB only)")
    top_down = h < 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # each row padded to a 4-byte boundary
    rows = np.frombuffer(payload, dtype=np.uint8, count=h * stride, offset=data_off)
    img = rows.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        img = img[::-1]  # bottom-up storage -> logical top-down
    return img[:, :, ::-1].copy()  # BGR -> RGB


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _decode_png(payload: bytes):
    """PNG via stdlib only (r11 — the sandbox-complete compressed format):
    IHDR/IDAT chunk walk, ``zlib.decompress``, per-row defilter for all five
    filter types (None/Sub/Up/Average/Paeth — PNG spec §9), 8-bit
    gray/RGB/RGBA, non-interlaced. Gray broadcasts to 3 channels; RGBA
    drops alpha (matching PIL's ``convert("RGB")`` on unassociated alpha).
    PIL still wins when importable — this path exists so a compressed
    real-world format decodes end to end without media libs. Up is fully
    vectorized; Sub/Average/Paeth carry a sequential in-row dependency, so
    those rows defilter in a per-pixel loop — fine for parity fixtures,
    and clusters with PIL never reach it."""
    import struct
    import zlib

    import numpy as np

    pos, idat, ihdr = len(_PNG_MAGIC), [], None
    while pos + 8 <= len(payload):
        length, ctype = struct.unpack_from(">I4s", payload, pos)
        pos += 8
        data = payload[pos:pos + length]
        if len(data) < length:
            raise ValueError(f"PNG truncated inside {ctype!r} chunk")
        pos += length + 4  # skip CRC (integrity is the transport's job here)
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT chunks")
    w, h, bit_depth, color_type, _comp, _filt, interlace = ihdr
    if bit_depth != 8 or color_type not in (0, 2, 6) or interlace != 0:
        raise ValueError(
            f"PNG bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace} unsupported (8-bit gray/RGB/RGBA, "
            "non-interlaced only without PIL)"
        )
    channels = {0: 1, 2: 3, 6: 4}[color_type]
    stride = w * channels
    raw = zlib.decompress(b"".join(idat))
    if len(raw) != h * (stride + 1):
        raise ValueError(
            f"PNG raster is {len(raw)} bytes, expected {h * (stride + 1)}"
        )
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    out = np.empty((h, stride), dtype=np.uint8)
    bpp = channels  # filters operate per byte at bpp offsets (8-bit depth)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        if ftype == 0:     # None
            cur = line
        elif ftype == 2:   # Up — no in-row dependency, vectorized
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth — sequential in-row
            cur = line
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + int(prev[x])) >> 1
                else:
                    b = int(prev[x])
                    c = int(prev[x - bpp]) if x >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"PNG filter type {ftype} invalid")
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(h, w, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    elif channels == 4:
        img = img[:, :, :3]
    return np.ascontiguousarray(img)


def encode_png(img, filter_types=None) -> bytes:
    """Inverse of _decode_png (fixture/test encoder). ``filter_types`` picks
    the per-row filter (cycled), defaulting to all-None — tests pass
    [0,1,2,3,4] so every defilter branch is exercised by one image."""
    import struct
    import zlib

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, channels = img.shape
    color_type = {1: 0, 3: 2, 4: 6}[channels]
    stride = w * channels
    flat = img.reshape(h, stride).astype(np.int32)
    filter_types = filter_types or [0]
    bpp = channels

    def shift_left(row):
        return np.concatenate([np.zeros(bpp, np.int32), row[:-bpp]])

    rows, prev = [], np.zeros(stride, dtype=np.int32)
    for y in range(h):
        cur, ft = flat[y], int(filter_types[y % len(filter_types)])
        left = shift_left(cur)
        if ft == 0:
            filt = cur
        elif ft == 1:
            filt = (cur - left) & 0xFF
        elif ft == 2:
            filt = (cur - prev) & 0xFF
        elif ft == 3:
            filt = (cur - ((left + prev) >> 1)) & 0xFF
        elif ft == 4:
            upleft = shift_left(prev)
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            filt = (cur - pred) & 0xFF
        else:
            raise ValueError(f"filter type {ft} invalid")
        rows.append(bytes([ft]) + filt.astype(np.uint8).tobytes())
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (_PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(b"".join(rows)))
            + chunk(b"IEND", b""))


def encode_ppm_p6(img) -> bytes:
    """Inverse of _decode_ppm_p6 (fixture/test encoder)."""
    h, w = img.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def encode_bmp24(img) -> bytes:
    """Inverse of _decode_bmp24: bottom-up, BGR, 4-byte row padding."""
    import struct

    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    h, w = img.shape[:2]
    stride = (w * 3 + 3) & ~3
    raster = np.zeros((h, stride), dtype=np.uint8)
    raster[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)
    body = raster.tobytes()
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return file_hdr + info_hdr + body


def _ship_module_by_value() -> None:
    """Closures below call module-level decoders (ONE copy of the parsing
    logic, shared with the pytest fixtures). cloudpickle serializes
    importable-module functions BY REFERENCE, which breaks on workers that
    don't have this repo on their path (the foreign-cwd failure mode the
    self-contained closures elsewhere in this file guard against) — so
    register THIS module for by-value pickling with Spark's vendored
    cloudpickle before any of these closures are serialized."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])


ENCODED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload", BinaryType()),
])

DECODE_STATS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("pix_sum", LongType()),
    StructField("first_px", LongType()),
])


def encode_fixture_images(df: DataFrame, id_col: str) -> DataFrame:
    """Deterministic REAL image fixtures: per id, a (4 + id%5) x (3 + id%4)
    RGB image whose flattened pixel bytes follow the ramp (7*id + i) % 256,
    serialized as PPM P6 (id%3==0), 24-bit BMP (id%3==1), or zlib-compressed
    PNG cycling all five row filters (id%3==2, r11 — the compressed format
    exercised end to end). The ramp gives every image a closed-form pixel
    sum a SQL oracle can compute, so each decode round trip is
    value-checked end to end."""
    _ship_module_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            ids, types, payloads = [], [], []
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = 4 + i % 5, 3 + i % 4
                img = ((7 * i + np.arange(w * h * 3)) % 256).astype(np.uint8).reshape(h, w, 3)
                if i % 3 == 0:
                    types.append("image/ppm")
                    payloads.append(encode_ppm_p6(img))
                elif i % 3 == 1:
                    types.append("image/bmp")
                    payloads.append(encode_bmp24(img))
                else:
                    types.append("image/png")
                    payloads.append(encode_png(img, filter_types=[0, 1, 2, 3, 4]))
                ids.append(i)
            yield pd.DataFrame({"doc_id": ids, "media_type": types, "payload": payloads})

    return df.select(F.col(id_col).alias("doc_id")).mapInPandas(run, schema=ENCODED_SCHEMA)


def decode_image_stats(media: DataFrame) -> DataFrame:
    """Arrow-batched REAL decode (decode_image: PIL if present, else the
    pure-NumPy PPM/BMP parsers) emitting integer stats — dimensions, total
    pixel sum, and the R channel of pixel (0,0). first_px is the
    orientation/channel-order canary: BMP stores rows bottom-up in BGR, so
    a decoder that skips the flip or the channel swap returns the wrong
    byte there while the order-invariant sum still matches."""
    _ship_module_by_value()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ws, hs, sums, firsts = [], [], [], []
            for payload in pdf["payload"]:
                img = decode_image(bytes(payload))
                hs.append(img.shape[0])
                ws.append(img.shape[1])
                sums.append(int(img.astype("int64").sum()))
                firsts.append(int(img[0, 0, 0]))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "media_type": pdf["media_type"],
                "width": ws, "height": hs, "pix_sum": sums, "first_px": firsts,
            })

    return media.mapInPandas(run, schema=DECODE_STATS_SCHEMA)


def attach_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Synthesize a binary media column (md5-derived payload) + metadata.

    Stands in for reading real image/audio bytes; the column types and
    downstream plumbing are exactly what real payloads would use.

    NULL text coalesces to '' (md5('') is still 16 bytes) so every document
    carries a non-null 16-byte payload — the multimodal_frames oracle
    asserts n_bytes=4 per frame and depends on this invariant.
    """
    payload = F.unhex(F.md5(F.coalesce(F.col(text_col), F.lit(""))))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.lit("image/fake").alias("media_type"),
        payload.alias("payload"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas: each batch arrives as a pandas DataFrame; per-item decode
    happens partition-local with no shuffle. ``fake_feature`` (mean byte
    value) is a deterministic stand-in: swap it for a real decode (resize /
    frame-sample / mel-spectrogram) on a cluster with media libs installed.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # self-contained: no references to module-level names, so cloudpickle
        # ships the function BY VALUE and workers need not import this
        # package (driver may run from any cwd / without the repo on the
        # executors' PYTHONPATH)
        def fake_feature(payload: bytes) -> float:
            return float(sum(payload)) / len(payload) if payload else 0.0

        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["n_bytes"],
                "feature_mean": [fake_feature(p) for p in pdf["payload"]],
            })

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_no", LongType()),
    StructField("frame", BinaryType()),
    StructField("n_bytes", LongType()),
])


def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """Frame sampling over video-like payloads (1 row -> n rows): the
    row-expanding mapInPandas shape — each input payload yields
    ``n_frames`` contiguous slices that PARTITION the payload (the last
    frame takes the remainder, so no tail byte is dropped; a real decoder
    would seek keyframes). Output stays partition-local; no shuffle until
    the caller aggregates frames.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def slices(payload: bytes):
            if not payload:
                return [b""] * n_frames
            step = max(len(payload) // n_frames, 1)
            out = [payload[i * step:(i + 1) * step] for i in range(n_frames - 1)]
            out.append(payload[(n_frames - 1) * step:])
            return out

        for pdf in batches:
            ids, frame_nos, frames = [], [], []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                for j, fr in enumerate(slices(payload)):
                    ids.append(doc_id)
                    frame_nos.append(j)
                    frames.append(fr)
            yield pd.DataFrame({
                "doc_id": ids,
                "frame_no": frame_nos,
                "frame": frames,
                "n_bytes": [len(f) for f in frames],
            })

    return media.mapInPandas(run, schema=FRAME_SCHEMA)
