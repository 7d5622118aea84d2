"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side machinery here is real and tested — schema contracts,
partition-preserving batch iteration, UDF signatures. Image decode is
REAL for 24-bit BMP via a pure-numpy codec (:func:`bmp_encode` /
:func:`bmp_decode` — no external library needed), so the resize and
feature paths exercise actual pixel arrays; other image formats and
audio/video codecs are not shipped in this environment, and their
decode raises ``NotImplementedError`` (swapping in PIL/ffmpeg is a
one-function change that does not alter the distributed plan). The
``deterministic_fake`` flag keeps the byte-derived fake decode for
tests that want codec-free determinism over arbitrary payloads.

Scale notes: media blobs ride *with* the rows (no driver collection);
``mapInPandas`` streams Arrow batches per partition, so memory is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` × blob
size — tune that down for large media. Feature extraction is a pure map:
no shuffle at any size.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from parquet_sampler_spark.sources.io import local_frame

MEDIA_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),     # image|audio|video
    T.StructField("payload", T.BinaryType(), True),   # opaque encoded bytes
    T.StructField("mime", T.StringType(), True),
    T.StructField("width", T.IntegerType(), True),    # typed metadata
    T.StructField("height", T.IntegerType(), True),
    T.StructField("duration_ms", T.LongType(), True),
])

FEATURE_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), True),
    T.StructField("feature", T.ArrayType(T.FloatType()), True),
])

_FEATURE_DIM = 8


def bmp_encode(arr: np.ndarray) -> bytes:
    """Encode an ``(h, w, 3)`` RGB uint8 array as an uncompressed
    24-bit BMP (BITMAPINFOHEADER, bottom-up rows, BGR, 4-byte row
    padding). Pure numpy + struct — no codec library."""
    arr = np.asarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = np.stack([arr] * 3, axis=-1)
    h, w, c = arr.shape
    if c != 3:
        raise ValueError(f"expected 3 channels, got {c}")
    row_raw = w * 3
    stride = (row_raw + 3) & ~3
    img_size = stride * h
    data_off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", data_off + img_size,
                         0, 0, data_off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       img_size, 2835, 2835, 0, 0)
    bgr = arr[::-1, :, ::-1]  # bottom-up, RGB→BGR
    if stride != row_raw:
        rows = np.zeros((h, stride), dtype=np.uint8)
        rows[:, :row_raw] = bgr.reshape(h, row_raw)
        body = rows.tobytes()
    else:
        body = bgr.tobytes()
    return header + info + body


def bmp_decode(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BMP to an ``(h, w, 3)`` RGB uint8
    array. Handles bottom-up (positive height) and top-down (negative)
    row order. Raises ``NotImplementedError`` for anything the built-in
    codec doesn't cover (other bit depths / compression / non-BMP)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise NotImplementedError(
            "only the built-in 24-bit BMP codec is available in this "
            "environment; use deterministic_fake=True for arbitrary "
            "payloads or install an image library"
        )
    data_off = struct.unpack_from("<I", payload, 10)[0]
    _, w, h_signed = struct.unpack_from("<Iii", payload, 14)
    _, bpp = struct.unpack_from("<HH", payload, 26)
    comp = struct.unpack_from("<I", payload, 30)[0]
    if bpp != 24 or comp != 0:
        raise NotImplementedError(
            f"built-in BMP codec handles 24bpp BI_RGB only "
            f"(got bpp={bpp}, compression={comp})"
        )
    top_down = h_signed < 0
    h = abs(h_signed)
    stride = (w * 3 + 3) & ~3
    px = (
        np.frombuffer(payload, np.uint8, stride * h, data_off)
        .reshape(h, stride)[:, : w * 3]
        .reshape(h, w, 3)
    )
    if not top_down:
        px = px[::-1]
    return px[:, :, ::-1].copy()  # BGR→RGB


def resample_area(arr: np.ndarray, target_w: int, target_h: int) -> np.ndarray:
    """Box-average (area) downsample of an ``(h, w, c)`` array to
    ``(target_h, target_w, c)`` with rounded integer means — fully
    deterministic (no float accumulation order dependence). Upscaling
    in either axis falls back to nearest-neighbor."""
    h, w = arr.shape[:2]
    if target_h <= h and target_w <= w:
        ye = (np.arange(target_h) * h) // target_h
        xe = (np.arange(target_w) * w) // target_w
        sums = np.add.reduceat(
            np.add.reduceat(arr.astype(np.int64), ye, axis=0), xe, axis=1
        )
        counts = np.outer(
            np.diff(np.append(ye, h)), np.diff(np.append(xe, w))
        )[:, :, None]
        return ((sums + counts // 2) // counts).astype(np.uint8)
    yi = (np.arange(target_h) * h) // target_h
    xi = (np.arange(target_w) * w) // target_w
    return arr[yi][:, xi].copy()


def _decode_image_real(payload: bytes) -> "np.ndarray":
    """Real image decode: the built-in pure-numpy BMP codec. Non-BMP
    formats raise ``NotImplementedError`` (no PIL/ffmpeg in this
    environment — swapping one in here leaves the distributed plan
    unchanged)."""
    return bmp_decode(payload)


def _decode_fake(payload: bytes) -> np.ndarray:
    """Deterministic fake decode: derives a fixed-dim feature from the
    byte content (first/last bytes + length). Stands in for a real
    embedding so the distributed plumbing is testable end to end."""
    if payload is None or len(payload) == 0:
        return np.zeros(_FEATURE_DIM, dtype=np.float32)
    arr = np.frombuffer(payload, dtype=np.uint8)
    chunks = np.array_split(arr, _FEATURE_DIM)
    return np.array(
        [float(c.sum() % 997) / 997.0 if len(c) else 0.0 for c in chunks],
        dtype=np.float32,
    )


def _pixel_features(arr: np.ndarray) -> np.ndarray:
    """8-dim feature from a decoded ``(h, w, 3)`` pixel array, every
    component in [0, 1]: per-channel means, 2×global std (clipped),
    and the four quadrant luminance means.

    Every statistic is an EXACT integer pixel sum followed by a fixed
    sequence of float64 ops (one division per term) — not np.mean/std,
    whose pairwise summation order is version-dependent. That makes
    each value bit-reproducible from the closed-form pixel function, so
    the multimodal_features oracle can recompute it in SQL."""
    h, w = arr.shape[:2]
    px = arr.astype(np.int64)
    n = h * w
    sr, sg, sb = (int(px[:, :, c].sum()) for c in range(3))
    s2 = int((px * px).sum())  # Σv² over all 3 channels
    hy, hx = max(h // 2, 1), max(w // 2, 1)
    lum_i = px.sum(axis=2)  # integer r+g+b per pixel
    q = [
        int(lum_i[:hy, :hx].sum()),
        int(lum_i[:hy, hx:].sum()),
        int(lum_i[hy:, :hx].sum()),
        int(lum_i[hy:, hx:].sum()),
    ]
    qn = [
        hy * hx, hy * (w - hx), (h - hy) * hx, (h - hy) * (w - hx),
    ]
    mean_all = (sr + sg + sb) / (255.0 * 3 * n)
    e2 = s2 / (65025.0 * 3 * n)  # 65025 = 255²
    std = float(np.sqrt(max(e2 - mean_all * mean_all, 0.0)))
    return np.array(
        [
            sr / (255.0 * n),
            sg / (255.0 * n),
            sb / (255.0 * n),
            min(std * 2.0, 1.0),
            q[0] / (765.0 * qn[0]),  # 765 = 3·255
            q[1] / (765.0 * qn[1]) if qn[1] else 0.0,
            q[2] / (765.0 * qn[2]) if qn[2] else 0.0,
            q[3] / (765.0 * qn[3]) if qn[3] else 0.0,
        ],
        dtype=np.float32,
    )


def extract_features(
    media: DataFrame, deterministic_fake: bool = True
) -> DataFrame:
    """Per-blob feature extraction over Arrow batches (``mapInPandas``).

    With ``deterministic_fake=False``, image payloads are DECODED (the
    built-in BMP codec) and featurized from actual pixel arrays; audio
    and video payloads keep the byte-derived fake feature — no a/v
    codec ships in this environment, and the honest alternative to a
    fake would be failing the whole batch.

    Batch shape contract: each pandas batch holds ``payload`` as Python
    ``bytes``; output rows align 1:1 with input rows (pure map — Spark
    can pipeline it with scans and pushdown around it)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = []
            for kind, p in zip(pdf["kind"], pdf["payload"]):
                if deterministic_fake or kind != "image" or p is None:
                    feats.append(_decode_fake(p).tolist())
                else:
                    feats.append(
                        _pixel_features(_decode_image_real(p)).tolist()
                    )
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "n_bytes": [
                    0 if p is None else len(p) for p in pdf["payload"]
                ],
                "feature": feats,
            })

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Video frame-sampling *plan*: one output row per sampled frame
    timestamp (JVM-side sequence explode — the expensive decode of each
    frame would hang off this skeleton as a mapInPandas like
    :func:`extract_features`). Non-video rows pass through with a single
    NULL frame_ts."""
    frames = F.when(
        (F.col("kind") == "video") & F.col("duration_ms").isNotNull(),
        F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms)),
    ).otherwise(F.array(F.lit(None).cast("long")))
    return media.select(
        "media_id", "kind",
        F.explode(frames).alias("frame_ts"),
    )


def synthetic_media(spark, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic synthetic media table for tests — no external
    files. Image rows carry REAL encoded 64×48 BMPs (pixel value is a
    closed-form function of (seed, media_id, x, y)); audio/video rows
    carry opaque bytes that are ALSO closed-form in (seed, media_id,
    byte index) — reproducible forever, RNG-free throughout, so a SQL
    oracle can recompute byte- and pixel-derived features exactly."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            w, h = 64, 48
            y, x = np.mgrid[0:h, 0:w]
            px = np.stack(
                [
                    (x * 7 + y * 13 + (seed + i) * 31) % 256,
                    (x * 3 + y * 5 + (seed + i) * 17) % 256,
                    (x * 11 + y * 2 + (seed + i) * 23) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            payload = bmp_encode(px)
            rows.append((i, kind, payload, "image/bmp", w, h, None))
        else:
            payload = bytes(
                (seed * 97 + i * 31 + j * 7) % 256 for j in range(64 + i)
            )
            rows.append((
                i, kind, payload, f"application/x-{kind}",
                None, None, 5000 if kind == "video" else None,
            ))
    return local_frame(spark, rows, MEDIA_SCHEMA)

RESIZED_SCHEMA = T.StructType([
    T.StructField("media_id", T.LongType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("payload", T.BinaryType(), True),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
])


def resize_images(
    media: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    deterministic_fake: bool = True,
) -> DataFrame:
    """Image resize over Arrow batches: decode → resample → re-encode.

    With ``deterministic_fake=False`` this is the REAL pixel path:
    BMP-decode the payload, box-average (area) resample to
    ``target_w × target_h``, re-encode as BMP. With the flag set, the
    "resample" is a codec-free deterministic byte subsample to
    ``target_w·target_h`` bytes. Non-image rows pass through unchanged.
    Pure map — pipelines with the scan."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        size = target_w * target_h
        for pdf in batches:
            payloads, widths, heights = [], [], []
            for kind, p, w, h in zip(
                pdf["kind"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                if kind != "image" or p is None:
                    payloads.append(p)
                    widths.append(w)
                    heights.append(h)
                    continue
                if deterministic_fake:
                    arr = np.frombuffer(p, dtype=np.uint8)
                    idx = (
                        np.arange(size) * max(len(arr), 1) // size
                    ) % max(len(arr), 1)
                    payloads.append(bytes(arr[idx]) if len(arr) else b"")
                else:
                    px = _decode_image_real(p)
                    payloads.append(
                        bmp_encode(resample_area(px, target_w, target_h))
                    )
                widths.append(target_w)
                heights.append(target_h)
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "payload": payloads,
                "width": pd.array(widths, dtype="Int32"),
                "height": pd.array(heights, dtype="Int32"),
            })

    return media.select(
        "media_id", "kind", "payload", "width", "height"
    ).mapInPandas(run, schema=RESIZED_SCHEMA)

