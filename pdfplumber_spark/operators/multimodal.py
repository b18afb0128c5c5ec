"""Multimodal column plumbing: opaque binary payloads + typed metadata.

PDF-embedded image XObjects get a REAL pixel decode behind the engine's
own stream filters (``pdf_image_stats`` -> kernel/images.py; Flate incl.
PNG predictors, LZW, A85, AHx, RL, CCITT G3/G4, baseline JPEG).
Standalone image FILES decode through ``kernel/imagefile.py`` (round 6 —
the former ``_decode_image_stub`` is gone): PNG via chunk walk + zlib +
the engine's PNG-predictor reconstruction (all spec depths 1/2/4/8/16,
Adam7 interlace), JPEG (baseline + progressive) via kernel/jpeg.py, GIF
via a from-scratch LSB-first LZW + 4-pass deinterlace + GCE
transparency, JPEG 2000 (JP2 + raw J2K) via kernel/jpx.py, WEBP
VP8L lossless via kernel/webp.py (round 7). Lossy-VP8 WEBP
classifies 'unsupported' (documented — no from-scratch decoder).
Reference analogue: PIL decode in display.py:36-90.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

def _payload_to_image_row(url, payload) -> tuple:
    """Per-payload metadata row (IMAGE_META_SCHEMA order) — shared by the
    Spark operator and the materialized single-process oracle. REAL
    decode (kernel/imagefile.py): PNG/JPEG/GIF payloads return actual
    dimensions + channel counts from decoded pixels; WEBP/PDF/unknown
    classify 'unsupported', broken PNG/JPEG/GIF 'error'."""
    from ..kernel.imagefile import (
        ImageFileError,
        UnsupportedImageError,
        decode_image,
        sniff_format,
    )

    if payload is None:
        return (url, 0, None, None, None, None, None, "error")
    data = bytes(payload)
    sha = hashlib.sha256(data).hexdigest()
    fmt = sniff_format(data)
    try:
        d = decode_image(data)
        return (url, len(data), d["format"], d["width"], d["height"],
                d["channels"], sha, "ok")
    except UnsupportedImageError:
        return (url, len(data), fmt, None, None, None, sha, "unsupported")
    except ImageFileError:
        return (url, len(data), fmt, None, None, None, sha, "error")
    except Exception:  # noqa: BLE001 — decoder bug on hostile bytes:
        # still an error row, never a task failure (robustness contract)
        return (url, len(data), fmt, None, None, None, sha, "error")


def _spread_payloads(
    df: DataFrame, url_col: str, bin_col: str, num_partitions: int | None
) -> DataFrame:
    """Url-hash repartition before a per-payload decode kernel. Decode cost
    scales with payload complexity, not byte count — a single-row-group
    parquet scan of a KB-sized corpus is ONE input split, so without this
    exchange every decode below would run in one task (measured: the whole
    render_png board row serialized on one core). Count defaults to the
    scale-adaptive cluster-derived value (plans.extract.default_doc_partitions)."""
    from ..plans.extract import default_doc_partitions

    src = df.select(url_col, bin_col)
    # factor=2: decode cost per doc is strongly skewed (page counts,
    # raster sizes) — twice the core count rebalances the tail
    n = num_partitions or default_doc_partitions(src, factor=2)
    return src.repartition(n, F.xxhash64(url_col))


def image_metadata(
    df: DataFrame, url_col: str = "url", bin_col: str = "html",
    num_partitions: int | None = None,
) -> DataFrame:
    """binary column -> typed metadata rows (mapInPandas, Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = [
                _payload_to_image_row(url, payload)
                for url, payload in zip(b[url_col], b[bin_col])
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_META_SCHEMA.fields])

    return _spread_payloads(df, url_col, bin_col, num_partitions).mapInPandas(
        run, schema=IMAGE_META_SCHEMA
    )


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("image_index", T.IntegerType(), False),
        T.StructField("name", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("mean_c0", T.DoubleType(), True),
        T.StructField("mean_c1", T.DoubleType(), True),
        T.StructField("mean_c2", T.DoubleType(), True),
        T.StructField("min_val", T.IntegerType(), True),
        T.StructField("max_val", T.IntegerType(), True),
        T.StructField("status", T.StringType(), False),
    ]
)

_STATS_COLS = [f.name for f in IMAGE_STATS_SCHEMA.fields]


def _image_stat_rows(url, payload) -> list:
    """Per-payload image pixel stats (IMAGE_STATS_SCHEMA order). REAL
    decode behind the engine's stream filters (kernel/images.py —
    Flate/LZW/CCITT/DCT/JBIG2/JPX; only exotic feature subsets remain
    'unsupported', each raising in its kernel). Float
    discipline: per-channel means are exact int sums / int counts rounded
    to 6 — IEEE-deterministic, oracle-matchable."""
    from ..kernel.images import image_xobjects

    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        images = image_xobjects(bytes(payload))
    except Exception:  # noqa: BLE001
        return []
    out = []
    for im in images:
        means = [None, None, None]
        mn = mx = None
        if im["status"] == "ok":
            arr = np.frombuffer(im["samples"], dtype=np.uint8).reshape(
                im["height"], im["width"], im["channels"]
            )
            n_px = im["height"] * im["width"]
            # stats schema carries three mean slots; 4-channel (CMYK)
            # rasters report C/M/Y means (K contributes to min/max)
            for ch in range(min(3, im["channels"])):
                s = int(arr[:, :, ch].sum(dtype=np.int64))
                means[ch] = round(s / n_px, 6)
            mn = int(arr.min())
            mx = int(arr.max())
        out.append(
            (
                url, im["page_number"], im["image_index"], im["name"],
                im["width"], im["height"], im["channels"],
                means[0], means[1], means[2], mn, mx, im["status"],
            )
        )
    return out


def pdf_image_stats(
    df: DataFrame, url_col: str = "url", bin_col: str = "html",
    num_partitions: int | None = None,
) -> DataFrame:
    """PDF payloads -> one row per PAINTED image (content-stream Do
    order, reference page.images parity) with decoded per-channel pixel
    statistics (mapInPandas, Arrow-batched; non-PDF payloads yield no
    rows). Paint-order enumeration interprets the content streams, so
    this costs a full (style-free) page parse per doc — the price of
    reference semantics; the resource-walk shortcut remains as the
    fallback for uninterpretable streams."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[bin_col]):
                rows.extend(_image_stat_rows(url, payload))
            yield pd.DataFrame(rows, columns=_STATS_COLS)

    return _spread_payloads(df, url_col, bin_col, num_partitions).mapInPandas(
        run, schema=IMAGE_STATS_SCHEMA
    )


# --- debug-render sink (round 5) -------------------------------------------

RENDER_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("page_number", T.IntegerType(), False),
    T.StructField("width_px", T.IntegerType(), True),
    T.StructField("height_px", T.IntegerType(), True),
    T.StructField("png_bytes", T.IntegerType(), True),
    T.StructField("png_sha256", T.StringType(), True),
    T.StructField("status", T.StringType(), False),
])

_RENDER_COLS = [f.name for f in RENDER_SCHEMA.fields]


def _render_rows(url, payload, resolution: float) -> list:
    """Per-payload structural debug render -> one row per page with the
    PNG's size + sha256 (bytes themselves stay out of the result: at
    corpus scale you write them to object storage from inside the
    kernel; the hash is what's joinable/checkable). Deterministic: the
    rasterizer is pure numpy, the PNG writer pins its zlib level."""
    if payload is None:
        return []
    data = bytes(payload)
    if data[:5] != b"%PDF-":
        return []
    try:
        from .. import api

        pdf = api.open(data)
    except Exception:  # noqa: BLE001
        return [(url, 0, None, None, None, None, "error")]
    out = []
    for page in pdf.pages:
        try:
            im = page.to_image(resolution=resolution)
            png = im._repr_png_()
            out.append((
                url, int(page.page_number), int(im.original.width),
                int(im.original.height), len(png),
                hashlib.sha256(png).hexdigest(), "ok",
            ))
        except Exception:  # noqa: BLE001
            out.append((url, int(page.page_number), None, None, None,
                        None, "error"))
    return out


def render_debug_png(
    df: DataFrame, url_col: str = "url", bin_col: str = "html",
    resolution: float = 36, num_partitions: int | None = None,
) -> DataFrame:
    """Corpus-scale structural page rendering (display.PageImage): one
    row per page with PNG dimensions + sha256. mapInPandas over the
    url-hash partitioning — render is per-doc independent, so the plan
    is embarrassingly parallel; the PNG payload is hashed, not shuffled."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for url, payload in zip(b[url_col], b[bin_col]):
                rows.extend(_render_rows(url, payload, resolution))
            yield pd.DataFrame(rows, columns=_RENDER_COLS)

    return _spread_payloads(df, url_col, bin_col, num_partitions).mapInPandas(
        run, schema=RENDER_SCHEMA
    )
