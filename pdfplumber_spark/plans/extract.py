"""End-to-end extraction pipelines: pages table -> text / objects / words /
tables DataFrames.

Physical design (SURVEY.md §3.1, §4):

- ONE shuffle total: ``repartition(xxhash64(url))`` right after the scan
  spreads documents evenly; every downstream operator is partition-local
  (all reference joins are page-local — SURVEY.md §2.3).
- ``mapInPandas`` runs the Arrow-batched kernels; whole-document parse and
  per-page text assembly happen inside one task — text extraction is a
  single-pass, shuffle-free plan.
- Binary payloads are sniffed (%PDF- magic) and routed to the PDF or HTML
  kernel; malformed payloads yield ``status='error'`` rows with a reason
  instead of failing the job (reference analogue: the repair path,
  ``pdfplumber/repair.py``).
- Skew: a mega-document is one input row, so row-level repartition is the
  guaranteed spread; Arrow ``maxRecordsPerBatch`` caps batch memory. See
  SCALE.md for the page-split salting design at 10^12-doc scale.
"""

from __future__ import annotations

import traceback
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel.htmlstrip import extract_main_text_bytes
from ..kernel.pdfparse import pdf_to_frames
from ..kernel.words import (
    CharArrays,
    WordSettings,
    dedupe_keep_mask,
    extract_words_frame,
)
from ..schemas import EXTRACTED_SCHEMA, OBJECTS_SCHEMA, TABLES_SCHEMA, WORDS_SCHEMA

PAGE_SEP = "\n\n"


def read_pages(spark, path: str) -> DataFrame:
    """Scan the pages table. On a real cluster this is
    ``spark.read.format('iceberg').load(...)`` with snapshot/partition
    pruning; offline it is parquet with identical semantics."""
    return spark.read.parquet(path)


def default_doc_partitions(df: DataFrame, factor: int = 1) -> int:
    """Scale-adaptive partition count for per-document kernel stages:
    the running cluster's core count times ``factor``
    (``defaultParallelism`` tracks the executor fleet, so the same code
    parallelizes local[2] tests and a 1000-executor cluster). An EXPLICIT
    count matters here: a keyless ``repartition(hash)`` inherits
    ``spark.sql.shuffle.partitions`` and is then AQE-coalescible by
    BYTES — a small-bytes corpus of expensive payloads (PDFs are KBs of
    input but seconds of kernel work) would collapse to one task.
    ``factor=1`` for parse-weight kernels (measured best: extra task
    waves cost more than they balance); callers with strongly skewed
    per-doc cost (rasterization) pass ``factor=2``."""
    return df.sparkSession.sparkContext.defaultParallelism * factor


def partition_by_url(df: DataFrame, num_partitions: Optional[int] = None) -> DataFrame:
    """THE shuffle of the pipeline: spread documents by url hash.

    ``num_partitions=None`` sizes the exchange from the cluster
    (``default_doc_partitions``) rather than from data bytes — per-doc
    decode cost, not byte count, is the load unit of this pipeline."""
    if not num_partitions:
        num_partitions = default_doc_partitions(df)
    return df.repartition(num_partitions, F.xxhash64("url"))


# --- single-pass text extraction -------------------------------------------

def _payload_to_text_rows(
    url: str, payload, layout: bool, dedupe: bool = False,
    repair: bool = False,
) -> list:
    if payload is None:
        return [(url, 0, None, None, None, "error", "null payload")]
    data = bytes(payload)
    if repair and data[:5] != b"%PDF-" and b"%PDF-" in data[:4096]:
        # crawl artifact: junk prepended to a real PDF — without repair the
        # payload would route to the HTML branch. Rebuild, then extract.
        try:
            from ..kernel.pdfrepair import repair_bytes

            data = repair_bytes(data)
        except Exception:  # noqa: BLE001 - fall through to normal handling
            pass
    rows = _payload_rows_inner(url, data, layout, dedupe)
    if (
        repair
        and data[:5] == b"%PDF-"
        and any(r[5] == "error" for r in rows)
    ):
        # parse failed outright (truncated tail, smashed xref): salvage
        # whatever objects survive and retry once on the rebuilt bytes
        try:
            from ..kernel.pdfrepair import repair_bytes

            rows2 = _payload_rows_inner(url, repair_bytes(data), layout, dedupe)
            if not any(r[5] == "error" for r in rows2):
                return rows2
        except Exception:  # noqa: BLE001
            pass
    return rows


def _payload_rows_inner(url: str, data: bytes, layout: bool, dedupe: bool) -> list:
    try:
        if data[:5] == b"%PDF-":
            # parser buffers -> CharArrays, no pandas; page_text_ca is looked
            # up per call so the traced benchmark's wrapper sees it
            from ..kernel.layout import page_text_ca
            from ..kernel.pdfparse import parse_pdf

            interps = parse_pdf(data, style=False)
            if not interps:
                return [(url, 0, None, None, None, "error", "unparseable pdf")]
            rows = []
            for it in interps:
                n = it.n_chars
                txt = ""
                if n:
                    text = it.ch_text
                    nums = np.frombuffer(it.ch_num, dtype=np.float64).reshape(n, 12)
                    if dedupe:
                        # key (fontname, size, upright, text) at (doctop, x0)
                        keep = dedupe_keep_mask(
                            (it.ch_font, nums[:, 0], nums[:, 2], text),
                            nums[:, 9], nums[:, 3],
                        )
                        text = np.asarray(text, dtype=object)[keep]
                        nums = nums[keep]
                        n = len(nums)
                    kwargs = {}
                    if layout:
                        w, h = float(it.width), float(it.height)
                        kwargs = dict(
                            layout=True, layout_bbox=(0.0, 0.0, w, h),
                            layout_width=w, layout_height=h,
                        )
                    txt = page_text_ca(
                        CharArrays.from_arrays(text, nums), WordSettings(), **kwargs
                    )
                rows.append(
                    (url, it.page_number, txt, n,
                     txt.count(" ") + 1 if txt else 0, "ok", None)
                )
            return rows
        # HTML route
        txt = extract_main_text_bytes(data)
        return [(url, 1, txt, len(txt), len(txt.split()), "ok", None)]
    except Exception as e:  # noqa: BLE001 - error-row contract
        return [
            (url, 0, None, None, None, "error",
             f"{type(e).__name__}: {e}"[:200] or traceback.format_exc()[:200])
        ]


def extract_text(
    pages: DataFrame,
    layout: bool = False,
    dedupe: bool = False,
    num_partitions: Optional[int] = None,
    repair: bool = False,
) -> DataFrame:
    """pages -> (url, page_number, text, n_chars, n_words, status, error).

    Single mapInPandas pass; zero shuffles after the url-hash repartition.
    ``dedupe`` applies dedupe_chars (text.py:784-804) before assembly.
    ``repair`` retries failed payloads through the structural rebuilder
    (reference PDF.open(repair=True), kernel/pdfrepair.py) — off by
    default, matching the reference's opt-in semantics.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for url, payload in zip(batch["url"], batch["html"]):
                out.extend(
                    _payload_to_text_rows(url, payload, layout, dedupe, repair)
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "url", "page_number", "text", "n_chars", "n_words",
                    "status", "error",
                ],
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=EXTRACTED_SCHEMA)


def document_text(extracted: DataFrame) -> DataFrame:
    """Collapse page texts to one row per url (pages joined by PAGE_SEP) —
    partition-local agg (input already partitioned by url)."""
    return (
        extracted.where(F.col("status") == "ok")
        .groupBy("url")
        .agg(
            F.concat_ws(
                PAGE_SEP,
                F.array_sort(
                    F.collect_list(F.struct("page_number", "text"))
                ).getField("text"),
            ).alias("text")
        )
    )


# --- object extraction ------------------------------------------------------

_OBJ_COLS = [f.name for f in OBJECTS_SCHEMA.fields]


def _frames_to_objects(url: str, frames) -> pd.DataFrame:
    parts = []
    for kind, idx_col in (
        ("chars", "char_index"), ("lines", "line_index"),
        ("rects", "rect_index"), ("curves", "curve_index"),
        ("images", "image_index"),
    ):
        df = frames[kind]
        if len(df) == 0:
            continue
        p = df.copy()
        p["object_type"] = kind[:-1]
        p["obj_index"] = p[idx_col]
        p["url"] = url
        if "pts" in p.columns:
            p["pts"] = p["pts"].map(
                lambda pts: [{"x": float(x), "y": float(y)} for (x, y) in pts]
            )
        parts.append(p)
    if not parts:
        return pd.DataFrame(columns=_OBJ_COLS)
    out = pd.concat(parts, ignore_index=True)
    for c in _OBJ_COLS:
        if c not in out.columns:
            out[c] = None
    # concat fills missing columns with float NaN — Arrow needs real None
    # for array/string/bool columns (NaN is not iterable)
    for c in ("text", "fontname", "matrix", "stroking_color",
              "non_stroking_color", "pts", "tag", "stroke", "fill"):
        col = out[c]
        if col.dtype != object:
            col = col.astype(object)
        out[c] = col.where(col.notna(), None)
    return out[_OBJ_COLS]


def _laparams_objects(url: str, frames, laparams) -> Optional[pd.DataFrame]:
    """LAParams layout analysis over the objects output (reference
    cli.py:56 ``--laparams`` + page.py:269-277): adds textline*/textbox*
    rows and renumbers char ``obj_index`` to pdfminer reading order so
    ``ORDER BY url, page_number, object_type, obj_index`` reproduces the
    reference CSV row order."""
    from ..kernel.laparams import LAParams, analyze

    lap = LAParams.resolve(laparams)
    out = _frames_to_objects(url, frames)
    chars = frames["chars"]
    extra_rows: list = []
    for pn, sub in chars.groupby("page_number", sort=True):
        lines, boxes, char_order = analyze(sub, lap)
        n = len(sub)
        # reading rank per rendering-order position (unseen chars go last,
        # matching the api.Page.chars ordering rule)
        rank = {}
        for i in char_order:
            if i < n and i not in rank:
                rank[i] = len(rank)
        for i in range(n):
            if i not in rank:
                rank[i] = len(rank)
        mask = (out["object_type"] == "char") & (out["page_number"] == pn)
        idx = out.index[mask]
        if len(idx) == n:
            out.loc[idx, "obj_index"] = [rank[i] for i in range(n)]
        counters: dict = {}
        for o in lines + boxes:
            d = dict(o)
            d["url"] = url
            d["page_number"] = int(pn)
            k = d["object_type"]
            d["obj_index"] = counters[k] = counters.get(k, -1) + 1
            extra_rows.append(d)
    if not extra_rows:
        return out
    extra = pd.DataFrame(extra_rows)
    for c in _OBJ_COLS:
        if c not in extra.columns:
            extra[c] = None
    extra = extra[_OBJ_COLS]
    # match numeric dtypes so concat doesn't warn on all-NA object columns
    for c in _OBJ_COLS:
        if extra[c].isna().all() and out[c].dtype.kind == "f":
            extra[c] = extra[c].astype(out[c].dtype)
    return pd.concat([out, extra], ignore_index=True)


def _payload_to_objects(url: str, payload, laparams=None) -> Optional[pd.DataFrame]:
    """Per-payload unified objects frame — shared by the Spark plan and the
    materialized single-process oracle."""
    if payload is None:
        return None
    data = bytes(payload)
    if data[:5] != b"%PDF-":
        return None
    try:
        frames = pdf_to_frames(data)
    except Exception:  # noqa: BLE001
        return None
    if laparams is not None:
        return _laparams_objects(url, frames, laparams)
    return _frames_to_objects(url, frames)


def extract_objects(
    pages: DataFrame, num_partitions: Optional[int] = None, laparams=None
) -> DataFrame:
    """pages -> unified objects DataFrame (char/line/rect/curve rows;
    plus textline*/textbox* rows and reading-order char indices when
    ``laparams`` is given — reference cli.py:56)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            outs = []
            for url, payload in zip(batch["url"], batch["html"]):
                obj = _payload_to_objects(url, payload, laparams=laparams)
                if obj is not None:
                    outs.append(obj)
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=_OBJ_COLS)
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=OBJECTS_SCHEMA)


# --- words ------------------------------------------------------------------

def _payload_to_word_frames(url: str, payload, s: WordSettings) -> list:
    """Per-payload word frames (WORDS_SCHEMA column order) — shared by the
    Spark plan and the materialized single-process oracle."""
    cols = [f.name for f in WORDS_SCHEMA.fields]
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        frames = pdf_to_frames(bytes(payload))
    except Exception:  # noqa: BLE001
        return []
    outs = []
    chars = frames["chars"]
    for pn, sub in chars.groupby("page_number", sort=True):
        words, _, _ = extract_words_frame(sub, s)
        if len(words) == 0:
            continue
        w = words.copy()
        w["url"] = url
        w["page_number"] = int(pn)
        w["word_index"] = np.arange(len(w))
        outs.append(w[cols])
    return outs


def extract_words(
    pages: DataFrame,
    settings: Optional[WordSettings] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """pages -> words DataFrame (per merge_chars semantics, text.py:490-514)."""
    s = settings or WordSettings()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WORDS_SCHEMA.fields]
        for batch in batches:
            outs = []
            for url, payload in zip(batch["url"], batch["html"]):
                outs.extend(_payload_to_word_frames(url, payload, s))
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=cols)
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=WORDS_SCHEMA)


# --- tables -----------------------------------------------------------------

def _payload_to_table_rows(
    url: str,
    payload,
    vertical_strategy: str = "lines",
    horizontal_strategy: str = "lines",
    **table_kwargs,
) -> list:
    """Per-payload table-cell rows (TABLES_SCHEMA order) — shared by the
    Spark plan and the materialized single-process oracle."""
    from ..kernel.geom import curves_to_edges, lines_to_edges, rects_to_edges
    from ..kernel.tables import extract_table_text, find_tables_frame, table_rows

    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        frames = pdf_to_frames(bytes(payload))
    except Exception:  # noqa: BLE001
        return []
    out_rows = []
    for pmeta in frames["pages"].itertuples(index=False):
        pn = pmeta.page_number
        chars = frames["chars"]
        chars_p = chars[chars["page_number"] == pn]
        edge_parts = []
        ln = frames["lines"]
        ln_p = ln[ln["page_number"] == pn]
        if len(ln_p):
            edge_parts.append(lines_to_edges(ln_p))
        rc = frames["rects"]
        rc_p = rc[rc["page_number"] == pn]
        if len(rc_p):
            edge_parts.append(rects_to_edges(rc_p))
        # Reference includes curve-derived edges in page.edges
        # (container.py:85-90); curve-ruled tables need them.
        cv = frames.get("curves")
        if cv is not None and "pts" in cv.columns:
            cv_p = cv[cv["page_number"] == pn]
            if len(cv_p):
                edge_parts.append(curves_to_edges(cv_p))
        edges = (
            pd.concat(edge_parts, ignore_index=True)
            if edge_parts
            else pd.DataFrame(
                columns=["x0", "x1", "top", "bottom", "width",
                         "height", "orientation", "object_type"]
            )
        )
        words = None
        if "text" in (vertical_strategy, horizontal_strategy):
            words, _, _ = extract_words_frame(chars_p, WordSettings())
        try:
            tables = find_tables_frame(
                edges,
                words=words,
                page_bbox=(0.0, 0.0, pmeta.width, pmeta.height),
                vertical_strategy=vertical_strategy,
                horizontal_strategy=horizontal_strategy,
                **table_kwargs,
            )
        except Exception:  # noqa: BLE001
            continue
        for ti, cells in enumerate(tables):
            grid = table_rows(cells)
            texts = extract_table_text(cells, chars_p)
            for ri, (row_cells, row_texts) in enumerate(zip(grid, texts)):
                for ci, (cell, txt) in enumerate(zip(row_cells, row_texts)):
                    bbox = cell or (None, None, None, None)
                    out_rows.append(
                        (url, int(pn), ti, ri, ci, txt,
                         bbox[0], bbox[1], bbox[2], bbox[3])
                    )
    return out_rows


def extract_tables(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    vertical_strategy: str = "lines",
    horizontal_strategy: str = "lines",
    **table_kwargs,
) -> DataFrame:
    """pages -> tables DataFrame
    (url, page_number, table_index, row_index, col_index, text, bbox)."""
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in TABLES_SCHEMA.fields]
        for batch in batches:
            out_rows = []
            for url, payload in zip(batch["url"], batch["html"]):
                out_rows.extend(
                    _payload_to_table_rows(
                        url, payload,
                        vertical_strategy=vertical_strategy,
                        horizontal_strategy=horizontal_strategy,
                        **table_kwargs,
                    )
                )
            yield pd.DataFrame(out_rows, columns=cols)

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=TABLES_SCHEMA)


# --- skew handling: mega-document page explosion (SCALE.md §2.1) -------------

def explode_skewed(
    pages: DataFrame,
    page_threshold: int = 50,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Split payloads with more than ``page_threshold`` pages into per-page
    1-page payload rows, so page-level parallelism caps task skew.

    Output schema: (url, page_base, html). ``page_base`` is the original
    page number for exploded rows, 0 for intact documents. The xref-only
    page count is cheap (~2 ms/page to split; stream bytes copied raw).
    """
    from pyspark.sql import types as T

    from ..kernel.pdfsplit import count_pages, split_pdf_pages

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("page_base", T.IntegerType(), False),
            T.StructField("html", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, payload in zip(batch["url"], batch["html"]):
                data = bytes(payload) if payload is not None else b""
                if data[:5] == b"%PDF-" and count_pages(data) > page_threshold:
                    try:
                        parts = split_pdf_pages(data)
                    except Exception:  # noqa: BLE001
                        rows.append((url, 0, data))
                        continue
                    for i, part in enumerate(parts):
                        rows.append((url, i + 1, part))
                else:
                    rows.append((url, 0, payload))
            yield pd.DataFrame(rows, columns=["url", "page_base", "html"])

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=schema)


def extract_text_salted(
    pages: DataFrame,
    layout: bool = False,
    page_threshold: int = 50,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """extract_text with mega-document page salting: skewed docs explode to
    per-page rows BEFORE the parse stage; the second repartition spreads
    the exploded pages across the cluster."""
    exploded = explode_skewed(pages, page_threshold, num_partitions)
    # second spread: exploded pages of one url get distinct partitions
    # (explicit count for the same AQE-coalescing reason as partition_by_url)
    exploded = exploded.repartition(
        num_partitions or default_doc_partitions(exploded),
        F.xxhash64("url", "page_base"),
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for url, base, payload in zip(
                batch["url"], batch["page_base"], batch["html"]
            ):
                rows = _payload_to_text_rows(url, payload, layout)
                if base:
                    # single-page payload: restore the original page number
                    rows = [(r[0], int(base)) + r[2:] for r in rows]
                out.extend(rows)
            yield pd.DataFrame(
                out,
                columns=["url", "page_number", "text", "n_chars", "n_words",
                         "status", "error"],
            )

    return exploded.mapInPandas(run, schema=EXTRACTED_SCHEMA)


def extract_structure(
    pages: DataFrame, num_partitions: Optional[int] = None,
    with_text: bool = False, laparams=None,
) -> DataFrame:
    """pages -> (url, structure_json) — the Tagged-PDF tree as a JSON
    column (SURVEY §1.2: Spark has no recursive StructType). ``with_text``
    is the CLI --structure-text form (cli.py:75-93); ``laparams`` makes
    mcid text concatenation follow pdfminer reading order (cli.py:29)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("structure_json", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernel.structure import tree_to_json

        for batch in batches:
            rows = []
            for url, payload in zip(batch["url"], batch["html"]):
                if payload is None or bytes(payload)[:5] != b"%PDF-":
                    continue
                try:
                    rows.append(
                        (url, tree_to_json(bytes(payload),
                                           with_text=with_text,
                                           laparams=laparams))
                    )
                except Exception:  # noqa: BLE001
                    rows.append((url, None))
            yield pd.DataFrame(rows, columns=["url", "structure_json"])

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=schema)


def extract_page_meta(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """pages -> (url, page_number, width, height, rotation) per PDF page."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("page_number", T.IntegerType(), False),
            T.StructField("width", T.DoubleType(), True),
            T.StructField("height", T.DoubleType(), True),
            T.StructField("rotation", T.IntegerType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in schema.fields]
        for batch in batches:
            outs = []
            for url, payload in zip(batch["url"], batch["html"]):
                if payload is None or bytes(payload)[:5] != b"%PDF-":
                    continue
                try:
                    meta = pdf_to_frames(bytes(payload), style=False)["pages"]
                except Exception:  # noqa: BLE001
                    continue
                m = meta.copy()
                m["url"] = url
                outs.append(m[cols])
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=cols)
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=schema)


def with_doc_doctop(df: DataFrame, page_meta: DataFrame) -> DataFrame:
    """Recompute document-level ``doctop`` = top + cumulative height of
    preceding pages (``pdf.py:135-144``) — the window form, needed after
    page-salted parses where each part only knows its own page."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("url")
        .orderBy("page_number")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = page_meta.select(
        "url", "page_number",
        F.coalesce(F.sum("height").over(w), F.lit(0.0)).alias("initial_doctop"),
    )
    return df.join(offsets, ["url", "page_number"], "left").withColumn(
        "doctop", F.col("top") + F.coalesce("initial_doctop", F.lit(0.0))
    ).drop("initial_doctop")


# --- document metadata (Info dict) -------------------------------------------

def _payload_to_metadata_rows(url: str, payload) -> list:
    """Per-payload (url, key, value) metadata rows (reference pdf.py:28-63
    .metadata) — shared by the Spark plan and the single-process oracle.
    Values are stringified for a fixed schema; None stays NULL."""
    from ..kernel.pdfparse import PDFDocument

    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        meta = PDFDocument(bytes(payload)).metadata()
    except Exception:  # noqa: BLE001
        return []
    return [
        (url, str(k), None if v is None else str(v))
        for k, v in sorted(meta.items(), key=lambda kv: str(kv[0]))
    ]


def extract_metadata(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """pages -> (url, key, value) document-metadata rows. The MapType form
    is ``F.map_from_entries`` over this (SURVEY §2.1); the exploded form is
    the join/SQL-friendly one."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("key", T.StringType(), False),
            T.StructField("value", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for url, payload in zip(batch["url"], batch["html"]):
                rows.extend(_payload_to_metadata_rows(url, payload))
            yield pd.DataFrame(rows, columns=["url", "key", "value"])

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=schema)


# --- annots / hyperlinks -----------------------------------------------------

ANNOT_COLS = [
    "url", "page_number", "x0", "top", "x1", "bottom", "doctop",
    "uri", "title", "contents",
]


def _payload_to_annots(url: str, payload, cols=None) -> Optional[pd.DataFrame]:
    """Per-payload annotation frame — shared by the Spark plan and the
    materialized single-process oracle."""
    cols = cols or ANNOT_COLS
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return None
    try:
        frames = pdf_to_frames(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return None
    a = frames["annots"]
    if len(a) == 0:
        return None
    a = a.copy()
    a["url"] = url
    return a[cols]


def extract_annots(
    pages: DataFrame, num_partitions: Optional[int] = None, hyperlinks_only: bool = False
) -> DataFrame:
    """pages -> annotation rows (``page.py:280-323``); ``hyperlinks_only``
    keeps rows with a uri (``page.py:321-323``)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("page_number", T.IntegerType(), False),
            T.StructField("x0", T.DoubleType(), True),
            T.StructField("top", T.DoubleType(), True),
            T.StructField("x1", T.DoubleType(), True),
            T.StructField("bottom", T.DoubleType(), True),
            T.StructField("doctop", T.DoubleType(), True),
            T.StructField("uri", T.StringType(), True),
            T.StructField("title", T.StringType(), True),
            T.StructField("contents", T.StringType(), True),
        ]
    )
    cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            outs = []
            for url, payload in zip(batch["url"], batch["html"]):
                a = _payload_to_annots(url, payload, cols)
                if a is not None:
                    outs.append(a)
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=cols)
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    out = src.mapInPandas(run, schema=schema)
    if hyperlinks_only:
        out = out.where(F.col("uri").isNotNull())
    return out


# --- oracle (single-process reference for byte-identity tests) --------------

def oracle_extract_text(payloads, layout: bool = False) -> pd.DataFrame:
    """Run the SAME kernels single-process over (url, payload) pairs —
    the byte-identity oracle for the Spark path."""
    rows = []
    for url, payload in payloads:
        rows.extend(_payload_to_text_rows(url, payload, layout))
    return pd.DataFrame(
        rows,
        columns=["url", "page_number", "text", "n_chars", "n_words", "status", "error"],
    )
