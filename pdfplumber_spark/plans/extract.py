"""End-to-end extraction pipelines: pages table -> text / objects / words /
tables DataFrames.

Physical design (SURVEY.md §3.1, §4):

- ONE shuffle per plan: ``spread(df, xxhash64(url))`` right after the scan
  spreads documents evenly; every downstream operator is partition-local
  (all reference joins are page-local — SURVEY.md §2.3). The one exception
  is ``extract_text_salted``, which spreads a second time on
  ``xxhash64(url, page_base)`` after exploding mega-documents into pages.
- Every plan is a per-payload function (``_payload_to_*``: url, payload ->
  rows) run by ``map_payloads``, the one ``mapInPandas`` batch loop; the
  single-process oracles call the same functions. Whole-document parse and
  per-page text assembly happen inside one task.
- Text, words, tables, annotations, structure text, page metadata and
  the search plans (``plans.search``) parse each payload once
  (``parse_pdf``, no per-char style unless a word setting names a style
  column) and run their kernels on the parser's buffers
  (``CharArrays.from_interp``, ``tables.EdgeArrays.from_interp``, the
  interpreters' ``annot_rows``): no per-page pandas frames. The objects
  plan builds one frame per payload, column-wise from the same buffers:
  the char columns and one frame per row kind.
- Binary payloads are sniffed (%PDF- magic) and routed to the PDF or HTML
  kernel; malformed payloads yield ``status='error'`` rows with a reason
  instead of failing the job (reference analogue: the repair path,
  ``pdfplumber/repair.py``).
- Skew: a mega-document is one input row, so row-level repartition is the
  guaranteed spread; Arrow ``maxRecordsPerBatch`` caps batch memory. See
  SCALE.md for the page-split salting design at 10^12-doc scale.
"""

from __future__ import annotations

from collections import defaultdict
from functools import partial
from itertools import chain, count
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernel import pdfparse
from ..kernel.htmlstrip import extract_main_text_bytes
from ..kernel.laparams import LAParams, analyze
from ..kernel.pdfparse import pdf_to_frames  # noqa: F401 - perfbench.tracing hook name
from ..kernel.words import (
    CharArrays,
    WordSettings,
    dedupe_keep_mask,
    extract_words_ca,
    extract_words_frame,  # noqa: F401 - perfbench.tracing hook name
    needs_style,
)
from ..schemas import (
    ANNOTS_SCHEMA,
    EXPLODED_SCHEMA,
    EXTRACTED_SCHEMA,
    METADATA_SCHEMA,
    OBJECTS_SCHEMA,
    PAGE_GEOMETRY_SCHEMA,
    STRUCTURE_SCHEMA,
    TABLES_SCHEMA,
    WORDS_SCHEMA,
)

PAGE_SEP = "\n\n"


def read_pages(spark, path: str) -> DataFrame:
    """Scan the pages table. On a real cluster this is
    ``spark.read.format('iceberg').load(...)`` with snapshot/partition
    pruning; offline it is parquet with identical semantics."""
    return spark.read.parquet(path)


def spread(
    df: DataFrame, *keys, factor: int = 1, num_partitions: Optional[int] = None
) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` (column names or expressions)
    before per-row Python work: the one place a partition count is derived
    from the cluster.

    The sf tables and page corpora are single-row-group parquet files (one
    input split), so without this exchange every kernel downstream runs in
    ONE task. The count is ``num_partitions`` or the cluster's core count
    (``defaultParallelism``, which tracks the executor fleet) times
    ``factor``. An EXPLICIT count matters: a keyless ``repartition(hash)``
    inherits ``spark.sql.shuffle.partitions`` and is then AQE-coalescible
    by BYTES, and a small-bytes corpus of expensive payloads (PDFs are KBs
    of input but seconds of kernel work) would collapse to one task.
    ``factor=1`` for parse-weight kernels and light per-row expressions
    (measured best: extra task waves cost more than they balance);
    ``factor=2`` for strongly skewed per-row cost (rasterization, image
    decode, winnow hashing)."""
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(n, *keys)


def map_payloads(df: DataFrame, fn: Callable, schema: T.StructType) -> DataFrame:
    """THE per-row ``mapInPandas`` batch loop of the payload plans: call
    ``fn(*row)`` for each row of ``df`` (its columns in order) and emit the
    rows it returns as ``schema``. ``fn`` returns a list of row tuples in
    ``schema`` order or a list of DataFrames holding ``schema``'s columns
    (either list may be empty)."""
    in_cols = df.columns
    out_cols = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            out = []
            for row in zip(*(batch[c] for c in in_cols)):
                out.extend(fn(*row))
            if out and isinstance(out[0], pd.DataFrame):
                yield pd.concat(out, ignore_index=True)[out_cols]
            else:
                yield pd.DataFrame(out, columns=out_cols)

    return df.mapInPandas(run, schema=schema)


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
            # parser buffers -> CharArrays, no pandas; parse_pdf and
            # page_text_ca are looked up per call so the traced benchmark's
            # wrappers see them
            from ..kernel.layout import page_text_ca, text_args

            interps = pdfparse.parse_pdf(data, style=False)
            if not interps:
                return [(url, 0, None, None, None, "error", "unparseable pdf")]
            rows = []
            for it in interps:
                n = it.n_chars
                txt = ""
                if n:
                    ca = CharArrays.from_interp(it, ("fontname",) if dedupe else ())
                    if dedupe:
                        # key (fontname, size, upright, text) at (doctop, x0)
                        ca = ca.take(dedupe_keep_mask(
                            (ca.extra["fontname"], ca.size, ca.upright, ca.text),
                            ca.doctop, ca.x0,
                        ))
                        n = ca.n
                    settings, kwargs = text_args({"layout": layout}, (
                        0.0, 0.0, float(it.width), float(it.height)))
                    txt = page_text_ca(ca, settings, **kwargs)
                rows.append(
                    (url, it.page_number, txt, n,
                     txt.count(" ") + 1 if txt else 0, "ok", None)
                )
            return rows
        # HTML route
        txt = extract_main_text_bytes(data)
        return [(url, 1, txt, len(txt), len(txt.split()), "ok", None)]
    except Exception as e:  # noqa: BLE001 - error-row contract
        return [(url, 0, None, None, None, "error", f"{type(e).__name__}: {e}"[:200])]


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
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_text_rows, layout=layout, dedupe=dedupe, repair=repair),
        EXTRACTED_SCHEMA,
    )


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
_OBJ_NUM = {f.name for f in OBJECTS_SCHEMA.fields
            if isinstance(f.dataType, (T.DoubleType, T.IntegerType))}


def _objects_frame(url: str, parts: list) -> pd.DataFrame:
    """One ``OBJECTS_SCHEMA`` frame of ``parts`` (dicts of equal-length
    columns, consumed): a numeric column as one array, NaN where a part
    has none; any other as one list, None (as Arrow needs) where a part
    has none. The frame keeps the arrays as they are (``copy=False``)."""
    sizes = [len(p["obj_index"]) for p in parts]
    data = {"url": url}
    for c in _OBJ_COLS[1:]:
        cols = [p.pop(c, None) for p in parts]  # freed once copied
        if c in _OBJ_NUM:
            data[c] = np.concatenate([
                np.full(k, np.nan) if v is None else np.asarray(v)
                for v, k in zip(cols, sizes)])
        else:
            data[c] = list(chain.from_iterable(
                [None] * k if v is None else v for v, k in zip(cols, sizes)))
    return pd.DataFrame(data, columns=_OBJ_COLS, copy=False)


def _payload_to_objects(url: str, payload, laparams=None) -> list:
    """Per-payload objects rows, as ``[frame]`` in ``OBJECTS_SCHEMA``
    (``[]`` for a non-PDF, unparseable or page-less payload): the char
    columns and the parser's line, rect, curve and image rows, kind by
    kind, ``obj_index`` the emit position. With ``laparams`` (reference
    cli.py:56 + page.py:269-277), ``laparams.analyze`` adds each page's
    textline*/textbox* rows and ranks char ``obj_index`` in reading order,
    so ``ORDER BY url, page_number, object_type, obj_index`` is the
    reference CSV row order. Shared by the Spark plan and the oracle."""
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = pdfparse.parse_pdf(bytes(payload))
    except Exception:  # noqa: BLE001
        return []
    if not interps:
        return []
    lap = None if laparams is None else LAParams.resolve(laparams)
    parts, layout = [], []  # parts: each page's chars, then each row kind
    rows = {k: [] for k in pdfparse.ROW_COLUMNS}
    for it in interps:
        pn = it.page_number
        ca = CharArrays.from_interp(it, pdfparse.CHAR_COLUMNS)
        index = np.arange(ca.n)
        if lap is not None:
            lines, boxes, char_order = analyze(ca, lap)
            index[char_order] = np.arange(ca.n)  # reading rank
            counters = defaultdict(count)  # obj_index per layout type
            layout.extend({**o, "page_number": pn,
                           "obj_index": next(counters[o["object_type"]])}
                          for o in lines + boxes)
        parts.append({"page_number": np.full(ca.n, pn), "obj_index": index,
                      "object_type": np.array(["char"] * ca.n, dtype=object),
                      **ca.extra})
        for kind, kind_rows in rows.items():
            kind_rows.extend((pn, i, kind) + row
                             for i, row in enumerate(getattr(it, kind + "s")))
    for kind, kind_rows in rows.items():
        if kind_rows:
            cols = dict(zip(["page_number", "obj_index", "object_type",
                             *pdfparse.ROW_COLUMNS[kind]], zip(*kind_rows)))
            if kind != "image":
                cols["pts"] = [[{"x": float(x), "y": float(y)} for x, y in pts]
                               for pts in cols["pts"]]
            parts.append(cols)
    if layout:
        parts.append({c: [o[c] for o in layout] for c in layout[0]})
    return [_objects_frame(url, parts)]


def extract_objects(
    pages: DataFrame, num_partitions: Optional[int] = None, laparams=None
) -> DataFrame:
    """pages -> unified objects DataFrame (char/line/rect/curve rows;
    plus textline*/textbox* rows and reading-order char indices when
    ``laparams`` is given — reference cli.py:56)."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_objects, laparams=laparams),
        OBJECTS_SCHEMA,
    )


# --- words ------------------------------------------------------------------

_WORD_COLS = [f.name for f in WORDS_SCHEMA.fields]


def _payload_to_word_frames(url: str, payload, s: WordSettings) -> list:
    """Per-payload word rows as ONE frame in WORDS_SCHEMA column order (an
    empty list when there are none) — shared by the Spark plan and the
    materialized single-process oracle. One parse, words straight from the
    parser buffers; per-char style is captured only when ``s.extra_attrs``
    names a style column."""
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = pdfparse.parse_pdf(bytes(payload), style=needs_style(s.extra_attrs))
    except Exception:  # noqa: BLE001
        return []
    pages = []
    for it in interps:
        if it.n_chars:
            words = extract_words_ca(CharArrays.from_interp(it, s.extra_attrs), s)[0]
            if len(words):
                pages.append((it.page_number, words))
    if not pages:
        return []
    counts = [len(w) for _, w in pages]
    data = {
        "url": url,
        "page_number": np.repeat([pn for pn, _ in pages], counts),
        "word_index": np.concatenate([np.arange(k) for k in counts]),
    }
    for c in _WORD_COLS[3:]:  # WordArrays: numeric arrays, other lists
        vals = [w[c] for _, w in pages]
        data[c] = (
            np.concatenate(vals) if isinstance(vals[0], np.ndarray)
            else [v for page_vals in vals for v in page_vals]
        )
    return [pd.DataFrame(data, columns=_WORD_COLS)]


def extract_words(
    pages: DataFrame,
    settings: Optional[WordSettings] = None,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """pages -> words DataFrame (per merge_chars semantics, text.py:490-514)."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_word_frames, s=settings or WordSettings()),
        WORDS_SCHEMA,
    )


# --- tables -----------------------------------------------------------------

def _payload_to_table_rows(
    url: str,
    payload,
    vertical_strategy: str = "lines",
    horizontal_strategy: str = "lines",
    **table_kwargs,
) -> list:
    """Per-payload table-cell rows (TABLES_SCHEMA order) — shared by the
    Spark plan and the materialized single-process oracle. One style-free
    parse; per page, the edges (lines, rects and, as in the reference's
    page.edges, curves) and chars go straight from the parser buffers into
    the array table kernel."""
    from ..kernel import tables as T

    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = pdfparse.parse_pdf(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    out_rows = []
    for it in interps:
        pn = it.page_number
        ca = CharArrays.from_interp(it)
        words = None
        if "text" in (vertical_strategy, horizontal_strategy):
            words = extract_words_ca(ca, WordSettings())[0]
        try:
            tables = T.find_tables(
                T.EdgeArrays.from_interp(it),
                words=words,
                page_bbox=(0.0, 0.0, it.width, it.height),
                vertical_strategy=vertical_strategy,
                horizontal_strategy=horizontal_strategy,
                **table_kwargs,
            )
        except Exception:  # noqa: BLE001
            continue
        for ti, cells in enumerate(tables):
            grid = T.table_rows(cells)
            texts = T.extract_table_text(cells, ca)
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
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(
            _payload_to_table_rows,
            vertical_strategy=vertical_strategy,
            horizontal_strategy=horizontal_strategy,
            **table_kwargs,
        ),
        TABLES_SCHEMA,
    )


# --- skew handling: mega-document page explosion (SCALE.md §2.1) -------------

def _explode_payload(url: str, payload, page_threshold: int) -> list:
    """One (url, page_base, html) row per page of a PDF with more than
    ``page_threshold`` pages, else the payload as one row with page_base 0."""
    from ..kernel.pdfsplit import count_pages, split_pdf_pages

    data = bytes(payload) if payload is not None else b""
    if data[:5] == b"%PDF-" and count_pages(data) > page_threshold:
        try:
            parts = split_pdf_pages(data)
        except Exception:  # noqa: BLE001
            return [(url, 0, data)]
        return [(url, i + 1, part) for i, part in enumerate(parts)]
    return [(url, 0, payload)]


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
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_explode_payload, page_threshold=page_threshold),
        EXPLODED_SCHEMA,
    )


def _salted_text_rows(url: str, page_base: int, payload, layout: bool) -> list:
    """Text rows of one ``explode_skewed`` row: an exploded single-page
    payload gets its original page number back."""
    rows = _payload_to_text_rows(url, payload, layout)
    if page_base:
        return [(r[0], int(page_base)) + r[2:] for r in rows]
    return rows


def extract_text_salted(
    pages: DataFrame,
    layout: bool = False,
    page_threshold: int = 50,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """extract_text with mega-document page salting: skewed docs explode to
    per-page rows BEFORE the parse stage; the second repartition spreads
    the exploded pages across the cluster (exploded pages of one url get
    distinct partitions)."""
    exploded = explode_skewed(pages, page_threshold, num_partitions)
    return map_payloads(
        spread(exploded, F.xxhash64("url", "page_base"),
               num_partitions=num_partitions),
        partial(_salted_text_rows, layout=layout),
        EXTRACTED_SCHEMA,
    )


def _payload_to_structure_rows(url: str, payload, with_text: bool = False,
                               laparams=None) -> list:
    """Per-payload ``[(url, structure_json)]`` (json None when the tree
    cannot be read; no row for a non-PDF payload)."""
    from ..kernel.structure import tree_to_json

    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        return [(url, tree_to_json(bytes(payload), with_text=with_text,
                                   laparams=laparams))]
    except Exception:  # noqa: BLE001
        return [(url, None)]


def extract_structure(
    pages: DataFrame, num_partitions: Optional[int] = None,
    with_text: bool = False, laparams=None,
) -> DataFrame:
    """pages -> (url, structure_json) — the Tagged-PDF tree as a JSON
    column (SURVEY §1.2: Spark has no recursive StructType). ``with_text``
    is the CLI --structure-text form (cli.py:75-93); ``laparams`` makes
    mcid text concatenation follow pdfminer reading order (cli.py:29)."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_structure_rows, with_text=with_text, laparams=laparams),
        STRUCTURE_SCHEMA,
    )


def _payload_to_page_geometry_rows(url: str, payload) -> list:
    """Per-payload (url, page_number, width, height, rotation) rows, read
    off the style-free parse's page interpreters."""
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = pdfparse.parse_pdf(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    return [(url, it.page_number, it.width, it.height, it.rotation)
            for it in interps]


def extract_page_meta(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """pages -> (url, page_number, width, height, rotation) per PDF page."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        _payload_to_page_geometry_rows,
        PAGE_GEOMETRY_SCHEMA,
    )


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
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        _payload_to_metadata_rows,
        METADATA_SCHEMA,
    )


# --- annots / hyperlinks -----------------------------------------------------

ANNOT_COLS = [f.name for f in ANNOTS_SCHEMA.fields]


def _payload_to_annots(url: str, payload) -> list:
    """Per-payload annotation frame, as ``[frame]`` (``[]`` when there are
    none), built from the annotation rows ``parse_pdf`` attaches to each
    page — shared by the Spark plan and the materialized single-process
    oracle."""
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = pdfparse.parse_pdf(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    rows = [r for it in interps for r in it.annot_rows]
    if not rows:
        return []
    a = pd.DataFrame(rows, columns=ANNOT_COLS)
    a["url"] = url
    return [a]


def extract_annots(
    pages: DataFrame, num_partitions: Optional[int] = None, hyperlinks_only: bool = False
) -> DataFrame:
    """pages -> annotation rows (``page.py:280-323``); ``hyperlinks_only``
    keeps rows with a uri (``page.py:321-323``)."""
    out = map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        _payload_to_annots,
        ANNOTS_SCHEMA,
    )
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
    return pd.DataFrame(rows, columns=[f.name for f in EXTRACTED_SCHEMA.fields])
