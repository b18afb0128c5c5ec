"""Every payload plan equals its serial per-payload function.

Each Spark plan in ``plans.extract``, ``plans.search`` and
``operators.multimodal`` is a url-hash ``spread`` plus ``map_payloads`` over
one per-payload function. Here each plan's collected rows must equal that
function run serially over the same payloads (as sorted rows, at the
cluster-derived and at an explicit partition count), and each plan must
shuffle exactly once (twice for the page-salted text plan).

Corpus: ``generate_rows`` seed 11 (basic, layout, lattice/stream tables,
rotated, encrypted, image-bearing PDFs, standalone image files, HTML, broken
PDFs, link annotations, tagged pages) plus a 5-page document, a null
payload, a non-PDF byte string and a truncated PDF.
"""

import math
from functools import partial

import numpy as np
import pytest
from pyspark.sql import types as T

from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.words import WordSettings
from pdfplumber_spark.operators import multimodal as M
from pdfplumber_spark.plans import extract as X
from pdfplumber_spark.plans import search as S
from pdfplumber_spark.schemas import (
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
from pdfplumber_spark.sources.corpus import generate_rows

THRESHOLD = 3  # page count above which explode_skewed splits a payload


# name -> (plan(pages, num_partitions), serial per-payload fn, schema, exchanges)
PLANS = {
    "extract_text": (
        lambda p, n: X.extract_text(p, layout=True, dedupe=True, num_partitions=n),
        partial(X._payload_to_text_rows, layout=True, dedupe=True),
        EXTRACTED_SCHEMA, 1,
    ),
    "extract_objects": (
        lambda p, n: X.extract_objects(p, num_partitions=n),
        X._payload_to_objects, OBJECTS_SCHEMA, 1,
    ),
    "extract_objects[laparams]": (
        lambda p, n: X.extract_objects(p, num_partitions=n, laparams={}),
        partial(X._payload_to_objects, laparams={}), OBJECTS_SCHEMA, 1,
    ),
    "extract_words": (
        lambda p, n: X.extract_words(p, num_partitions=n),
        partial(X._payload_to_word_frames, s=WordSettings()), WORDS_SCHEMA, 1,
    ),
    "extract_tables": (
        lambda p, n: X.extract_tables(p, num_partitions=n),
        X._payload_to_table_rows, TABLES_SCHEMA, 1,
    ),
    "explode_skewed": (
        lambda p, n: X.explode_skewed(p, THRESHOLD, num_partitions=n),
        partial(X._explode_payload, page_threshold=THRESHOLD), EXPLODED_SCHEMA, 1,
    ),
    "extract_text_salted": (
        lambda p, n: X.extract_text_salted(p, page_threshold=THRESHOLD, num_partitions=n),
        # salting must not show: the serial function is the unsalted one
        partial(X._payload_to_text_rows, layout=False), EXTRACTED_SCHEMA, 2,
    ),
    "extract_structure": (
        lambda p, n: X.extract_structure(p, num_partitions=n),
        X._payload_to_structure_rows, STRUCTURE_SCHEMA, 1,
    ),
    "extract_page_meta": (
        lambda p, n: X.extract_page_meta(p, num_partitions=n),
        X._payload_to_page_geometry_rows, PAGE_GEOMETRY_SCHEMA, 1,
    ),
    "extract_metadata": (
        lambda p, n: X.extract_metadata(p, num_partitions=n),
        X._payload_to_metadata_rows, METADATA_SCHEMA, 1,
    ),
    "extract_annots": (
        lambda p, n: X.extract_annots(p, num_partitions=n),
        X._payload_to_annots, ANNOTS_SCHEMA, 1,
    ),
    "search_pages": (
        lambda p, n: S.search_pages(p, r"[a-z]{6,}", num_partitions=n),
        partial(S._payload_to_match_frames, pattern=r"[a-z]{6,}", regex=True,
                case=True, strip_lines=False),
        S.MATCHES_SCHEMA, 1,
    ),
    "extract_text_lines": (
        lambda p, n: S.extract_text_lines(p, num_partitions=n),
        partial(S._payload_to_match_frames, pattern="", regex=True, case=True,
                strip_lines=True),
        S.MATCHES_SCHEMA, 1,
    ),
    "image_metadata": (
        lambda p, n: M.image_metadata(p, num_partitions=n),
        M._payload_to_image_rows, M.IMAGE_META_SCHEMA, 1,
    ),
    "pdf_image_stats": (
        lambda p, n: M.pdf_image_stats(p, num_partitions=n),
        M._image_stat_rows, M.IMAGE_STATS_SCHEMA, 1,
    ),
    "render_debug_png": (
        lambda p, n: M.render_debug_png(p, num_partitions=n),
        partial(M._render_rows, resolution=36), M.RENDER_SCHEMA, 1,
    ),
}


def _norm(v, dtype):
    """A value as Spark would hand it back for ``dtype``."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(dtype, T.ArrayType):
        return [_norm(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType):
        get = v.__getitem__
        return tuple(_norm(get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, (T.IntegerType, T.LongType)):
        return int(v)
    if isinstance(dtype, T.DoubleType):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return bool(v)
    if isinstance(dtype, T.BinaryType):
        return bytes(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _rows(records, schema) -> list:
    out = [
        tuple(_norm(v, f.dataType) for v, f in zip(rec, schema.fields))
        for rec in records
    ]
    return sorted(out, key=repr)


def _serial_records(fn, payloads, schema) -> list:
    records = []
    for url, payload in payloads:
        for part in fn(url, payload):
            if isinstance(part, tuple):
                records.append(part)
            else:
                records.extend(part[[f.name for f in schema.fields]].itertuples(
                    index=False, name=None))
    return records


@pytest.fixture(scope="module")
def payloads():
    rows = [(r["url"], r["html"]) for r in generate_rows(30, seed=11, mega_pages=5)]
    pdf = make_pdf([{"width": 612, "height": 792, "texts": [
        {"x": 72, "top": 72, "size": 12, "text": "Truncated after this line"}]}])
    return rows + [
        ("edge://null", None),
        ("edge://not-pdf", b"\x00\xffnot a pdf or html \xfe"),
        ("edge://truncated", pdf[: len(pdf) // 2]),
    ]


@pytest.fixture(scope="module")
def pages(spark, payloads, tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path_factory.mktemp("payload_plans") / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(
        [{"url": u, "html": h} for u, h in payloads],
        schema=pa.schema([("url", pa.string()), ("html", pa.binary())]),
    ), path)
    return X.read_pages(spark, path)


@pytest.fixture(scope="module")
def serial_rows(payloads):
    cache = {}

    def get(name):
        if name not in cache:
            _, fn, schema, _ = PLANS[name]
            cache[name] = _rows(_serial_records(fn, payloads, schema), schema)
        return cache[name]

    return get


@pytest.mark.parametrize("num_partitions", [None, 3])
@pytest.mark.parametrize("name", list(PLANS))
def test_plan_equals_serial_payload_function(pages, serial_rows, name, num_partitions):
    plan, _, schema, _ = PLANS[name]
    df = plan(pages, num_partitions)
    assert df.schema == schema
    expected = serial_rows(name)
    assert expected, f"{name}: the corpus must give the plan some rows"
    assert _rows(df.collect(), schema) == expected


@pytest.mark.parametrize("name", list(PLANS))
def test_plan_shuffles_once(pages, name):
    plan, _, _, exchanges = PLANS[name]
    for n in (None, 3):
        executed = plan(pages, n)._jdf.queryExecution().executedPlan().toString()
        assert executed.count("Exchange") == exchanges, executed
