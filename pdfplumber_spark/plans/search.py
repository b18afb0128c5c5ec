"""Search / text-line extraction over the corpus (TextMap.search family,
``pdfplumber/utils/text.py:145-230``).

Each payload is parsed once (``parse_pdf``, no per-char style); every page
with chars runs the kernel's one search path (``page_search``) on its
parser buffers (``CharArrays.from_interp``): the plain textmap, the regex
over the rendered string, spans mapped back to source chars through the
provenance array, match bboxes. One mapInPandas pass
(``plans.extract.map_payloads``), partition-local.
"""

from __future__ import annotations

from functools import partial
from typing import Optional

from pyspark.sql import DataFrame, functions as F, types as T

from ..kernel.layout import STRIP_LINES, page_search
from ..kernel.pdfparse import parse_pdf
from ..kernel.words import CharArrays
from .extract import map_payloads, spread

MATCHES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_number", T.IntegerType(), False),
        T.StructField("match_index", T.IntegerType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("x0", T.DoubleType(), True),
        T.StructField("top", T.DoubleType(), True),
        T.StructField("x1", T.DoubleType(), True),
        T.StructField("bottom", T.DoubleType(), True),
        T.StructField("start", T.IntegerType(), True),
        T.StructField("end", T.IntegerType(), True),
    ]
)


def search_pages(
    pages: DataFrame,
    pattern: str,
    regex: bool = True,
    case: bool = True,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Regex search across every PDF page of the corpus -> matches with
    bboxes (Page.search semantics, ``page.py:485-502``)."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_match_frames, pattern=pattern, regex=regex,
                case=case, strip_lines=False),
        MATCHES_SCHEMA,
    )


def extract_text_lines(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """Per-page stripped text lines with bboxes
    (``TextMap.extract_text_lines``, ``text.py:212-230``)."""
    return map_payloads(
        spread(pages.select("url", "html"), F.xxhash64("url"),
               num_partitions=num_partitions),
        partial(_payload_to_match_frames, pattern="", regex=True, case=True,
                strip_lines=True),
        MATCHES_SCHEMA,
    )


def _payload_to_match_frames(url, payload, pattern, regex, case,
                             strip_lines) -> list:
    """Per-payload match frames (MATCHES_SCHEMA order) — shared by the Spark
    plan and the materialized single-process oracle."""
    cols = [f.name for f in MATCHES_SCHEMA.fields]
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        interps = parse_pdf(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    if strip_lines:
        pattern, regex, case, main_group = STRIP_LINES, True, True, 1
    else:
        main_group = 0
    outs = []
    for it in interps:
        if it.n_chars == 0:
            continue
        m = page_search(CharArrays.from_interp(it), pattern, regex=regex,
                        case=case, main_group=main_group)
        if len(m) == 0:
            continue
        m["url"] = url
        m["page_number"] = it.page_number
        m["match_index"] = range(len(m))
        outs.append(m[cols])
    return outs
