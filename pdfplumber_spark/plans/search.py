"""Search / text-line extraction over the corpus (TextMap.search family,
``pdfplumber/utils/text.py:145-230``).

Per page: build the plain textmap in the kernel (``page_textmap``), regex
over the rendered string, map spans back to source chars through the
provenance array, emit match rows with bboxes. One mapInPandas pass,
partition-local.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernel.layout import page_textmap, search_text
from ..kernel.pdfparse import pdf_to_frames

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


def _page_matches(chars: pd.DataFrame, pattern: str, regex: bool, case: bool,
                  strip_lines: bool) -> pd.DataFrame:
    tm = page_textmap(chars)
    if tm is None:
        return pd.DataFrame()
    rendered, prov = tm
    if strip_lines:
        pattern = r" *([^\n]+?) *(\n|$)"
        return search_text(rendered, prov, chars, pattern, main_group=1)
    return search_text(rendered, prov, chars, pattern, regex=regex, case=case)


def search_pages(
    pages: DataFrame,
    pattern: str,
    regex: bool = True,
    case: bool = True,
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Regex search across every PDF page of the corpus -> matches with
    bboxes (Page.search semantics, ``page.py:485-502``)."""
    return _run(pages, pattern, regex, case, False, num_partitions)


def extract_text_lines(
    pages: DataFrame, num_partitions: Optional[int] = None
) -> DataFrame:
    """Per-page stripped text lines with bboxes
    (``TextMap.extract_text_lines``, ``text.py:212-230``)."""
    return _run(pages, "", True, True, True, num_partitions)


def _payload_to_match_frames(url, payload, pattern, regex, case,
                             strip_lines) -> list:
    """Per-payload match frames (MATCHES_SCHEMA order) — shared by the Spark
    plan and the materialized single-process oracle."""
    cols = [f.name for f in MATCHES_SCHEMA.fields]
    if payload is None or bytes(payload)[:5] != b"%PDF-":
        return []
    try:
        frames = pdf_to_frames(bytes(payload), style=False)
    except Exception:  # noqa: BLE001
        return []
    outs = []
    for pn, sub in frames["chars"].groupby("page_number", sort=True):
        m = _page_matches(sub, pattern, regex, case, strip_lines)
        if len(m) == 0:
            continue
        m = m.drop(columns=["groups"], errors="ignore")
        m["url"] = url
        m["page_number"] = int(pn)
        m["match_index"] = range(len(m))
        outs.append(m[cols])
    return outs


def _run(pages, pattern, regex, case, strip_lines, num_partitions):
    from .extract import partition_by_url

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in MATCHES_SCHEMA.fields]
        for batch in batches:
            outs = []
            for url, payload in zip(batch["url"], batch["html"]):
                outs.extend(
                    _payload_to_match_frames(
                        url, payload, pattern, regex, case, strip_lines
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame(columns=cols)
            )

    src = partition_by_url(pages.select("url", "html"), num_partitions)
    return src.mapInPandas(run, schema=MATCHES_SCHEMA)
