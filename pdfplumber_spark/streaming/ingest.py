"""Structured Streaming ingestion: continuous extraction over arriving
crawl batches.

The reference is strictly batch (SURVEY §2.10) and the north rule requires
*resumable batch* (plans/checkpoint.py). This module adds the natural
streaming form for incremental crawls: new parquet files landing in a
directory (or an Iceberg table's appends) are picked up by ``readStream``,
run through the SAME extraction kernels, and appended to the sink with
exactly-once semantics via the streaming checkpoint — the micro-batch
analogue of the bucket manifests.

Design notes for scale:
- the pipeline inside each micro-batch is identical to the batch plan
  (one url-hash exchange, then a single mapInPandas) — watermarks/late
  data don't apply because extraction is stateless per document;
- ``maxFilesPerTrigger`` bounds micro-batch size (parse cost ~ bytes);
- ``Trigger.AvailableNow`` drains a backlog then stops — the scheduled-run
  mode; continuous mode just omits it.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import SparkSession

from ..plans.extract import extract_text
from ..schemas import PAGES_SCHEMA


def stream_extract_text(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    layout: bool = False,
    max_files_per_trigger: Optional[int] = None,
    available_now: bool = True,
):
    """Continuously extract text from pages parquet files arriving in
    ``input_dir``; returns the started StreamingQuery."""
    reader = spark.readStream.schema(PAGES_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    pages = reader.parquet(input_dir)
    # extract_text repartitions each micro-batch by url hash (sized from the
    # cluster's core count, plans.extract.spread); the extraction is stateless,
    # so that exchange is the batch's only shuffle
    extracted = extract_text(pages, layout=layout)
    writer = (
        extracted.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_dedup_first_seen(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Cross-batch exact dedup: emit each content hash's FIRST-seen page
    (min url within the first batch that carries it), drop every later
    arrival — the stateful-streaming primitive a continuous crawl ingest
    needs so re-crawled/mirrored pages never re-enter the corpus.

    Custom stateful operator via ``applyInPandasWithState``: state is one
    boolean per content_md5 group, persisted in the streaming checkpoint,
    so dedup survives restarts with exactly-once semantics (pinned by
    tests/test_streaming.py). At scale the state store is per-key tiny
    (1 bit + key) and partitioned by the hash — the same key the batch
    ``exact_dedup`` shuffles on. NoTimeout: crawl dedup state must never
    expire (a TTL would re-admit old boilerplate; swap in
    ``GroupStateTimeout.ProcessingTimeTimeout`` if bounded-state retention
    is preferred)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    reader = spark.readStream.schema(PAGES_SCHEMA)
    pages = reader.parquet(input_dir)
    keyed = pages.select(
        F.md5(F.col("html")).alias("content_md5"), "url", "warc_ts"
    )

    # no type annotations on the udf fn (postponed-annotation strings break
    # signature inference — same workaround as the pandas_udf kernels)
    def first_seen(key, pdfs, state):
        if state.exists:
            for _ in pdfs:  # drain — later arrivals of a seen hash drop
                pass
            return
        best = None
        for pdf in pdfs:
            if len(pdf):
                cand = pdf.sort_values("url").iloc[0]
                if best is None or cand["url"] < best["url"]:
                    best = cand
        if best is not None:
            state.update((True,))
            yield pd.DataFrame(
                {
                    "content_md5": [key[0]],
                    "url": [best["url"]],
                    "warc_ts": [best["warc_ts"]],
                }
            )

    deduped = keyed.groupBy("content_md5").applyInPandasWithState(
        first_seen,
        outputStructType="content_md5 string, url string, warc_ts timestamp",
        stateStructType="seen boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
