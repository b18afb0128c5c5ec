"""One pass of each workload over its input, and the fetch of its outputs
for the correctness check. Every call into the package is a public plan or
operator function; the tracer wraps each in a span named after its layer."""

from __future__ import annotations

import collections
import os
import shutil

from inputs import CKPT_BUCKETS, CKPT_FAIL_AFTER, WORK
from oracle import group_rows

CKPT_DIR = os.path.join(WORK, "checkpoint")


def dir_usage(path: str) -> tuple:
    """(parquet files, bytes of all files) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        files += sum(n.endswith(".parquet") for n in names)
        size += sum(os.path.getsize(os.path.join(root, n)) for n in names)
    return files, size


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """``run_pass`` is what the timed loop repeats over the input (part ->
    parquet path); ``fetch`` makes the same calls once, collecting their
    outputs, outside every timed region. ``checkpoint_pass`` is the
    checkpointed crash-and-resume of the traced ``text_mixed`` run; the
    ``curate_docs`` pass is the curation run of the traced
    ``tables_words`` run."""

    def __init__(self, name: str, tracer, tag: str = "timed"):
        self.name = name
        self.tr = tracer
        self.tag = tag
        self.passes = 0
        self.last_out = None
        self.pairs_kept = 0

    def run_pass(self, spark, paths: dict) -> None:
        getattr(self, "_pass_" + self.name)(spark, paths)
        self.passes += 1

    def _pass_text_mixed(self, spark, paths):
        from pdfplumber_spark.plans.extract import extract_text, read_pages

        with self.tr.span("plans.extract.extract_text"):
            _noop(extract_text(read_pages(spark, paths["text"])))

    def _pass_tables_words(self, spark, paths):
        from pdfplumber_spark.plans.extract import extract_tables, extract_words, read_pages

        pages = read_pages(spark, paths["tables"])
        with self.tr.span("plans.extract.extract_words"):
            _noop(extract_words(pages))
        with self.tr.span("plans.extract.extract_tables"):
            _noop(extract_tables(pages))

    def _pass_curate_docs(self, spark, paths):
        import pdfplumber_spark
        from pdfplumber_spark.operators.dedup import (
            duplicate_groups,
            minhash_dedup_cc,
            minhash_threshold_pairs,
        )
        from pdfplumber_spark.operators.text_analysis import quality_filter

        df = spark.read.parquet(paths["docs"])
        with self.tr.span("operators.text_analysis.quality_filter"):
            _noop(quality_filter(df))
        with self.tr.span("operators.dedup.duplicate_groups"):
            _noop(duplicate_groups(df, "doc_id", "text"))
        with self.tr.span("operators.dedup.minhash_pairs"):
            pairs = minhash_threshold_pairs(df, "doc_id", "text").persist()
            self.pairs_kept = pairs.count()
        with self.tr.span("operators.dedup.cc"):
            _noop(minhash_dedup_cc(df, "doc_id", "text", pairs=pairs))
        pairs.unpersist()
        pdfplumber_spark.unpersist_all()

    def checkpoint_pass(self, spark, path: str) -> None:
        """``run_extraction_checkpointed`` into local parquet, crashed after
        CKPT_FAIL_AFTER of CKPT_BUCKETS buckets, then resumed to the end."""
        from pdfplumber_spark.plans.checkpoint import run_extraction_checkpointed

        out = os.path.join(CKPT_DIR, self.tag)
        shutil.rmtree(out, ignore_errors=True)
        with self.tr.span("plans.checkpoint.crash"):
            try:
                run_extraction_checkpointed(
                    spark, path, out, n_buckets=CKPT_BUCKETS,
                    run_id="crash", fail_after_buckets=CKPT_FAIL_AFTER,
                )
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            else:
                raise RuntimeError("the injected crash did not happen")
        with self.tr.span("plans.checkpoint.resume"):
            summary = run_extraction_checkpointed(
                spark, path, out, n_buckets=CKPT_BUCKETS, run_id="resume"
            )
        if summary["buckets_done"] != CKPT_BUCKETS:
            raise RuntimeError(f"resume finished {summary['buckets_done']} buckets")
        self.last_out = out

    # --- outputs for the correctness check -----------------------------------

    def fetch(self, spark, paths: dict) -> dict:
        from pdfplumber_spark.plans.extract import extract_tables, extract_text, extract_words, read_pages

        if self.name == "curate_docs":
            return self._fetch_curate(spark, paths["docs"])
        if self.name == "text_mixed":
            return {"text": group_rows(extract_text(read_pages(spark, paths["text"])).collect())}
        pages = read_pages(spark, paths["tables"])
        return {"words": group_rows(extract_words(pages).collect()),
                "tables": group_rows(extract_tables(pages).collect())}

    def fetch_checkpoint(self, spark) -> dict:
        """The text rows the last ``checkpoint_pass`` wrote."""
        from pdfplumber_spark.plans.checkpoint import read_extracted, read_metrics
        from pdfplumber_spark.schemas import EXTRACTED_SCHEMA

        if len(read_metrics(self.last_out)) != CKPT_BUCKETS:
            return {"text": {}}
        cols = [f.name for f in EXTRACTED_SCHEMA.fields]
        return {"text": group_rows(read_extracted(spark, self.last_out).select(*cols).collect())}

    def _fetch_curate(self, spark, path):
        import pdfplumber_spark
        from pdfplumber_spark.operators.dedup import (
            duplicate_groups,
            minhash_dedup_cc,
            minhash_threshold_pairs,
        )
        from pdfplumber_spark.operators.text_analysis import quality_filter

        df = spark.read.parquet(path)
        pairs = minhash_threshold_pairs(df, "doc_id", "text").persist()
        survivors = minhash_dedup_cc(df, "doc_id", "text", pairs=pairs).select("doc_id").collect()
        got = {
            "quality": {r[0]: (r[1], r[2]) for r in quality_filter(df).collect()},
            "groups": {r[0]: (r[1], r[2]) for r in duplicate_groups(df, "doc_id", "text").collect()},
            "pairs": {(r[0], r[1]) for r in pairs.select("doc_a", "doc_b").collect()},
            "survivors": collections.Counter(r[0] for r in survivors),  # rows per id
        }
        pairs.unpersist()
        pdfplumber_spark.unpersist_all()
        return got

    def candidates(self, spark, path: str) -> int:
        """MinHash LSH candidate pairs before the threshold (traced run only)."""
        import pdfplumber_spark
        from pdfplumber_spark.operators.dedup import minhash_lsh_candidates, minhash_signatures

        df = spark.read.parquet(path)
        n = minhash_lsh_candidates(minhash_signatures(df, "doc_id", "text")).count()
        pdfplumber_spark.unpersist_all()
        return n
