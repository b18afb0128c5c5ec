"""The per-layer ledger of a traced run: every metric is per pass over the
workload's input unless its name says otherwise (counts of a whole pass,
ratios, or the traced run's own throughput). The ``plans.checkpoint`` and
``operators`` metrics are of the traced run's one extra run."""

from __future__ import annotations

import statistics

from workloads import dir_usage

# name -> unit, in print order; BENCHMARK.json's per_layer list is this list
LAYER_METRICS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "plans.extract.scan_s": "s",
    "plans.extract.shuffle_write_mb": "MB",
    "plans.extract.shuffle_read_mb": "MB",
    "plans.extract.fetch_wait_s": "s",
    "plans.extract.udf_run_s": "s",
    "plans.extract.udf_cpu_s": "s",
    "plans.extract.udf_gc_s": "s",
    "plans.extract.spill_mb": "MB",
    "plans.extract.task_skew": "ratio",
    "plans.extract.boundary_s": "s",
    "kernel.pdfparse.parse_pdf_s": "s",
    "kernel.pdfparse.pdf_to_frames_s": "s",
    "kernel.pdfparse.calls": "count",
    "kernel.pdfparse.errors": "count",
    "kernel.pdfparse.max_doc_s": "s",
    "kernel.layout.page_text_s": "s",
    "kernel.layout.pages": "count",
    "kernel.htmlstrip.strip_s": "s",
    "kernel.htmlstrip.calls": "count",
    "kernel.words.extract_words_s": "s",
    "kernel.words.words_out": "count",
    "kernel.geom.to_edges_s": "s",
    "kernel.tables.find_tables_s": "s",
    "kernel.tables.table_text_s": "s",
    "kernel.tables.cells_out": "count",
    "plans.checkpoint.buckets": "count",
    "plans.checkpoint.bucket_p50_s": "s",
    "plans.checkpoint.bucket_max_s": "s",
    "plans.checkpoint.write_s": "s",
    "plans.checkpoint.readback_s": "s",
    "plans.checkpoint.files": "count",
    "plans.checkpoint.written_mb": "MB",
    "operators.text_analysis.quality_filter_s": "s",
    "operators.dedup.duplicate_groups_s": "s",
    "operators.dedup.minhash_pairs_s": "s",
    "operators.dedup.cc_s": "s",
    "operators.dedup.candidates": "count",
    "operators.dedup.pairs_kept": "count",
    "operators.dedup.pair_yield": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.task_failures": "count",
    "spark.driver_gap_s": "s",
    "spark.job_floor_s": "s",
    "unattributed_s": "s",
    "trace.docs_per_s": "1/s",
    "trace.untraced_docs_per_s": "1/s",
    "trace.overhead_frac": "ratio",
}


def checkpoint_metrics(out: str, layers: dict) -> dict:
    """The ``plans.checkpoint`` metrics of one crash-and-resume into
    ``out``; ``layers`` is ``spark_layers`` over the window it ran in."""
    from pdfplumber_spark.plans.checkpoint import read_metrics

    walls = [r["wall_sec"] for r in read_metrics(out)]
    files, written = dir_usage(out)
    return {
        "plans.checkpoint.buckets": float(len(walls)),
        "plans.checkpoint.bucket_p50_s": statistics.median(walls) if walls else 0.0,
        "plans.checkpoint.bucket_max_s": max(walls, default=0.0),
        "plans.checkpoint.write_s": layers["plans.checkpoint.write_s"],
        "plans.checkpoint.readback_s": layers["plans.checkpoint.readback_s"],
        "plans.checkpoint.files": float(files),
        "plans.checkpoint.written_mb": written / 1e6,
    }


def curate_metrics(tracer, pairs_kept: int, candidates: int) -> dict:
    """The operator metrics of one curation pass traced by ``tracer``."""
    own = tracer.self_times()
    return {
        "operators.text_analysis.quality_filter_s": own["operators.text_analysis.quality_filter"],
        "operators.dedup.duplicate_groups_s": own["operators.dedup.duplicate_groups"],
        "operators.dedup.minhash_pairs_s": own["operators.dedup.minhash_pairs"],
        "operators.dedup.cc_s": own["operators.dedup.cc"],
        "operators.dedup.candidates": float(candidates),
        "operators.dedup.pairs_kept": float(pairs_kept),
        "operators.dedup.pair_yield": pairs_kept / candidates if candidates else 0.0,
    }


def ledger(tracer, replay, counts, layers, extra, traced, plain, session_s, w, cores) -> dict:
    """``extra``: ``checkpoint_metrics`` or ``curate_metrics`` of the
    traced run's extra run; the metrics of a layer no run used read 0."""
    passes = w.passes
    kern = replay.self_times()
    parse_calls = replay.durations("kernel.pdfparse.parse_pdf") + replay.durations(
        "kernel.pdfparse.pdf_to_frames")
    wall = (traced["window"][1] - traced["window"][0]) / passes
    m = dict(session_s)
    m.update({k: v for k, v in layers.items() if not k.startswith("_")})
    kernel_busy = sum(replay.durations("replay.doc"))
    m["plans.extract.boundary_s"] = (
        m["plans.extract.udf_run_s"] - kernel_busy if m["plans.extract.udf_run_s"] else 0.0
    )
    m.update({
        "kernel.pdfparse.parse_pdf_s": kern.get("kernel.pdfparse.parse_pdf", 0.0),
        "kernel.pdfparse.pdf_to_frames_s": kern.get("kernel.pdfparse.pdf_to_frames", 0.0),
        "kernel.pdfparse.calls": float(len(parse_calls)),
        "kernel.pdfparse.errors": float(counts.get("parse_errors", 0)),
        "kernel.pdfparse.max_doc_s": max(parse_calls, default=0.0),
        "kernel.layout.page_text_s": kern.get("kernel.layout.page_text", 0.0),
        "kernel.layout.pages": float(len(replay.durations("kernel.layout.page_text"))),
        "kernel.htmlstrip.strip_s": kern.get("kernel.htmlstrip.strip", 0.0),
        "kernel.htmlstrip.calls": float(len(replay.durations("kernel.htmlstrip.strip"))),
        "kernel.words.extract_words_s": kern.get("kernel.words.extract_words", 0.0),
        "kernel.words.words_out": float(counts.get("words_out", 0)),
        "kernel.geom.to_edges_s": kern.get("kernel.geom.to_edges", 0.0),
        "kernel.tables.find_tables_s": kern.get("kernel.tables.find_tables", 0.0),
        "kernel.tables.table_text_s": kern.get("kernel.tables.table_text", 0.0),
        "kernel.tables.cells_out": float(counts.get("cells_out", 0)),
    })
    m.update({k: 0.0 for k in LAYER_METRICS if k.startswith(("plans.checkpoint.", "operators."))})
    m.update(extra)
    # wall not covered by driver-side gaps nor by task run time spread
    # over the cores: cores idle while some task still runs
    m["unattributed_s"] = wall - m["spark.driver_gap_s"] - layers["_busy_s"] / cores
    m["trace.docs_per_s"] = traced["docs_per_s"]
    m["trace.untraced_docs_per_s"] = plain["docs_per_s"]
    m["trace.overhead_frac"] = 1 - traced["docs_per_s"] / plain["docs_per_s"]
    return {k: (float(m[k]), unit) for k, unit in LAYER_METRICS.items()}
