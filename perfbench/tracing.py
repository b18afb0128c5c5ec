"""Measurement helpers: spans, the Python-worker RSS sampler, the Spark
event-log reader and the serial kernel replay.

Spans are recorded only from the benchmark's side, around each call into a
layer's public function; they stay in memory and are written out when the
run ends.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time


class Tracer:
    """Spans (name, start, end, parent, run id). A disabled tracer records
    nothing, so untraced runs pay one function call per span."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans = []
        self._stack = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "name": name, "start": time.time(), "end": None,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_times(self) -> dict:
        """name -> summed self time (duration minus child-span durations)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - child[s["id"]])
        return out

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# --- Python worker memory ------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_table() -> dict:
    """pid -> (parent pid, command name) of every process in /proc."""
    table = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:  # ended meanwhile
            continue
        name = stat[stat.index("(") + 1:stat.rindex(")")]
        table[int(p)] = (int(stat[stat.rindex(")") + 2:].split()[1]), name)
    return table


def python_rss(root_pid: int) -> list:
    """RSS bytes of each Python process descending from ``root_pid`` (the
    Spark Python daemon and its forked workers). Other descendants are
    left out: a child the JVM is forking reports the JVM's own RSS."""
    children, comm = {}, {}
    for pid, (ppid, name) in process_table().items():
        children.setdefault(ppid, []).append(pid)
        comm[pid] = name
    rss, todo = [], list(children.get(root_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        if not comm[pid].startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss.append(int(f.read().split()[1]) * _PAGE)
        except OSError:
            pass
    return rss


class RssSampler:
    """Peak, over samples taken every ``interval`` seconds, of the summed
    ``python_rss`` under the JVM."""

    def __init__(self, root_pid: int, interval: float = 0.05):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.at_peak = []  # each process's RSS in the peak sample
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        rss = sorted(python_rss(self.root_pid))
        if sum(rss) > self.peak:
            self.peak = sum(rss)
            self.at_peak = rss

    def _run(self):
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


# --- Spark event log -------------------------------------------------------------

def read_event_log(event_dir: str) -> dict:
    """Jobs, stages and tasks of the (single) application log in ``event_dir``."""
    (path,) = [p for p in glob.glob(os.path.join(event_dir, "**"), recursive=True)
               if os.path.isfile(p)]
    jobs, stages, tasks = {}, {}, []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                jobs[e["Job ID"]] = {"submit": e["Submission Time"], "stages": e["Stage IDs"]}
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                stages[si["Stage ID"]] = {
                    "scopes": {json.loads(r["Scope"])["name"] for r in si["RDD Info"] if r.get("Scope")},
                }
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics", {})
                tasks.append({
                    "stage": e["Stage ID"],
                    "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                    "failed": ti["Failed"],
                    "run_s": tm.get("Executor Run Time", 0) / 1e3,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1e3,
                    "spill_b": tm.get("Disk Bytes Spilled", 0),
                    "shuffle_read_b": sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0),
                    "fetch_wait_s": sr.get("Fetch Wait Time", 0) / 1e3,
                    "shuffle_write_b": tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                })
    for t in tasks:
        stages.setdefault(t["stage"], {"scopes": set()}).setdefault("tasks", []).append(t)
    return {"jobs": jobs, "stages": stages}


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1e3


def spark_layers(log: dict, spans: list, window: tuple, passes: int) -> dict:
    """Per-pass Spark metrics of the jobs submitted inside ``window``
    (epoch seconds). Jobs submitted inside a ``plans.*`` span are the
    extraction jobs that the ``plans.extract`` metrics describe."""
    lo, hi = window[0] * 1e3, window[1] * 1e3
    jobs = [j for j in log["jobs"].values() if lo <= j["submit"] <= hi and "end" in j]
    stages = log["stages"]

    def job_span(job):
        inside = [s for s in spans if s["start"] * 1e3 <= job["submit"] <= s["end"] * 1e3]
        return min(inside, key=lambda s: s["end"] - s["start"])["name"] if inside else ""

    def job_tasks(job):
        return [t for sid in job["stages"] for t in stages.get(sid, {}).get("tasks", [])]

    for j in jobs:
        j["span"] = job_span(j)
    all_tasks = [t for j in jobs for t in job_tasks(j)]
    floors = [
        (j["end"] - j["submit"]) / 1e3 - max((t["run_s"] for t in job_tasks(j)), default=0.0)
        for j in jobs
    ]
    ext_stage_ids = {sid for j in jobs if j["span"].startswith("plans.") for sid in j["stages"]}
    def has(sid, scope):
        return any(s.startswith(scope) for s in stages.get(sid, {}).get("scopes", ()))

    scan = [t for sid in ext_stage_ids if has(sid, "Scan parquet") and not has(sid, "MapInPandas")
            for t in stages[sid].get("tasks", [])]
    udf_stages = [stages[sid].get("tasks", []) for sid in ext_stage_ids if has(sid, "MapInPandas")]
    udf = [t for ts in udf_stages for t in ts]
    ext = [t for sid in ext_stage_ids for t in stages.get(sid, {}).get("tasks", [])]
    skews = [max(t["run_s"] for t in ts) / max(statistics.median(t["run_s"] for t in ts), 1e-3)
             for ts in udf_stages if ts]

    def per_pass(x):
        return x / passes

    ck_write = [j for j in jobs if j["span"].startswith("plans.checkpoint")
                and any(has(s, "WriteFiles") for s in j["stages"])]
    ck_other = [j for j in jobs if j["span"].startswith("plans.checkpoint") and j not in ck_write]
    return {
        "plans.extract.scan_s": per_pass(sum(t["run_s"] for t in scan)),
        "plans.extract.shuffle_write_mb": per_pass(sum(t["shuffle_write_b"] for t in scan) / 1e6),
        "plans.extract.shuffle_read_mb": per_pass(sum(t["shuffle_read_b"] for t in udf) / 1e6),
        "plans.extract.fetch_wait_s": per_pass(sum(t["fetch_wait_s"] for t in udf)),
        "plans.extract.udf_run_s": per_pass(sum(t["run_s"] for t in udf)),
        "plans.extract.udf_cpu_s": per_pass(sum(t["cpu_s"] for t in udf)),
        "plans.extract.udf_gc_s": per_pass(sum(t["gc_s"] for t in udf)),
        "plans.extract.spill_mb": per_pass(sum(t["spill_b"] for t in ext) / 1e6),
        "plans.extract.task_skew": statistics.median(skews) if skews else 0.0,
        "plans.checkpoint.write_s": per_pass(sum((j["end"] - j["submit"]) / 1e3 for j in ck_write)),
        "plans.checkpoint.readback_s": per_pass(sum((j["end"] - j["submit"]) / 1e3 for j in ck_other)),
        "spark.jobs": per_pass(len(jobs)),
        "spark.stages": per_pass(len({sid for j in jobs for sid in j["stages"] if stages.get(sid, {}).get("tasks")})),
        "spark.task_failures": float(sum(t["failed"] for t in all_tasks)),
        "spark.driver_gap_s": per_pass(
            (hi - lo) / 1e3 - _union_s([(t["launch"], t["finish"]) for t in all_tasks])
        ),
        "spark.job_floor_s": statistics.median(floors) if floors else 0.0,
        "_busy_s": per_pass(sum(t["run_s"] for t in all_tasks)),
    }


# --- serial kernel replay --------------------------------------------------------

# (module, attribute, span name) of the kernel entry points the per-payload
# plan functions call; attributes are looked up at call time, so wrapping
# them times exactly the calls the plans make.
KERNEL_CALLS = [
    ("pdfplumber_spark.kernel.pdfparse", "parse_pdf", "kernel.pdfparse.parse_pdf"),
    ("pdfplumber_spark.plans.extract", "pdf_to_frames", "kernel.pdfparse.pdf_to_frames"),
    ("pdfplumber_spark.kernel.layout", "page_text_ca", "kernel.layout.page_text"),
    ("pdfplumber_spark.plans.extract", "extract_main_text_bytes", "kernel.htmlstrip.strip"),
    ("pdfplumber_spark.plans.extract", "extract_words_frame", "kernel.words.extract_words"),
    ("pdfplumber_spark.kernel.geom", "lines_to_edges", "kernel.geom.to_edges"),
    ("pdfplumber_spark.kernel.geom", "rects_to_edges", "kernel.geom.to_edges"),
    ("pdfplumber_spark.kernel.geom", "curves_to_edges", "kernel.geom.to_edges"),
    ("pdfplumber_spark.kernel.tables", "find_tables_frame", "kernel.tables.find_tables"),
    ("pdfplumber_spark.kernel.tables", "extract_table_text", "kernel.tables.table_text"),
]


def _empty(result) -> bool:
    if isinstance(result, dict):  # pdf_to_frames
        return len(result["pages"]) == 0
    return not result


def kernel_replay(docs: list, tracer: Tracer) -> dict:
    """Replay, in this process and serially, the per-payload functions the
    plans run, with a span around each kernel call. Returns counts; the
    times are the tracer's self times."""
    import importlib

    from pdfplumber_spark.kernel.words import WordSettings
    from pdfplumber_spark.plans import extract as X

    counts = {"parse_errors": 0, "words_out": 0, "cells_out": 0}
    saved = []

    def wrap(fn, name):
        def timed(*args, **kwargs):
            with tracer.span(name):
                try:
                    out = fn(*args, **kwargs)
                except Exception:
                    if name.startswith("kernel.pdfparse"):
                        counts["parse_errors"] += 1
                    raise
            if name.startswith("kernel.pdfparse") and _empty(out):
                counts["parse_errors"] += 1
            if name == "kernel.words.extract_words":
                counts["words_out"] += len(out[0])
            return out
        return timed

    for mod, attr, name in KERNEL_CALLS:
        m = importlib.import_module(mod)
        saved.append((m, attr, getattr(m, attr)))
        setattr(m, attr, wrap(getattr(m, attr), name))
    try:
        for d in docs:
            with tracer.span("replay.doc"):
                if d["part"] == "tables":
                    X._payload_to_word_frames(d["url"], d["html"], WordSettings())
                    counts["cells_out"] += len(X._payload_to_table_rows(d["url"], d["html"]))
                else:
                    X._payload_to_text_rows(d["url"], d["html"], False)
    finally:
        for m, attr, fn in saved:
            setattr(m, attr, fn)
    return counts
