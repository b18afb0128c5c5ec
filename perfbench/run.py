#!/usr/bin/env python3
"""Seeded benchmark of the extraction engine.

    python3 perfbench/run.py --workload text_mixed --seed 1 --seconds 20 --trace 0

Runs one workload at local[N] (N = usable cores) in this fresh process: a
single closed-loop client submits one job at a time. The input is made
from the seed (perfbench/inputs.py); the outputs of the last call of each
kind are checked against the expected rows (perfbench/oracle.py) outside
every timed region. The last line of stdout is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer ledger with ``--trace 1``.
perfbench/README.md defines every metric.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("text_mixed", "tables_words")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(cores: int, work: str, event_dir: str = None):
    from pdfplumber_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the launcher JVM, the driver JVM and the Python workers from
    # writing temp and perf-data files outside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TMPDIR"] = tmp
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - make sure it is gone either way
        proc.kill()
        proc.wait()


def cpu_ticks() -> tuple:
    """(steal, all) clock ticks of the machine's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def timed_loop(w, spark, paths: dict, seconds: float, n_docs: int):
    """Repeat the workload pass for ``seconds``; per-pass walls, the peak
    Python-worker RSS while they ran, and the share of CPU time the
    hypervisor stole meanwhile (a diagnostic of a shared host)."""
    from tracing import RssSampler

    walls = []
    steal0, all0 = cpu_ticks()
    with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
        t_window = time.time()
        deadline = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            w.run_pass(spark, paths)
            walls.append(time.perf_counter() - t0)
            if time.perf_counter() >= deadline:
                break
        window = (t_window, time.time())
    steal1, all1 = cpu_ticks()
    return {
        "steal_share": (steal1 - steal0) / max(all1 - all0, 1),
        "walls": walls,
        "docs_per_s": statistics.median(n_docs / x for x in walls),
        "peak_rss_mb": rss.peak / 1e6,
        "rss_at_peak_mb": [round(x / 1e6, 1) for x in rss.at_peak],
        "window": window,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(1, os.path.dirname(here))  # the package at the checkout root

    import pyspark  # noqa: F401
    import pdfplumber_spark.plans.checkpoint  # noqa: F401
    import pdfplumber_spark.plans.extract  # noqa: F401
    import pdfplumber_spark.operators.dedup  # noqa: F401
    import pdfplumber_spark.operators.text_analysis  # noqa: F401

    import inputs
    import oracle
    from tracing import Tracer
    from workloads import CKPT_DIR, Workload

    import_s = time.perf_counter() - T_START
    cores = len(os.sched_getaffinity(0))
    work = inputs.WORK
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"

    # --- input and expected rows (not part of any timing) ---
    phases = {"import": import_s}
    t0 = time.perf_counter()
    docs = inputs.make_input(args.workload, args.seed)
    paths = inputs.write_inputs(docs, args.workload)
    warm_paths = inputs.write_inputs(inputs.warm_slice(docs), args.workload + "-warm")
    phases["input"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    exp = oracle.expected(args.workload, args.seed, docs, cores)
    phases["expected"] = time.perf_counter() - t0
    shutil.rmtree(CKPT_DIR, ignore_errors=True)

    # --- set-up: session start + warm-up pass over a small slice ---
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(cores, work)
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        Workload(args.workload, Tracer(run_id, False), tag="warm").run_pass(spark, warm_paths)
        warmup_s = time.perf_counter() - t0
        setup_s = import_s + start_s + warmup_s

        # the checked pass also lets the session settle before timing
        t0 = time.perf_counter()
        checker = Workload(args.workload, Tracer(run_id, False), tag="check")
        bad = oracle.failed_docs(args.workload, docs, exp, checker.fetch(spark, paths))
        phases["check"] = time.perf_counter() - t0
        w = Workload(args.workload, Tracer(run_id, False))
        plain = timed_loop(w, spark, paths, args.seconds, len(docs))
    finally:
        if spark is not None:
            stop_jvm(spark)
    record = {
        "run_id": run_id,
        "input": inputs.input_properties(args.workload, docs),
        "anchors": oracle.anchor_coverage(docs),
        "passes": len(plain["walls"]),
        "pass_walls_s": [round(x, 4) for x in plain["walls"]],
        "rss_at_peak_mb": plain["rss_at_peak_mb"],
        "steal_share": round(plain["steal_share"], 4),
        "phases_s": phases,
    }
    metrics = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (plain["docs_per_s"], "1/s"),
        "peak_rss_mb": (plain["peak_rss_mb"], "MB"),
    }
    attempted = len(docs)
    if args.trace:
        metrics, extra = traced_run(args, docs, paths, warm_paths, exp, run_id, cores, plain,
                                    {"session.start_s": start_s, "session.warmup_s": warmup_s})
        if "written_mb" in extra:
            record["written_mb"] = extra["written_mb"]
        record[extra["name"] + "_failed"] = len(extra["bad"])
        if extra["name"] == "curate":
            record["curate_input"] = inputs.input_properties("curate_docs", extra["docs"])
        attempted += len(extra["docs"])
        bad = bad | {(extra["name"], k) for k in extra["bad"]}
    record["failed_frac"] = len(bad) / attempted

    phases["total"] = time.perf_counter() - T_START
    record["metrics"] = {k: v for k, (v, _) in metrics.items()}
    _write_record(work, run_id, record)
    print("record " + json.dumps(record, sort_keys=True))
    for k, (v, unit) in metrics.items():
        print(f"  {k:<44} {v:>14.6g} {unit}")
    print(f"  {'failed_frac':<44} {record['failed_frac']:>14.6g} share of docs")
    if "written_mb" in record:
        print(f"  {'written_mb':<44} {record['written_mb']:>14.6g} MB")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _write_record(work: str, run_id: str, record: dict) -> None:
    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def traced_run(args, docs, paths, warm_paths, exp, run_id, cores, plain, session_s):
    """A second Spark session (fresh JVM) with the event log on and spans
    around every layer call; then one extra run for the layers the
    workload's passes leave out, checked against its expected rows:
    ``text_mixed`` a checkpointed crash-and-resume over the first
    CKPT_DOCS docs, ``tables_words`` one pass of the curation operators
    over a seeded ``curate_docs`` input; then the serial kernel replay.
    Returns the per-layer ledger (per pass over the input) and what the
    extra run attempted, wrote and failed."""
    import inputs
    import oracle
    from ledger import checkpoint_metrics, curate_metrics, ledger
    from tracing import Tracer, kernel_replay, read_event_log, spark_layers
    from workloads import Workload, dir_usage

    event_dir = os.path.join(inputs.WORK, "eventlog", run_id)
    shutil.rmtree(event_dir, ignore_errors=True)
    if args.workload == "text_mixed":
        extra = {"name": "checkpoint", "docs": inputs.ckpt_slice(docs)}
        extra["paths"] = inputs.write_inputs(extra["docs"], "checkpoint")
    else:
        extra = {"name": "curate", "docs": inputs.make_input("curate_docs", args.seed)}
        extra["paths"] = inputs.write_inputs(extra["docs"], "curate_docs")
        extra["warm"] = inputs.write_inputs(inputs.warm_slice(extra["docs"]), "curate_docs-warm")
        extra["exp"] = oracle.expected("curate_docs", args.seed, extra["docs"], cores)
    tracer = Tracer(run_id, True)
    x_tracer = Tracer(f"{run_id}-{extra['name']}", True)
    spark = None
    try:
        spark = start_spark(cores, inputs.WORK, event_dir)
        # warm-up and one settling pass, as before the untraced passes
        Workload(args.workload, Tracer(run_id, False), tag="warm2").run_pass(spark, warm_paths)
        Workload(args.workload, Tracer(run_id, False), tag="settle").run_pass(spark, paths)
        w = Workload(args.workload, tracer, tag="traced")
        # half the window: a traced run is a second run and more, and must
        # end in the same time limit
        traced = timed_loop(w, spark, paths, args.seconds / 2, len(docs))
        x_window = [time.time()]
        if extra["name"] == "checkpoint":
            x = Workload(args.workload, x_tracer, tag="checkpoint")
            x.checkpoint_pass(spark, extra["paths"]["text"])
            x_window.append(time.time())
            got, x_exp = x.fetch_checkpoint(spark), exp
            extra["written_mb"] = dir_usage(x.last_out)[1] / 1e6
        else:
            Workload("curate_docs", Tracer(run_id, False), tag="warm").run_pass(spark, extra["warm"])
            x_window = [time.time()]
            x = Workload("curate_docs", x_tracer, tag="curate")
            x.run_pass(spark, extra["paths"])
            x_window.append(time.time())
            candidates = x.candidates(spark, extra["paths"]["docs"])
            got, x_exp = x.fetch(spark, extra["paths"]), extra["exp"]
        kind = "curate_docs" if extra["name"] == "curate" else args.workload
        extra["bad"] = oracle.failed_docs(kind, extra["docs"], x_exp, got)
    finally:
        if spark is not None:
            stop_jvm(spark)
    log = read_event_log(event_dir)
    layers = spark_layers(log, tracer.spans, traced["window"], w.passes)
    if extra["name"] == "checkpoint":
        x_metrics = checkpoint_metrics(x.last_out, spark_layers(log, x_tracer.spans, x_window, 1))
    else:
        x_metrics = curate_metrics(x_tracer, x.pairs_kept, candidates)
    shutil.rmtree(event_dir, ignore_errors=True)
    replay = Tracer(run_id + "-replay", True)
    counts = kernel_replay(docs, replay)
    metrics = ledger(tracer, replay, counts, layers, x_metrics, traced, plain, session_s, w, cores)
    for t in (tracer, x_tracer, replay):
        t.dump(os.path.join(inputs.WORK, "traces", t.run_id + ".jsonl"))
    return metrics, extra


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of to
    init, so that ``reap_children`` can wait for them: the Spark Python
    daemon and its workers outlive the JVM that forked them by a moment."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children(grace: float = 20.0) -> None:
    """Wait until every process this one started, or adopted, has ended;
    kill what is still there after ``grace`` seconds."""
    import signal
    from multiprocessing import resource_tracker

    from tracing import process_table

    # the oracle's process pool starts a resource tracker, which exits
    # only when its pipe from this process closes
    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    while True:
        kids = [pid for pid, (ppid, _) in process_table().items() if ppid == os.getpid()]
        if not kids:
            return
        late = time.monotonic() > deadline
        for pid in kids:
            try:
                if late:
                    os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, os.WNOHANG)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.02)


if __name__ == "__main__":
    become_subreaper()
    try:
        code = main()
    finally:
        reap_children()
    sys.exit(code)
