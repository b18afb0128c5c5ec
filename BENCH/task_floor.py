"""The fixed wall of a bare ``mapInPandas`` job, per checkout, run
interleaved so the checkouts share the machine's state.

    python3 BENCH/task_floor.py [--workload tables_words] [--seed 1]
                                [--rounds 5] [--jobs 8] CHECKOUT [CHECKOUT ...]

The input is ``perfbench.inputs.make_input(workload, seed)`` of this
checkout, written once as one parquet file of ``(url, html)`` rows. Each
round runs every checkout once, each in a fresh process that starts a
local[cpus] session with the ``pdfplumber_spark`` of that checkout (on the
driver and in the Python workers), in an order that alternates from round
to round. A run times:

- ``job_s``: the median wall of ``--jobs`` bare ``plans.extract``
  ``map_payloads`` jobs (``spread`` over ``url`` to ``defaultParallelism``
  partitions, a function that returns ``[]``, a noop sink), after two
  untimed warm-up jobs. Its function imports the package in the worker, as
  unpickling any package UDF does. This is the per-job floor of scan,
  exchange, task launch and the Python boundary that every plan pays
  before its kernel.
- ``invalidate_ms``: the median wall of one ``importlib.invalidate_caches()``
  call inside a warm worker, one call per task of one more job: the
  per-task import-cache reset of pyspark's worker (``setup_spark_files``).

Prints, per checkout, the median and the range of each over the rounds,
then one JSON line with every run and the ``cpus`` the runs had.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEASURES = ("job_s", "invalidate_ms")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def _bare(url, html):
    import pdfplumber_spark  # noqa: F401  (what a package UDF's unpickling does)

    return []


def _invalidate_ms(url, html):
    import importlib

    import pdfplumber_spark  # noqa: F401

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    return [((time.perf_counter() - t0) * 1e3,)]


def run_floor(inputs: str, jobs: int) -> dict:
    """One session with the package on ``sys.path``: the median wall of
    ``jobs`` bare jobs and of one ``invalidate_caches()`` per task."""
    from pyspark.sql import types as T

    from pdfplumber_spark.plans.extract import map_payloads, spread
    from pdfplumber_spark.session import get_spark

    tmp = os.path.dirname(inputs)
    spark = get_spark(app_name="task_floor", cores=cpus(), extra_conf={
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    try:
        df = spread(spark.read.parquet(inputs), "url")
        bare = map_payloads(df, _bare, T.StructType([T.StructField("n", T.LongType())]))
        walls = []
        for i in range(jobs + 2):
            t0 = time.perf_counter()
            bare.write.format("noop").mode("overwrite").save()
            if i >= 2:
                walls.append(time.perf_counter() - t0)
        one = spark.range(0, cpus(), 1, numPartitions=cpus()).selectExpr(
            "CAST(id AS STRING) AS url", "CAST(NULL AS BINARY) AS html")
        ms = [r[0] for r in map_payloads(one, _invalidate_ms, T.StructType(
            [T.StructField("ms", T.DoubleType())])).collect()]
    finally:
        spark.stop()
    return {"job_s": round(statistics.median(walls), 4),
            "invalidate_ms": round(statistics.median(ms), 3),
            "job_walls": [round(x, 4) for x in walls]}


def write_input(workload: str, seed: int, path: str) -> int:
    sys.path.insert(0, HERE)
    from perfbench.inputs import make_input, write_parquet

    docs = make_input(workload, seed)
    write_parquet(path, docs, curate=False)
    return len(docs)


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        sys.path.insert(0, sys.argv[2])
        print(json.dumps(run_floor(sys.argv[3], int(sys.argv[4]))))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("checkouts", nargs="+")
    ap.add_argument("--workload", default="tables_words")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=5)
    ap.add_argument("--jobs", type=int, default=8)
    args = ap.parse_args()
    checkouts = [os.path.abspath(c) for c in args.checkouts]
    tmp = tempfile.mkdtemp(prefix="task_floor-")
    try:
        inputs = os.path.join(tmp, "docs.parquet")
        n = write_input(args.workload, args.seed, inputs)
        print(f"{args.workload} seed {args.seed}: {n} docs, cpus {cpus()}",
              file=sys.stderr)
        runs = {c: [] for c in checkouts}
        for r in range(args.rounds):
            for c in checkouts[::-1] if r % 2 else checkouts:
                # the workers import the package from PYTHONPATH; keep the
                # JVMs' temp files inside this run's temporary directory
                env = dict(os.environ, PYTHONPATH=c, TMPDIR=tmp,
                           JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--child", c,
                     inputs, str(args.jobs)],
                    check=True, capture_output=True, text=True, cwd=c, env=env).stdout
                runs[c].append(json.loads(out.splitlines()[-1]))
                print(f"round {r} {c}: job_s {runs[c][-1]['job_s']} "
                      f"invalidate_ms {runs[c][-1]['invalidate_ms']}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp)
    for c in checkouts:
        print(c)
        for m in MEASURES:
            v = [run[m] for run in runs[c]]
            print(f"  {m:14s} median {statistics.median(v):8.3f}  "
                  f"range {min(v):.3f}-{max(v):.3f}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpus": cpus(), "runs": runs}))


if __name__ == "__main__":
    main()
