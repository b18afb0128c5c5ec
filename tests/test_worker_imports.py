"""The stat-checked zipimport cache of ``pdfplumber_spark/_worker_imports.py``.

pyspark's worker calls ``importlib.invalidate_caches()`` before every task;
on Python < 3.12 every zipimporter then re-reads its archive's directory.
The unit test runs in a fresh interpreter (the helper patches a class of
the standard library) and counts reads by wrapping
``zipimport._read_directory``. The Spark test counts the reads a reused
worker makes between two tasks of ``plans.extract.map_payloads`` jobs.
"""

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HELPER = os.path.join(REPO, "pdfplumber_spark", "_worker_imports.py")

SCRIPT = textwrap.dedent(r'''
    import importlib, importlib.util, json, os, sys, zipfile, zipimport

    tmp, helper = sys.argv[1], sys.argv[2]
    archive = os.path.join(tmp, "lib.zip")
    NAMES = ["pkg/__init__.py", "pkg/a/__init__.py", "pkg/a/mod.py",
             "pkg/b/__init__.py", "pkg/b/mod.py"]

    def write_zip(names):
        with zipfile.ZipFile(archive, "w") as z:  # in place: same inode
            for name in names:
                z.writestr(name, "X = 1\n")

    write_zip(NAMES)
    sys.path.insert(0, archive)
    import pkg.a.mod, pkg.b.mod  # noqa: E401,F401

    reads = [0]
    read_directory = zipimport._read_directory

    def counting(path):
        reads[0] += 1
        return read_directory(path)

    zipimport._read_directory = counting

    def invalidations(n=1):
        reads[0] = 0
        for _ in range(n):
            importlib.invalidate_caches()
        return reads[0]

    out = {"importers": sum(isinstance(i, zipimport.zipimporter)
                            for i in sys.path_importer_cache.values())}
    out["stock_reads"] = invalidations()
    stock = zipimport.zipimporter.invalidate_caches

    def install():
        spec = importlib.util.spec_from_file_location("_worker_imports", helper)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        mod.install()

    install()
    wrapper = zipimport.zipimporter.invalidate_caches
    out["patched"] = wrapper is not stock
    out["third_party"] = sorted({"numpy", "pandas", "pyspark"} & set(sys.modules))
    out["unchanged_reads"] = invalidations(3)

    write_zip(NAMES + ["pkg/newmod.py"])
    out["rewritten_reads"] = invalidations()
    import pkg.newmod  # noqa: E402,F401
    out["newmod"] = pkg.newmod.X
    out["after_rewrite_reads"] = invalidations(2)

    os.remove(archive)
    invalidations()  # a vanished archive must not raise

    install()
    now = zipimport.zipimporter.invalidate_caches
    out["one_wrapper"] = now is wrapper and now.__wrapped__ is stock
    print(json.dumps(out))
''')


def test_unchanged_archives_are_not_reread(tmp_path):
    res = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(tmp_path), HELPER],
        capture_output=True, text=True, timeout=120,
    )
    assert res.returncode == 0, res.stderr
    out = json.loads(res.stdout.splitlines()[-1])
    # the zip, its package and both subpackages each have an importer
    assert out["importers"] >= 3
    assert out["third_party"] == []
    if sys.version_info >= (3, 12):
        assert not out["patched"]  # the interpreter's own fix is lazy
        return
    # the stock method re-reads the archive once per importer
    assert out["stock_reads"] >= out["importers"]
    assert out["patched"]
    assert out["unchanged_reads"] == 0
    assert out["rewritten_reads"] >= 1
    assert out["newmod"] == 1
    assert out["after_rewrite_reads"] == 0
    assert out["one_wrapper"]


def test_a_reused_worker_rereads_no_archive(spark):
    from pyspark.sql import types as T

    from pdfplumber_spark.plans.extract import map_payloads

    # defined here, so it is pickled by value: workers cannot import tests/
    def _reads_since_last_task(i):
        """One row per task: the ``zipimport._read_directory`` calls made
        in this worker since its previous task, or -1 on the worker's
        first use (when the counter is installed). The counter lives on
        the ``zipimport`` module, so it survives from task to task in a
        reused worker."""
        import zipimport

        import pdfplumber_spark  # noqa: F401  (as every package UDF does)

        counter = getattr(zipimport, "_test_reads", None)
        if counter is None:
            counter = zipimport._test_reads = [0]
            read_directory = zipimport._read_directory

            def counting(path):
                counter[0] += 1
                return read_directory(path)

            zipimport._read_directory = counting
            reads = -1
        else:
            reads, counter[0] = counter[0], 0
        return [(int(i), os.getpid(), reads)]

    schema = T.StructType([
        T.StructField("i", T.LongType()),
        T.StructField("pid", T.LongType()),
        T.StructField("reads", T.LongType()),
    ])
    rows = []
    for _ in range(3):
        df = spark.range(0, 4, 1, numPartitions=4)  # one row per task
        rows += map_payloads(df, _reads_since_last_task, schema).collect()
    warm = [r.reads for r in rows if r.reads >= 0]
    assert warm, rows  # some worker ran more than one task
    assert warm == [0] * len(warm), rows
