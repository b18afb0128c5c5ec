"""pdfplumber_spark — a PySpark-native document-content extraction engine.

Re-expresses the capabilities of jsvine/pdfplumber (reference at
/root/reference, v0.11.0) as a Spark-first pipeline:

- binary page payloads (PDF / HTML) -> char/line/rect/curve object DataFrames
  (vectorized Arrow kernels inside ``mapInPandas``)
- tolerance-clustered words / lines / text (window plans + grouped kernels)
- lattice / stream / explicit table detection (edge graphs, per-page kernels)
- corpus-scale training-data ops: dedup (exact / MinHash-LSH / SimHash /
  n-gram Jaccard / embedding cosine), ANN similarity search, language ID,
  quality scoring, token counting, fingerprinting.

Layout:
- ``kernel/``    pure pandas/numpy kernels — importable without Spark; the
                 same code runs single-process as the correctness oracle and
                 Arrow-batched on executors (no per-row Python).
- ``operators/`` Spark DataFrame operators (window plans, spatial joins).
- ``sources/``   corpus generation + pages-table readers (parquet; Iceberg
                 DDL documented for real clusters).
- ``plans/``     end-to-end pipelines (pages -> chars -> words -> text ->
                 tables) with checkpoint/resume.
"""

__version__ = "0.1.0"

from . import _worker_imports  # noqa: E402

# every Python worker that unpickles a package UDF imports the package, so
# this runs once per worker, after its first task's import setup
_worker_imports.install()

from . import utils  # noqa: E402,F401  (reference `pdfplumber.utils` parity)


def unpersist_all(blocking: bool = False) -> int:
    """Evict every operator-cached DataFrame (LSH signature tables etc.).

    Call AFTER the terminal action on an operator's result — the lazy
    result depends on the cache until then. Returns how many were evicted.
    See ``operators/_cache.py`` for the retention contract."""
    from .operators._cache import unpersist_all as _u

    return _u(blocking=blocking)
