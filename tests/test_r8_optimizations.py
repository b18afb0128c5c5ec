"""Round-8 optimization equivalence pins.

Each optimization that changed an operator's internals keeps its result
contract pinned here at the value level (bit-exact where floats are
involved):

- winnow_fingerprints_batch (vectorized Mersenne-61 batch kernel) must
  emit exactly the scalar spec function's integers per row;
- the per-bucket cosine-LSH kernel must reproduce the exact method's
  rounded cosines on a corpus where recall is total (verify regime);
- the lean quality_filter dup_word_frac projection must equal the
  repetition_stats-derived value it replaced.
"""

import random

import numpy as np
import pandas as pd
import pytest

from conftest import SF_CORRECT


def test_winnow_batch_equals_scalar_fuzz():
    from pdfplumber_spark.kernel.textstats import (
        winnow_fingerprints,
        winnow_fingerprints_batch,
    )

    rng = random.Random(20260821)
    texts = ["", None, "a", "short", "exactly8", "ninechars",
             "İstanbul İSTANBUL", "x" * 7, "y" * 8, "z" * 40]
    for _ in range(400):
        n = rng.randrange(0, 64)
        texts.append("".join(
            chr(rng.choice([rng.randrange(32, 127),
                            rng.randrange(0x100, 0x2000),
                            rng.randrange(0x10000, 0x10100)]))
            for _ in range(n)
        ))
    ix, fp = winnow_fingerprints_batch(texts)
    by: dict = {}
    for i, f in zip(ix, fp):
        by.setdefault(int(i), []).append(int(f))
    for i, t in enumerate(texts):
        assert by.get(i, []) == winnow_fingerprints(t or ""), repr(t)


def test_minhash_batch_equals_scalar():
    from pdfplumber_spark.kernel.textstats import (
        fnv1a_64,
        fnv1a_64_batch,
        minhash_signature,
        minhash_signatures_batch,
    )

    rng = random.Random(42)
    items = [bytes(rng.randrange(256) for _ in range(rng.randrange(0, 90)))
             for _ in range(1500)]
    assert (fnv1a_64_batch(items)
            == np.array([fnv1a_64(b) for b in items], dtype=np.uint64)).all()

    texts = ["", None, "one", "two words", "a b c d e f g h i j"]
    for _ in range(300):
        n = rng.randrange(0, 40)
        texts.append(" ".join(
            "".join(chr(rng.randrange(97, 123))
                    for _ in range(rng.randrange(1, 9)))
            for _ in range(n)
        ))
    got = minhash_signatures_batch(texts)
    for i, t in enumerate(texts):
        assert (got[i] == minhash_signature(t or "")).all(), i


def test_fnv1a_batch_memory_is_linear_in_bytes():
    """One huge item must not pad every short item to its length: one
    200 KB item plus 1000 short ones stays far under the 200 MB a padded
    (items x max length) byte matrix takes, and every hash equals the
    scalar one."""
    import tracemalloc

    from pdfplumber_spark.kernel.textstats import fnv1a_64, fnv1a_64_batch

    rng = random.Random(7)
    items = [rng.randbytes(200_000)] + [
        rng.randbytes(rng.randrange(0, 40)) for _ in range(1000)]
    tracemalloc.start()
    try:
        got = fnv1a_64_batch(items)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, peak
    assert (got == np.array([fnv1a_64(b) for b in items], dtype=np.uint64)).all()


def test_simhash_batch_equals_scalar():
    from pdfplumber_spark.kernel.textstats import simhash64, simhash64_batch

    rng = random.Random(7)
    texts = ["", None, "one", "word word", "a b"]
    for _ in range(300):
        n = rng.randrange(0, 30)
        texts.append(" ".join(
            "".join(chr(rng.randrange(97, 123))
                    for _ in range(rng.randrange(1, 8)))
            for _ in range(n)
        ))
    got = simhash64_batch(texts)
    for i, t in enumerate(texts):
        assert got[i] == simhash64(t or ""), i


@pytest.mark.parametrize("step", [1, 5, 1 << 18])
def test_triu_pair_chunks_equal_triu_indices(step):
    from pdfplumber_spark.operators.similarity import triu_pair_chunks

    for n in (0, 1, 2, 3, 7, 100):
        ai, bi = np.triu_indices(n, 1)
        chunks = list(triu_pair_chunks(n, step))
        assert all(0 < len(a) <= step for a, _ in chunks)
        got_a = np.concatenate([a for a, _ in chunks] or [ai[:0]])
        got_b = np.concatenate([b for _, b in chunks] or [bi[:0]])
        assert got_a.tolist() == ai.tolist(), (n, step)
        assert got_b.tolist() == bi.tolist(), (n, step)


def test_triu_pair_chunks_hot_bucket_memory():
    """A 50k-member LSH bucket has ~1.25e9 pairs (~20 GB as triu_indices);
    its first chunk costs a few MB."""
    import tracemalloc

    from pdfplumber_spark.operators.similarity import triu_pair_chunks

    tracemalloc.start()
    try:
        ai, bi = next(triu_pair_chunks(50_000))
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 * 2**20, peak
    assert (ai[:3].tolist(), bi[:3].tolist()) == ([0, 0, 0], [1, 2, 3])
    assert len(ai) == 1 << 18


def test_cosine_lsh_bucket_kernel_matches_exact(spark):
    """verify-regime settings give total recall on the board corpus, so
    the per-bucket kernel's output must EQUAL the exact method's — id
    pairs and rounded cosines both."""
    import pdfplumber_spark
    from pdfplumber_spark.operators.similarity import cosine_near_pairs

    emb = spark.read.parquet(f"{SF_CORRECT}/embeddings.parquet")
    exact = sorted(
        (r["doc_a"], r["doc_b"], r["cosine"].hex())
        for r in cosine_near_pairs(emb, threshold=0.40).collect()
    )
    lsh = sorted(
        (r["doc_a"], r["doc_b"], r["cosine"].hex())
        for r in cosine_near_pairs(
            emb, threshold=0.40, method="lsh", n_planes=3, n_tables=24
        ).collect()
    )
    assert exact == lsh
    pdfplumber_spark.unpersist_all()


def test_quality_filter_lean_matches_repetition_stats(spark):
    """quality_filter's inline dup_word_frac must equal the
    repetition_stats-derived column it replaced (same ints, same
    ROUND(1 - distinct/total, 6))."""
    import pdfplumber_spark
    from pyspark.sql import functions as F
    from pdfplumber_spark.operators.text_analysis import (
        quality_filter,
        repetition_stats,
        with_quality,
    )

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    lean = {r["doc_id"]: (r["keep"], r["reject_reason"])
            for r in quality_filter(docs).collect()}
    q = with_quality(docs.select("doc_id", "text"), "text").select(
        "doc_id", "n_words", "alpha_ratio", "punct_ratio"
    )
    r = repetition_stats(docs, "doc_id", "text").select(
        "doc_id", "dup_word_frac"
    )
    j = q.join(r, "doc_id")
    reason = (
        F.when(F.col("n_words") < 30, F.lit("too_short"))
        .when(F.col("alpha_ratio") < 0.75, F.lit("low_alpha"))
        .when(F.col("punct_ratio") > 0.2, F.lit("too_punct"))
        .when(F.col("dup_word_frac") > 0.65, F.lit("repetitive"))
    )
    old = {r2["doc_id"]: (r2["keep"], r2["reject_reason"])
           for r2 in j.select(
               "doc_id", reason.isNull().alias("keep"),
               reason.alias("reject_reason")).collect()}
    assert lean == old
    pdfplumber_spark.unpersist_all()


def test_quality_filter_plan_is_join_free(spark):
    """The round-8 point of the lean shape: one scan-stage projection —
    no joins, no aggregates, no window in the physical plan."""
    from pdfplumber_spark.operators.text_analysis import quality_filter

    docs = spark.read.parquet(f"{SF_CORRECT}/documents.parquet")
    plan = quality_filter(docs)._jdf.queryExecution().executedPlan().toString()
    for op in ("Join", "HashAggregate", "Window", "Exchange"):
        assert op not in plan, op
