"""Text-analysis operators over document corpora: language ID, quality
scoring, token counting, fingerprinting.

Everything SQL-expressible stays as JVM column expressions (whole-stage
codegen, DuckDB-oracle-checkable); only the hash kernels go through Arrow.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..kernel.textstats import LANG_PROFILES, TOKEN_RE
from ..plans.extract import spread

# Java + RE2 compatible token pattern (same semantics both engines)
TOKEN_PATTERN = TOKEN_RE.pattern


def _ws_token_count(t) -> "F.Column":
    """Count of whitespace-separated tokens = number of ``\\S+`` runs,
    floored at 1 (all-whitespace/empty text counts as one empty token so
    ratio denominators never divide by zero). This is the DEFINED semantics
    on both engines — the DuckDB oracle computes the identical
    ``GREATEST(len(regexp_extract_all(text,'\\S+')), 1)`` — and, unlike
    ``size(split(trim(x),'\\s+'))``, it does not count phantom tokens for
    leading/trailing non-space whitespace (``'\\na b\\n'`` -> 2, not 4;
    ``trim`` strips only 0x20). Counting via regexp_count avoids
    materializing the token array in the hot path."""
    return F.greatest(F.regexp_count(t, F.lit(r"\S+")), F.lit(1))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """BPE-ish token count + whitespace token count — pure column exprs.
    regexp_count counts matches without allocating the match array that
    size(regexp_extract_all(...)) would build per row."""
    t = F.col(text_col)
    return df.withColumn(
        "n_tokens", F.regexp_count(t, F.lit(TOKEN_PATTERN))
    ).withColumn("n_ws_tokens", _ws_token_count(t))


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Shallow quality features (Gopher/C4-style), codegen-friendly."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = _ws_token_count(t)
    # single-char classes: match count == chars remaining after the
    # equivalent regexp_replace-delete, without building the stripped string
    alpha = F.regexp_count(t, F.lit("[A-Za-z]"))
    punct = F.regexp_count(t, F.lit(r"[^\w\s]"))
    return (
        df.withColumn("n_chars", n_chars)
        .withColumn("n_words", n_words)
        .withColumn(
            "alpha_ratio",
            F.round(alpha / F.greatest(n_chars, F.lit(1)), 6),
        )
        .withColumn(
            "punct_ratio",
            F.round(punct / F.greatest(n_chars, F.lit(1)), 6),
        )
    )


def _stop_hits(text_col, words) -> "F.Column":
    pat = r"\b(?:" + "|".join(sorted(words)) + r")\b"
    return F.regexp_count(F.lower(text_col), F.lit(pat))


def with_language(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-profile argmax language ID — pure column exprs so the
    DuckDB oracle can mirror it exactly. Ties break by profile order."""
    t = F.col(text_col)
    hits = {lang: _stop_hits(t, prof) for lang, prof in LANG_PROFILES.items()}
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # reverse order so earlier profiles win ties
    for lang in reversed(list(LANG_PROFILES)):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(
            expr
        )
    return df.withColumn("lang_detected", expr)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1), one row per
    doc: ``n_words``, ``dup_word_frac`` (1 - distinct/total words),
    ``top_word_frac`` (most frequent word / total), ``top_bigram_frac``
    (most frequent word 2-gram / total bigrams), ``dup_line_frac``
    (1 - distinct/total newline-split lines).

    Plan shape (round-8): the array metrics are pure column exprs; the
    word ARRAY (already in document order) is cached once and both top-k
    branches explode from it — bigrams come straight from adjacent array
    elements (``zip_with`` over the array and its one-shifted slice), which
    removes the pre-round-8 ``lead()`` window's exchange + sort entirely
    (the array IS the order; identical bigram strings by construction). Two
    aggregation shuffles on the doc key remain, no corpus-wide state.
    Ratios are int/int divisions rounded to 6, mirrored exactly by the
    DuckDB oracle."""
    t = F.col(text_col)
    # idx=0 = whole match (Spark's default idx=1 wants a capture group)
    words_arr = F.regexp_extract_all(F.lower(t), F.lit(r"\S+"), 0)
    lines_arr = F.split(t, F.lit("\n"))

    from ._cache import persist_tracked

    # ONE regexp pass: the word/line arrays are cached and feed the array
    # metrics plus both explode branches (no ReusedExchange applies — the
    # branches aggregate on different keys). Evict via unpersist_all().
    arrs = persist_tracked(
        df.select(F.col(id_col), words_arr.alias("_ws"),
                  lines_arr.alias("_ls"))
    )
    ws = F.col("_ws")
    base = arrs.select(
        F.col(id_col),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct_words"),
        F.size("_ls").alias("n_lines"),
        F.size(F.array_distinct("_ls")).alias("n_distinct_lines"),
    )
    word_top = (
        arrs.select(F.col(id_col), F.explode(ws).alias("word"))
        .groupBy(id_col, "word")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("top_word_cnt"))
    )
    bigrams = F.when(
        F.size(ws) >= 2,
        F.zip_with(
            F.slice(ws, 1, F.size(ws) - 1),
            F.slice(ws, 2, F.size(ws) - 1),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigram_top = (
        arrs.select(F.col(id_col), F.explode(bigrams).alias("bigram"))
        .groupBy(id_col, "bigram")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("top_bigram_cnt"))
    )
    out = (
        base.join(word_top, id_col, "left")
        .join(bigram_top, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.when(F.col("n_words") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    1 - F.col("n_distinct_words") / F.col("n_words"), 6
                )
            )
            .alias("dup_word_frac"),
            F.when(F.col("n_words") == 0, F.lit(0.0))
            .otherwise(
                F.round(F.col("top_word_cnt") / F.col("n_words"), 6)
            )
            .alias("top_word_frac"),
            F.when(F.col("n_words") <= 1, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("top_bigram_cnt") / (F.col("n_words") - 1), 6
                )
            )
            .alias("top_bigram_frac"),
            F.when(F.col("n_lines") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    1 - F.col("n_distinct_lines") / F.col("n_lines"), 6
                )
            )
            .alias("dup_line_frac"),
        )
    )
    return out


def winnow_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """(doc_id, fingerprint) rows: winnowed k-gram rolling-hash
    fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2004) via the Arrow
    kernel — ~2/(w+1) of the k-grams sampled, any shared run of
    >= w+k-1 chars guaranteed to share a fingerprint."""
    from ..kernel.textstats import winnow_fingerprints_batch

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("fingerprint", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            ix, fps = winnow_fingerprints_batch(list(b[text_col]), k=k, w=w)
            yield pd.DataFrame(
                {"doc_id": b[id_col].to_numpy(np.int64)[ix],
                 "fingerprint": fps}
            )

    # single-row-group corpus files scan as ONE split — spread docs by id
    # before the hash kernel so it parallelizes (guide: repartition right
    # after an unsplittable read; count derives from the cluster)
    src = spread(df.select(id_col, text_col), id_col, factor=2)
    return src.mapInPandas(run, schema=schema)


def winnow_overlap(
    fps: DataFrame,
    threshold: float = 0.5,
    max_doc_freq: int = 50,
    assume_distinct: bool = False,
) -> DataFrame:
    """Containment overlap pairs over a winnowed fingerprint table:
    overlap(A,B) = |A ∩ B| / min(|A|, |B|) >= threshold.

    Inverted-index equi-join on the fingerprint (never a cross join);
    ``max_doc_freq`` drops boilerplate fingerprints whose posting lists
    would explode the join — the same posting-list guard as
    ``jaccard_pairs``. SQL-oracle-checkable over the materialized
    fingerprint parquet.

    ``assume_distinct=True`` skips the defensive (doc_id, fingerprint)
    dedup shuffle — correct whenever the input is ``winnow_table`` output,
    whose kernel emits sorted-distinct fingerprints per doc by
    construction (np.unique). Round-8: the doc-frequency cap is a window
    count over the fingerprint key instead of a groupBy + join-back —
    one exchange that the self-join below then REUSES (both sides arrive
    hash-partitioned by fingerprint), two fewer shuffles total."""
    from ._cache import persist_tracked

    fps = fps.select("doc_id", "fingerprint")
    if not assume_distinct:
        fps = fps.distinct()
    # per-doc size and per-fingerprint doc-frequency as CHAINED window
    # counts (doc key first, then fingerprint key): n_fp rides the posting
    # rows into the pair aggregation (min() of a per-doc constant), which
    # removes the sizes branch and its two post-aggregation joins, and the
    # fingerprint-window exchange is REUSED by the self-join below (both
    # sides arrive hash-partitioned by fingerprint) — same restructure as
    # jaccard_pairs; int/int ROUND arithmetic unchanged.
    wd = Window.partitionBy("doc_id")
    wf = Window.partitionBy("fingerprint")
    filtered = persist_tracked(
        fps.withColumn("n_fp", F.count("*").over(wd))
        .withColumn("_df", F.count("*").over(wf))
        .where(F.col("_df") <= max_doc_freq)
        .drop("_df")
    )
    a, b = filtered.alias("a"), filtered.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.fingerprint") == F.col("b.fingerprint"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.count("*").alias("co"),
            F.min(F.col("a.n_fp")).alias("na"),
            F.min(F.col("b.n_fp")).alias("nb"),
        )
    )
    return (
        co.select(
            "doc_a",
            "doc_b",
            F.round(F.col("co") / F.least("na", "nb"), 6).alias("overlap"),
        )
        .where(F.col("overlap") >= threshold)
    )


def quality_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 30,
    min_alpha: float = 0.75,
    max_punct: float = 0.2,
    max_dup_word: float = 0.65,
) -> DataFrame:
    """C4/Gopher-style keep/drop decision with an auditable reason code —
    the curation primitive a 100 TB pipeline actually runs: every doc gets
    (keep, reject_reason), where reject_reason is the FIRST failing rule
    in a fixed order (too_short -> low_alpha -> too_punct -> repetitive),
    so downstream attrition reports are deterministic. Pure composition of
    the quality + repetition features (one join on the doc key); the
    DuckDB oracle re-derives the same rule chain in SQL."""
    # Round-8 plan shape: the only repetition signal this filter uses is
    # dup_word_frac, which is a pure ARRAY expression (1 - distinct/total
    # words) — the same formula repetition_stats' `base` projection uses.
    # Joining the full repetition_stats here dragged the explode + lead()
    # window + two two-level aggregations + two left joins into the plan
    # for columns Spark cannot prune (no key-based left-join elimination);
    # computing the identical expression inline makes the whole filter ONE
    # scan-stage projection with zero shuffles. Values are bit-identical:
    # same int counts, same ROUND(1 - distinct/total, 6) arithmetic the
    # DuckDB oracle mirrors.
    q = with_quality(df.select(id_col, text_col), text_col)
    words_arr = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(r"\S+"), 0
    )
    nw = F.size(words_arr)
    nd = F.size(F.array_distinct(words_arr))
    dup_word_frac = F.when(nw == 0, F.lit(0.0)).otherwise(
        F.round(1 - nd / nw, 6)
    )
    j = q.withColumn("dup_word_frac", dup_word_frac)
    reason = (
        F.when(F.col("n_words") < min_words, F.lit("too_short"))
        .when(F.col("alpha_ratio") < min_alpha, F.lit("low_alpha"))
        .when(F.col("punct_ratio") > max_punct, F.lit("too_punct"))
        .when(F.col("dup_word_frac") > max_dup_word, F.lit("repetitive"))
    )
    return j.select(
        id_col,
        reason.isNull().alias("keep"),
        reason.alias("reject_reason"),
    )
