"""Seeded inputs for the two workloads and for the curation run of the
traced ``tables_words`` run.

Every workload input is a pure function of (workload, seed). The package
sees only the parquet written here; the ground truth the generators wrote
(page texts, planted duplicate / low-quality docs) stays on this side and
feeds the correctness anchors and the input-property record.
"""

from __future__ import annotations

import collections
import hashlib
import os
import random
import re
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")

# docs per pass (text_mixed adds one MEGA_PAGES-page document); docs of
# the curation run
SIZES = {"text_mixed": 800, "tables_words": 100, "curate_docs": 1500}
# the warm-up pass's slice, by part of the input
WARM_DOCS = {"text": 24, "tables": 24, "docs": 100}
MEGA_PAGES = 30

# family mix, in percent of docs. Every seed gets exactly this mix (the
# first docs of each family that generate_rows yields), so the cost of a
# pass does not drift with the seed's random family draw. CORPUS_MIX
# follows generate_rows' own family weights.
CORPUS_MIX = {
    "pdf/basic": 24, "pdf/layout": 14, "pdf/table-lattice": 14,
    "pdf/table-stream": 9, "pdf/dupchars": 5, "pdf/rotated": 4,
    "pdf/ligatures": 4, "pdf/encrypted": 6, "pdf/images": 4,
    "image/file": 3, "html/news": 12, "broken": 1,
}
TABLES_MIX = {"pdf/basic": 40, "pdf/table-lattice": 35, "pdf/table-stream": 25}
# families whose docs the generator gives a random page count: their quota
# is split evenly over these counts, so every seed gets the same pages
PAGE_SPLIT = {"pdf/basic": (1, 2, 3), "pdf/layout": (1, 2), "pdf/images": (1, 2)}
# the checkpointed run of the traced run: over the first CKPT_DOCS docs of
# the text part
CKPT_DOCS = 200
CKPT_BUCKETS = 4
CKPT_FAIL_AFTER = CKPT_BUCKETS // 2

# planted shares in curate_docs (of the non-boilerplate docs)
CURATE_SHARES = {"exact_dup": 0.10, "near_dup": 0.10, "low_quality": 0.10}
HOT_GROUP = 120  # one boilerplate text repeated this often (LSH bucket cap is 50)
CURATE_FILES = 8


def family(url: str) -> str:
    """'synth://pdf/basic/0000012' -> 'pdf/basic'."""
    return url.split("://", 1)[1].rsplit("/", 1)[0]


def corpus_docs(n_docs: int, seed: int, mix: dict, part: str, mega_pages: int = 0) -> list:
    """Docs of ``sources.corpus.generate_rows`` as dicts (url, html, family,
    part, pages), ``n_docs * mix[family] // 100`` of each family (split
    evenly over the page counts in PAGE_SPLIT), in generation order, plus
    the mega doc if asked for. ``pages`` holds, per page, the text strings
    the generator laid out (None for non-PDF payloads): ``make_pdf`` is
    wrapped during the generation to record its page specs."""
    from pdfplumber_spark.sources import corpus

    real = corpus.make_pdf
    written = []

    def recording_make_pdf(pages, *args, **kwargs):
        written.append([[t["text"] for t in p.get("texts", ())] for p in pages])
        return real(pages, *args, **kwargs)

    share, quota = {}, {}
    for f, pct in mix.items():
        splits = PAGE_SPLIT.get(f, (None,))
        q, extra = divmod(n_docs * pct // 100, len(splits))
        for i, n_pages in enumerate(splits):
            share[f, n_pages] = pct / len(splits)
            quota[f, n_pages] = q + (i < extra)
    docs = []
    corpus.make_pdf = recording_make_pdf
    try:
        rows = corpus.generate_rows(50 * n_docs, seed=seed)
        while sum(quota.values()):
            row = next(rows)
            fam = family(row["url"])
            key = (fam, len(written[0]) if fam in PAGE_SPLIT else None)
            if quota.get(key):
                quota[key] -= 1
                docs.append({"url": row["url"], "html": row["html"], "family": fam,
                             "part": part, "pages": written[0] if written else None,
                             "_key": key})
            written.clear()
        # Fixed positions: the doc at position k has the same family, page
        # count and url on every seed, so the plan's url-hash spread hands
        # each task the same family mix (otherwise task imbalance alone
        # moves a pass's wall by ~15% from seed to seed).
        rank = collections.Counter()
        for d in docs:
            key = d.pop("_key")
            d["_order"] = (rank[key] / share[key], str(key))
            rank[key] += 1
        docs.sort(key=lambda d: d.pop("_order"))
        prefix = "" if part == "text" else part + "/"
        for k, d in enumerate(docs):
            d["url"] = f"bench://{prefix}{d['family']}/{k:06d}"
        if mega_pages:
            (row,) = corpus.generate_rows(0, seed=seed, mega_pages=mega_pages)
            docs.append({"url": row["url"], "html": row["html"], "family": family(row["url"]),
                         "part": part, "pages": written[0]})
    finally:
        corpus.make_pdf = real
    return docs


# --- curate_docs: (doc_id, text) with planted duplicates ----------------------

_SYL = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "da", "fe",
        "go", "hu", "ji", "pe", "qu", "ro", "se", "to", "wa", "xi", "ze"]


def _vocab(rng: random.Random, n: int) -> list:
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


def _good_text(rng: random.Random, vocab: list) -> str:
    sents = []
    for _ in range(rng.randint(6, 12)):
        sents.append(" ".join(rng.choice(vocab) for _ in range(rng.randint(8, 16))) + ".")
    return " ".join(sents)


def _low_quality_text(rng: random.Random, vocab: list, kind: str) -> str:
    if kind == "too_short":
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(5, 15)))
    if kind == "low_alpha":
        return " ".join(str(rng.randint(10_000, 99_999)) for _ in range(rng.randint(40, 80)))
    if kind == "too_punct":
        return " ".join(rng.choice(vocab) + "?!;" for _ in range(rng.randint(40, 80)))
    # repetitive: a handful of distinct words over many tokens
    few = rng.sample(vocab, 4)
    return " ".join(rng.choice(few) for _ in range(rng.randint(60, 120)))


LOW_KINDS = ("too_short", "low_alpha", "too_punct", "repetitive")


def curate_docs(n_docs: int, seed: int) -> list:
    """(doc_id, text, kind) rows: base docs, exact and near duplicates of
    base docs, low-quality docs of each reject kind, and one hot group of
    HOT_GROUP identical boilerplate docs. Ids are shuffled so planted docs
    are not clustered by id."""
    rng = random.Random(seed * 7_919 + 11)
    vocab = _vocab(rng, 4000)
    n_plain = n_docs - HOT_GROUP
    n_exact = int(n_plain * CURATE_SHARES["exact_dup"])
    n_near = int(n_plain * CURATE_SHARES["near_dup"])
    n_low = int(n_plain * CURATE_SHARES["low_quality"])
    n_base = n_plain - n_exact - n_near - n_low
    rows = [(_good_text(rng, vocab), "base") for _ in range(n_base)]
    # each base doc gets at most one planted duplicate, so every duplicate
    # component is one pair and the component loop runs the same number of
    # rounds on every seed
    bases = rng.sample(range(n_base), n_exact + n_near)
    for b in bases[:n_exact]:
        rows.append((rows[b][0], "exact_dup"))
    for b in bases[n_exact:]:
        words = rows[b][0].split(" ")
        words[rng.randrange(len(words))] = rng.choice(vocab)
        rows.append((" ".join(words), "near_dup"))
    for i in range(n_low):
        rows.append((_low_quality_text(rng, vocab, LOW_KINDS[i % 4]), LOW_KINDS[i % 4]))
    boiler = "subscribe to our newsletter " + _good_text(rng, vocab)
    rows.extend((boiler, "hot_group") for _ in range(HOT_GROUP))
    ids = list(range(1, n_docs + 1))  # the same id set (and hash spread) on every seed
    rng.shuffle(ids)
    return [{"doc_id": i, "text": t, "kind": k, "part": "docs"} for i, (t, k) in zip(ids, rows)]


# --- parquet + input-property record ----------------------------------------

def write_parquet(path: str, docs: list, curate: bool) -> None:
    """The input table as a directory of CURATE_FILES parquet files for
    curate_docs (its operators scan without an exchange, so the file count
    sets their parallelism, as a multi-file table would), else one file
    (the extraction plans spread documents themselves)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        shutil.rmtree(path)
    if not curate:
        pq.write_table(pa.table({
            "url": pa.array([d["url"] for d in docs], pa.string()),
            "html": pa.array([d["html"] for d in docs], pa.binary()),
        }), path)
        return
    os.makedirs(path)
    for i in range(CURATE_FILES):
        part = docs[i::CURATE_FILES]
        pq.write_table(pa.table({
            "doc_id": pa.array([d["doc_id"] for d in part], pa.int64()),
            "text": pa.array([d["text"] for d in part], pa.string()),
        }), os.path.join(path, f"part-{i:02d}.parquet"))


def make_input(workload: str, seed: int) -> list:
    n = SIZES[workload]
    if workload == "text_mixed":
        return corpus_docs(n, seed, CORPUS_MIX, "text", mega_pages=MEGA_PAGES)
    if workload == "tables_words":
        return corpus_docs(n, seed, TABLES_MIX, "tables")
    if workload == "curate_docs":
        return curate_docs(n, seed)
    raise ValueError(f"unknown workload {workload!r}")


def parts(docs: list) -> dict:
    """part -> its docs, in input order."""
    out = {}
    for d in docs:
        out.setdefault(d["part"], []).append(d)
    return out


def warm_slice(docs: list) -> list:
    return [d for part, ds in parts(docs).items() for d in ds[:WARM_DOCS[part]]]


def ckpt_slice(docs: list) -> list:
    return docs[:CKPT_DOCS]


def write_inputs(docs: list, name: str) -> dict:
    """One parquet input per part of ``docs``: part -> path."""
    os.makedirs(os.path.join(WORK, "inputs"), exist_ok=True)
    paths = {}
    for part, ds in parts(docs).items():
        paths[part] = os.path.join(WORK, "inputs", f"{name}-{part}.parquet")
        write_parquet(paths[part], ds, part == "docs")
    return paths


def input_properties(workload: str, docs: list) -> dict:
    import pandas
    import pyarrow
    import pyspark

    curate = workload == "curate_docs"
    payloads = [d["text"].encode() if curate else d["html"] for d in docs]
    distinct = len({hashlib.sha1(p).digest() for p in payloads})
    props = {
        "docs": len(docs),
        "payload_mb": round(sum(map(len, payloads)) / 1e6, 4),
        "dup_payload_share": round(1 - distinct / len(docs), 4),
        "cpus": os.cpu_count(),
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
    }
    if curate:
        kinds = collections.Counter(d["kind"] for d in docs)
        props["pages"] = len(docs)
        props["max_pages"] = 1
        props["family_mix"] = dict(sorted(kinds.items()))
        props["planted_shares"] = {
            "exact_dup": round(kinds["exact_dup"] / len(docs), 4),
            "near_dup": round(kinds["near_dup"] / len(docs), 4),
            "low_quality": round(sum(kinds[k] for k in LOW_KINDS) / len(docs), 4),
            "hot_group": round(kinds["hot_group"] / len(docs), 4),
        }
    else:
        n_pages = [len(d["pages"]) if d["pages"] is not None else 1 for d in docs]
        props["pages"] = sum(n_pages)
        props["max_pages"] = max(n_pages)
        props["family_mix"] = dict(sorted(collections.Counter(d["family"] for d in docs).items()))
        props["part_docs"] = {p: len(ds) for p, ds in parts(docs).items()}
    return props


# lattice cell text as written by the generator: f"c{row}{col} {word}"
LATTICE_CELL = re.compile(r"^c(\d)(\d) \S+$")
