"""Expected outputs and the per-document correctness check.

Expected rows come from the single-process per-payload functions the
plans share with their own oracle (``oracle_extract_text``,
``_payload_to_word_frames``, ``_payload_to_table_rows``); for
``curate_docs`` from the brute-force pair derivation in
``sources/expected.py``, a union-find over the kept pairs, and the quality
rule chain written out in Python. Those oracles share the engine's
kernels, so pages whose text the generator wrote are also pinned against
that text (ANCHORED families below; confirmed exact on the seeds tried).
"""

from __future__ import annotations

import collections
import glob
import hashlib
import math
import multiprocessing
import os
import pickle
import re

from inputs import LATTICE_CELL, WORK, parts

# families whose page text equals the generator's lines joined by "\n"
TEXT_ANCHORED = ("pdf/basic", "pdf/encrypted", "pdf/images", "pdf/mega")


def norm(v):
    """Arrow/pandas cell -> plain Python value (NaN/NA -> None)."""
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def source_hash() -> str:
    """Hash of the package and benchmark sources: the expected-rows cache
    key, so an edited kernel never reuses stale expectations."""
    root = os.path.dirname(WORK)
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(root, "pdfplumber_spark", "**", "*.py"), recursive=True))
    files += sorted(glob.glob(os.path.join(root, "perfbench", "*.py")))
    for p in files:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


# --- extraction oracles (run in a spawn pool, one chunk of docs per task) ----

def _text_rows(docs) -> dict:
    from pdfplumber_spark.plans.extract import oracle_extract_text

    df = oracle_extract_text([(d["url"], d["html"]) for d in docs])
    out = collections.defaultdict(list)
    for row in df.itertuples(index=False):
        out[row[0]].append(tuple(norm(v) for v in row))
    return out


def _words_tables_rows(docs) -> dict:
    from pdfplumber_spark.kernel.words import WordSettings
    from pdfplumber_spark.plans.extract import _payload_to_table_rows, _payload_to_word_frames

    out = {}
    for d in docs:
        words = [
            tuple(norm(v) for v in row)
            for f in _payload_to_word_frames(d["url"], d["html"], WordSettings())
            for row in f.itertuples(index=False)
        ]
        tables = [tuple(norm(v) for v in r) for r in _payload_to_table_rows(d["url"], d["html"])]
        out[d["url"]] = (sorted(words), sorted(tables))
    return out


def _chunk_expected(args):
    part, docs = args
    if part == "tables":
        return dict(_words_tables_rows(docs))
    return {u: sorted(rows) for u, rows in _text_rows(docs).items()}


def _extraction_expected(docs: list, procs: int) -> dict:
    """url -> sorted text rows (text part) or (word rows, table rows)
    (tables part)."""
    chunks = [(part, ds[i:i + 25]) for part, ds in parts(docs).items()
              for i in range(0, len(ds), 25)]
    ctx = multiprocessing.get_context("spawn")
    out = {}
    with ctx.Pool(procs) as pool:
        for rows in pool.imap_unordered(_chunk_expected, chunks):
            out.update(rows)
    for d in docs:  # a payload with no output row expects none
        out.setdefault(d["url"], ([], []) if d["part"] == "tables" else [])
    return out


# --- curate_docs oracle -------------------------------------------------------

def quality_reason(text: str, min_words=30, min_alpha=0.75, max_punct=0.2, max_dup_word=0.65):
    """quality_filter's rule chain: the first failing rule, or None."""
    n_chars = len(text)
    n_words = max(len(re.findall(r"\S+", text)), 1)
    alpha = len(re.findall(r"[A-Za-z]", text)) / max(n_chars, 1)
    punct = len(re.findall(r"[^\w\s]", text, re.ASCII)) / max(n_chars, 1)
    toks = re.findall(r"\S+", text.lower())
    dup = 0.0 if not toks else 1 - len(set(toks)) / len(toks)
    if n_words < min_words:
        return "too_short"
    if alpha < min_alpha:
        return "low_alpha"
    if punct > max_punct:
        return "too_punct"
    if dup > max_dup_word:
        return "repetitive"
    return None


def _curate_expected(docs: list) -> dict:
    import pandas as pd

    from pdfplumber_spark.sources.expected import _minhash_pairs_frame

    frame = pd.DataFrame({"doc_id": [d["doc_id"] for d in docs], "text": [d["text"] for d in docs]})
    cand = _minhash_pairs_frame(frame)
    kept = cand[cand["est_jaccard"] >= 0.8]
    pairs = {(int(a), int(b)) for a, b in zip(kept["doc_a"], kept["doc_b"])}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in sorted(pairs):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {n for n in parent if find(n) != n}
    groups = collections.defaultdict(list)
    for d in docs:
        groups[hashlib.md5(d["text"].encode()).hexdigest()].append(d["doc_id"])
    return {
        "quality": {d["doc_id"]: quality_reason(d["text"]) for d in docs},
        "groups": {m: (len(ids), min(ids)) for m, ids in groups.items()},
        "doc_md5": {i: m for m, ids in groups.items() for i in ids},
        "pairs": pairs,
        "candidates": len(cand),
        "survivors": {d["doc_id"] for d in docs} - losers,
    }


def expected(workload: str, seed: int, docs: list, procs: int) -> dict:
    """Expected outputs, cached by workload, seed, size and source hash."""
    path = os.path.join(
        WORK, "expected", f"{workload}-{seed}-{len(docs)}-{source_hash()}.pkl"
    )
    if os.path.exists(path):
        with open(path, "rb") as f:  # written by this benchmark only
            return pickle.load(f)
    if workload == "curate_docs":
        exp = _curate_expected(docs)
    else:
        exp = _extraction_expected(docs, procs)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(exp, f)
    os.replace(path + ".tmp", path)
    return exp


# --- checks -------------------------------------------------------------------

def group_rows(rows) -> dict:
    """Rows keyed by their first column, each list sorted."""
    out = collections.defaultdict(list)
    for r in rows:
        out[r[0]].append(tuple(norm(v) for v in r))
    return {k: sorted(v) for k, v in out.items()}


def failed_docs(workload: str, docs: list, exp: dict, got: dict) -> set:
    """Keys of the docs whose output rows are missing, duplicated or
    different from the expected rows, or that break a generator anchor.
    ``got`` holds the outputs of the parts of ``docs``: ``text`` for the
    text part, ``words`` and ``tables`` for the tables part."""
    if workload == "curate_docs":
        return _curate_failures(docs, exp, got)
    bad = set()
    for d in docs:
        u = d["url"]
        if d["part"] == "tables":
            mine = (got["words"].get(u, []), got["tables"].get(u, []))
            if mine != exp[u] or not _tables_anchor_ok(d, *mine):
                bad.add(u)
        elif got["text"].get(u, []) != exp[u] or not _text_anchor_ok(d, got["text"].get(u, [])):
            bad.add(u)
    return bad


def _text_anchor_ok(d: dict, rows: list) -> bool:
    if d["family"] not in TEXT_ANCHORED:
        return True
    texts = {r[1]: r[2] for r in rows}
    return all(texts.get(i + 1) == "\n".join(lines) for i, lines in enumerate(d["pages"]))


def _tables_anchor_ok(d: dict, words: list, tables: list) -> bool:
    if d["family"] == "pdf/basic":
        by_page = collections.defaultdict(list)
        for w in words:  # (url, page_number, word_index, text, ...)
            by_page[w[1]].append((w[2], w[3]))
        return all(
            [t for _, t in sorted(by_page.get(i + 1, []))] == " ".join(lines).split()
            for i, lines in enumerate(d["pages"])
        )
    if d["family"] == "pdf/table-lattice":
        cells = {(r[1], r[3], r[4]): r[5] for r in tables if r[2] == 0}
        for i, lines in enumerate(d["pages"]):
            for t in lines:
                m = LATTICE_CELL.match(t)
                if m and cells.get((i + 1, int(m.group(1)), int(m.group(2)))) != t:
                    return False
    return True


def anchor_coverage(docs: list) -> dict:
    """Pages (text, words) or cells (lattice tables) pinned to generator text."""
    fams = collections.Counter()
    for d in docs:
        if d["part"] == "text" and d["family"] in TEXT_ANCHORED:
            fams[d["family"] + " page text"] += len(d["pages"])
        elif d["part"] == "tables" and d["family"] == "pdf/basic":
            fams["pdf/basic page words"] += len(d["pages"])
        elif d["part"] == "tables" and d["family"] == "pdf/table-lattice":
            fams["pdf/table-lattice cells"] += sum(
                1 for lines in d["pages"] for t in lines if LATTICE_CELL.match(t)
            )
    return dict(sorted(fams.items()))


def _curate_failures(docs: list, exp: dict, got: dict) -> set:
    bad = set()
    for d in docs:
        i = d["doc_id"]
        reason = exp["quality"][i]
        m = exp["doc_md5"][i]
        if (
            got["quality"].get(i) != (reason is None, reason)
            or got["groups"].get(m) != exp["groups"][m]
            or got["survivors"].get(i, 0) != (i in exp["survivors"])
        ):
            bad.add(i)
    for a, b in exp["pairs"] ^ got["pairs"]:
        bad.update((a, b))
    return bad
