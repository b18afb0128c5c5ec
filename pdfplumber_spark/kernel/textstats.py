"""Corpus text-analysis kernels: token counting, language stopword
profiles, FNV hashing, shingling / MinHash / SimHash.

All functions are vectorized over pandas Series / numpy arrays and are
deterministic — the Spark operators in ``operators/`` call them Arrow-batched;
DuckDB oracles re-express the SQL-expressible subset for the correctness gate.

Public-knowledge algorithms only: MinHash (Broder 1997), SimHash (Charikar
2002), banding LSH (Mining of Massive Datasets ch.3).
"""

from __future__ import annotations

import re
from typing import List

import numpy as np

# --- tokenization -----------------------------------------------------------

# BPE-ish pre-tokenizer: word pieces, numbers, or single non-space symbols
# (same shape as the GPT-2 pre-tokenizer regex family, simplified to stdlib re)
TOKEN_RE = re.compile(r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]")


# --- language profiles ----------------------------------------------------

# tiny stopword profiles (top function words) — n-gram-free heuristic that is
# fully SQL-expressible for the oracle
LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "in", "is", "that", "it", "for", "was"},
    "de": {"der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"},
    "fr": {"le", "la", "les", "et", "de", "des", "un", "une", "est", "que"},
    "es": {"el", "la", "los", "las", "de", "que", "y", "en", "un", "es"},
}


# --- hashing / fingerprints -------------------------------------------------

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)


def fnv1a_64(data: bytes) -> int:
    """FNV-1a 64-bit hash (public domain algorithm)."""
    h = 0xCBF29CE484222325
    for b in data:
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def shingles(text: str, k: int = 5) -> List[str]:
    """Word k-shingles (lowercased, whitespace tokens)."""
    words = text.lower().split()
    if len(words) < k:
        return [" ".join(words)] if words else []
    return [" ".join(words[i : i + k]) for i in range(len(words) - k + 1)]


def _minhash_perms(num_perm: int) -> "tuple[np.ndarray, np.ndarray]":
    rng = np.random.default_rng(1234567)
    a = rng.integers(1, 1 << 61, size=num_perm, dtype=np.uint64) | np.uint64(1)
    b = rng.integers(0, 1 << 61, size=num_perm, dtype=np.uint64)
    return a, b


def fnv1a_64_batch(items: "list[bytes]") -> np.ndarray:
    """Vectorized FNV-1a over many byte strings: items are sorted by
    length (descending) and concatenated into one flat buffer, then one
    xor-multiply vector op per BYTE POSITION over exactly the PREFIX of
    items still active at that position, gathering byte ``j`` of each at
    its start offset + ``j`` (total work = sum(len), memory O(total
    bytes)). Identical uint64 wraparound arithmetic to the scalar
    ``fnv1a_64``; results returned in input order."""
    n = len(items)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    lens = np.fromiter((len(b) for b in items), dtype=np.int64, count=n)
    maxlen = int(lens.max())
    if maxlen == 0:
        return np.full(n, _FNV_OFFSET, dtype=np.uint64)
    order = np.argsort(-lens, kind="stable")
    flat = np.frombuffer(b"".join(items[i] for i in order), dtype=np.uint8)
    starts = np.concatenate(([0], np.cumsum(lens[order])[:-1]))
    # m[j] = how many (sorted) items are still active at byte position j
    hist = np.bincount(lens, minlength=maxlen + 1)
    m = n - np.cumsum(hist)[:maxlen]  # counts with len > j
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    for j in range(maxlen):
        mj = int(m[j])
        h[:mj] = (h[:mj] ^ flat[starts[:mj] + j].astype(np.uint64)) * _FNV_PRIME
    out = np.empty(n, dtype=np.uint64)
    out[order] = h
    return out


def minhash_signature(text: str, num_perm: int = 64, k: int = 5) -> np.ndarray:
    """MinHash signature via the universal-hash trick: h_i(x) = (a_i * x + b_i)
    mod p, with a/b from a fixed seeded generator (deterministic)."""
    sh = shingles(text, k)
    if not sh:
        return np.zeros(num_perm, dtype=np.int64)
    base = np.array([fnv1a_64(s.encode("utf-8")) for s in sh], dtype=np.uint64)
    a, b = _minhash_perms(num_perm)
    # (a*x + b) with uint64 wraparound is a fine universal-ish family here
    vals = (base[None, :] * a[:, None] + b[:, None]) & _M64
    return vals.min(axis=1).view(np.int64)


def minhash_signatures_batch(
    texts, num_perm: int = 64, k: int = 5
) -> np.ndarray:
    """Batch form of ``minhash_signature`` for the Arrow operator path:
    shingle all texts, hash EVERY shingle of the batch in one vectorized
    FNV pass (``fnv1a_64_batch``), apply the permutation family as one
    (num_perm x total_shingles) matmul-style pass, and take per-document
    segment minima with ``np.minimum.reduceat``. Identical uint64
    arithmetic end-to-end -> identical signatures row-for-row (pinned in
    tests/test_r8_optimizations.py). Returns (len(texts), num_perm)
    int64."""
    counts = []
    all_sh: list = []
    for t in texts:
        sh = shingles(t or "", k)
        counts.append(len(sh))
        all_sh.extend(s.encode("utf-8") for s in sh)
    out = np.zeros((len(counts), num_perm), dtype=np.int64)
    if not all_sh:
        return out
    base = fnv1a_64_batch(all_sh)
    a, b = _minhash_perms(num_perm)
    counts_arr = np.asarray(counts, dtype=np.int64)
    nz_idx = np.nonzero(counts_arr > 0)[0]
    starts = np.concatenate(([0], np.cumsum(counts_arr)[:-1]))
    # chunk the (num_perm x shingles) permutation table along DOC
    # boundaries (~32k shingles/chunk) so the uint64 temporaries stay
    # cache-resident instead of streaming a 100+ MB matrix through DRAM
    target = 32768
    pos = 0
    while pos < len(nz_idx):
        end = pos
        first = starts[nz_idx[pos]]
        while end < len(nz_idx) and (
            starts[nz_idx[end]] + counts_arr[nz_idx[end]] - first <= target
            or end == pos
        ):
            end += 1
        docs_slice = nz_idx[pos:end]
        lo = starts[docs_slice[0]]
        hi = starts[docs_slice[-1]] + counts_arr[docs_slice[-1]]
        # in-place ops: one allocation per chunk, no mult/add temporaries
        vals = np.multiply(base[None, lo:hi], a[:, None])
        vals += b[:, None]
        vals &= _M64
        offs = (starts[docs_slice] - lo).astype(np.int64)
        mins = np.minimum.reduceat(vals, offs, axis=1)
        out[docs_slice] = mins.T.view(np.int64)
        pos = end
    return out


def simhash64(text: str) -> int:
    """SimHash over word unigrams+bigrams (Charikar 2002)."""
    words = text.lower().split()
    feats = words + [" ".join(p) for p in zip(words, words[1:])]
    if not feats:
        return 0
    acc = np.zeros(64, dtype=np.int64)
    for f in feats:
        h = fnv1a_64(f.encode("utf-8"))
        bits = (h >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
        acc += np.where(bits.astype(bool), 1, -1)
    out = 0
    for i in range(64):
        if acc[i] > 0:
            out |= 1 << i
    return out - (1 << 64) if out >= (1 << 63) else out  # int64 reinterpret


def simhash64_batch(texts) -> np.ndarray:
    """Batch form of ``simhash64``: all features (word unigrams+bigrams)
    of the batch hashed in one ``fnv1a_64_batch`` pass, bit-unpacked as a
    (features, 64) matrix, and per-document summed via
    ``np.add.reduceat`` — the +-1 accumulation is a commutative integer
    sum, so results are identical to the scalar loop. Returns int64
    (same int64 reinterpretation as the scalar kernel)."""
    counts = []
    feats: list = []
    for t in texts:
        words = (t or "").lower().split()
        fs = words + [" ".join(p) for p in zip(words, words[1:])]
        counts.append(len(fs))
        feats.extend(f.encode("utf-8") for f in fs)
    out = np.zeros(len(counts), dtype=np.int64)
    if not feats:
        return out
    hs = fnv1a_64_batch(feats)
    bits = (
        (hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
        & np.uint64(1)
    ).astype(np.int64)
    signs = 2 * bits - 1  # (features, 64) of +-1
    counts_arr = np.asarray(counts, dtype=np.int64)
    nz = np.nonzero(counts_arr > 0)[0]
    offsets = np.concatenate(([0], np.cumsum(counts_arr)[:-1]))[nz]
    acc = np.add.reduceat(signs, offsets, axis=0)  # (n_nz, 64)
    vals = (acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)
    out[nz] = vals.sum(axis=1, dtype=np.uint64).view(np.int64)
    return out


def jaccard(a: set, b: set) -> float:
    if not a and not b:
        return 1.0
    u = len(a | b)
    return len(a & b) / u if u else 0.0


# --- winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2004) ---------

WINNOW_BASE = 1_000_003
WINNOW_MOD = (1 << 61) - 1


def kgram_hash(s: str) -> int:
    """Polynomial k-gram hash: sum(ord(c) * BASE^(k-1-j)) mod 2^61-1 —
    the shared spec both the engine kernel and the independent oracle
    implement (the oracle recomputes per position, this module rolls)."""
    h = 0
    for ch in s:
        h = (h * WINNOW_BASE + ord(ch)) % WINNOW_MOD
    return h


def _mod61(x: np.ndarray) -> np.ndarray:
    """Reduce uint64 values < 2^62 modulo the Mersenne prime 2^61-1."""
    m = np.uint64(WINNOW_MOD)
    x = (x >> np.uint64(61)) + (x & m)
    return np.where(x >= m, x - m, x)


def _mulmod61_small(c: np.ndarray, p: int) -> np.ndarray:
    """(c * p) mod 2^61-1 for c < 2^21 (codepoints) and p < 2^61, exactly,
    in uint64: split p into 40 low + 21 high bits; the high product is
    rotated left by 40 within 61 bits (2^61 == 1 mod M, so *2^40 is a
    61-bit rotation) — no intermediate exceeds 2^62."""
    p_lo = np.uint64(p & ((1 << 40) - 1))
    p_hi = np.uint64(p >> 40)
    lo = _mod61(c * p_lo)                     # < 2^21 * 2^40 = 2^61
    hi = _mod61(c * p_hi)                     # < 2^42, already < M
    # rotate hi left by 40 within 61 bits: hi < 2^61
    keep = np.uint64((1 << 21) - 1)
    rot = ((hi & keep) << np.uint64(40)) | (hi >> np.uint64(21))
    return _mod61(lo + _mod61(rot))


def winnow_fingerprints(text: str, k: int = 8, w: int = 4) -> List[int]:
    """Winnowed k-gram fingerprint set (sorted, distinct).

    Polynomial k-gram hashes over lowercase text, then robust winnowing:
    every window of ``w`` consecutive k-gram hashes contributes its
    minimum (ties -> rightmost), guaranteeing any match of length
    >= w + k - 1 shares a fingerprint while sampling only ~2/(w+1) of all
    k-grams. Texts shorter than k hash as a single whole-text gram.

    Round-8: the per-character Python rolling loop became k vectorized
    numpy passes (hash_i = sum_j c_{i+j} * BASE^{k-1-j} mod 2^61-1, all
    positions at once; exact Mersenne-prime arithmetic via _mulmod61_small)
    plus a sliding-window min for the winnow step — identical integers to
    the rolling recurrence (mod arithmetic is exact), ~25x fewer Python
    ops per char. Tie rule note: tied window minima are EQUAL values, so
    the selected fingerprint set is independent of which index wins;
    rightmost selection is documentation of the spec, not a computation."""
    s = text.lower()
    if len(s) < k:
        return [kgram_hash(s)] if s else []
    n = len(s) - k + 1
    codes = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    acc = np.zeros(n, dtype=np.uint64)
    for j in range(k):
        pw = pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD)
        acc = _mod61(acc + _mulmod61_small(codes[j:j + n], pw))
    if n <= w:
        return [int(acc.min())]
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(acc, w).min(axis=1)
    return sorted(int(v) for v in set(mins.tolist()))


def winnow_fingerprints_batch(
    texts, k: int = 8, w: int = 4
) -> "tuple[np.ndarray, np.ndarray]":
    """Batch form of ``winnow_fingerprints`` for the Arrow operator path:
    ONE vectorized hash pass over the concatenation of all texts in the
    batch (k numpy passes total, instead of k passes PER document — the
    per-call numpy overhead dominates for short documents), then per-doc
    sliding-window minima + ``np.unique`` (= sorted distinct). K-gram
    windows that straddle a document boundary are computed but never
    selected (per-doc index ranges exclude them). Returns
    (row_index, fingerprint) int64 arrays; identical integers to the
    scalar function on every row (same exact mod-2^61-1 arithmetic)."""
    from numpy.lib.stride_tricks import sliding_window_view

    out_idx: list = []
    out_fp: list = []
    segs = []  # (row_ix, char_offset, char_len) for docs long enough
    parts = []
    off = 0
    for ix, t in enumerate(texts):
        s = (t or "").lower()
        if len(s) < k:
            if s:  # short doc: single whole-text gram (scalar path, rare)
                out_idx.append(ix)
                out_fp.append(kgram_hash(s))
            continue
        parts.append(s)
        segs.append((ix, off, len(s)))
        off += len(s)
    idx_arrs = [np.asarray(out_idx, dtype=np.int64)]
    fp_arrs = [np.asarray(out_fp, dtype=np.int64)]
    if segs:
        codes = np.frombuffer(
            "".join(parts).encode("utf-32-le"), dtype=np.uint32
        ).astype(np.uint64)
        m = len(codes) - k + 1
        acc = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            pw = pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD)
            acc = _mod61(acc + _mulmod61_small(codes[j:j + m], pw))
        swv = sliding_window_view(acc, w) if m >= w else None
        for ix, o, slen in segs:
            n = slen - k + 1
            if n <= w:
                fp = acc[o:o + n].min(keepdims=True).astype(np.int64)
            else:
                fp = np.unique(swv[o:o + n - w + 1].min(axis=1)).astype(
                    np.int64
                )
            idx_arrs.append(np.full(len(fp), ix, dtype=np.int64))
            fp_arrs.append(fp)
    return np.concatenate(idx_arrs), np.concatenate(fp_arrs)
