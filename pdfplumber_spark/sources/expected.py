"""Materialized single-process oracles for the driver's DuckDB correctness
gate.

Every distributed query in ``__spark_entry__.queries()`` that cannot be
expressed in ANSI SQL (PDF parsing, MinHash banding, hyperplane LSH, …)
gets an *expected-result parquet* computed here in plain single-process
Python over the SAME deterministic inputs; ``oracle_sql()`` then points
DuckDB at ``SELECT * FROM read_parquet('<path>')``.

What this gate proves: the distributed plan — repartitioning, mapInPandas
Arrow round-trips, bucketed joins, window ranking — preserves the
single-process result exactly (rows + schema + value hash). Kernel-level
correctness vs the reference (jsvine/pdfplumber) is gated separately by the
pytest suite (byte-identical scotus goldens, WARN/NICS table goldens,
differential tests against the reference's own algorithm modules).

Two builder styles:

- extraction queries reuse the *same per-payload functions* the Spark plans
  call inside mapInPandas (``_payload_to_text_rows`` etc.) — a pure
  distribution check with zero drift risk;
- dedup/ANN queries re-derive the result with an *independent brute-force
  algorithm* (all-pairs band comparison instead of the bucketed join;
  dense matmul + cumsum-fold cosine instead of the SQL expression tree), so
  the banding/join logic itself is cross-checked.

All floats are either produced by the identical kernel code (bit-identical)
or computed with the same left-to-right fold order Spark's ``aggregate``
uses (``np.cumsum``), so value hashes match without tolerance.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np
import pandas as pd

from .corpus import CORPUS_VERSION, corpus_path_for_sf

# bump when any expected-result computation changes
EXPECTED_VERSION = 16


# ---------------------------------------------------------------------------
# corpus + testdata inputs
# ---------------------------------------------------------------------------

def _read_corpus(sf_dir: str) -> List[Tuple[str, bytes]]:
    import pyarrow.parquet as pq

    t = pq.read_table(corpus_path_for_sf(sf_dir), columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def _read_documents(sf_dir: str, max_id: int = 300) -> pd.DataFrame:
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(sf_dir, "documents.parquet"), columns=["doc_id", "text"]
    ).to_pandas()
    return t[t["doc_id"] < max_id].reset_index(drop=True)


def _read_embeddings(sf_dir: str) -> pd.DataFrame:
    import pyarrow.parquet as pq

    return pq.read_table(
        os.path.join(sf_dir, "embeddings.parquet"), columns=["vec_id", "embedding"]
    ).to_pandas()


# ---------------------------------------------------------------------------
# extraction-family builders (shared per-payload kernels, single-process)
# ---------------------------------------------------------------------------

def _text_frame(sf_dir: str, layout: bool = False, dedupe: bool = False) -> pd.DataFrame:
    from ..plans.extract import _payload_to_text_rows

    rows = []
    for url, payload in _read_corpus(sf_dir):
        rows.extend(_payload_to_text_rows(url, payload, layout, dedupe))
    return pd.DataFrame(
        rows,
        columns=["url", "page_number", "text", "n_chars", "n_words",
                 "status", "error"],
    )


def _b_extract_text(sf_dir: str) -> pd.DataFrame:
    return _text_frame(sf_dir)[["url", "page_number", "text", "status"]]


def _b_extract_text_layout(sf_dir: str) -> pd.DataFrame:
    return _text_frame(sf_dir, layout=True)[
        ["url", "page_number", "text", "status"]
    ]


def _b_extract_text_dedupe(sf_dir: str) -> pd.DataFrame:
    return _text_frame(sf_dir, dedupe=True)[
        ["url", "page_number", "text", "status"]
    ]


def _b_document_text(sf_dir: str) -> pd.DataFrame:
    from ..plans.extract import PAGE_SEP

    t = _text_frame(sf_dir)
    ok = t[t["status"] == "ok"].sort_values(["url", "page_number"])
    out = (
        ok.groupby("url", sort=False)["text"]
        .apply(lambda s: PAGE_SEP.join("" if v is None else v for v in s))
        .reset_index()
    )
    return out[["url", "text"]]


def _b_extract_words(sf_dir: str) -> pd.DataFrame:
    from ..kernel.words import WordSettings
    from ..plans.extract import _payload_to_word_frames

    s = WordSettings()
    outs = []
    for url, payload in _read_corpus(sf_dir):
        outs.extend(_payload_to_word_frames(url, payload, s))
    cols = ["url", "page_number", "word_index", "text", "x0", "top", "direction"]
    if not outs:
        return pd.DataFrame(columns=cols)
    return pd.concat(outs, ignore_index=True)[cols]


def _tables_frame(sf_dir: str, **kwargs) -> pd.DataFrame:
    from ..plans.extract import _payload_to_table_rows

    rows = []
    for url, payload in _read_corpus(sf_dir):
        rows.extend(_payload_to_table_rows(url, payload, **kwargs))
    cols = ["url", "page_number", "table_index", "row_index", "col_index",
            "text", "x0", "top", "x1", "bottom"]
    return pd.DataFrame(rows, columns=cols)


def _b_extract_tables(sf_dir: str) -> pd.DataFrame:
    return _tables_frame(sf_dir)[
        ["url", "page_number", "table_index", "row_index", "col_index", "text"]
    ]


def _b_extract_tables_stream(sf_dir: str) -> pd.DataFrame:
    return _tables_frame(
        sf_dir, vertical_strategy="text", horizontal_strategy="text"
    )[["url", "page_number", "table_index", "row_index", "col_index", "text"]]


def _b_extract_objects(sf_dir: str) -> pd.DataFrame:
    from ..plans.extract import _payload_to_objects

    outs = []
    for url, payload in _read_corpus(sf_dir):
        outs.extend(_payload_to_objects(url, payload))
    cols = ["url", "page_number", "object_type", "obj_index", "text",
            "x0", "top", "x1", "bottom"]
    if not outs:
        return pd.DataFrame(columns=cols)
    return pd.concat(outs, ignore_index=True)[cols]


def _matches_frame(sf_dir: str, pattern: str, strip_lines: bool) -> pd.DataFrame:
    from ..plans.search import MATCHES_SCHEMA, _payload_to_match_frames

    cols = [f.name for f in MATCHES_SCHEMA.fields]
    outs = []
    for url, payload in _read_corpus(sf_dir):
        outs.extend(
            _payload_to_match_frames(url, payload, pattern, True, True,
                                     strip_lines)
        )
    if not outs:
        return pd.DataFrame(columns=cols)
    return pd.concat(outs, ignore_index=True)[cols]


def _b_search(sf_dir: str) -> pd.DataFrame:
    return _matches_frame(sf_dir, r"[a-z]{6,}", False)


def _b_text_lines(sf_dir: str) -> pd.DataFrame:
    return _matches_frame(sf_dir, "", True)


def _b_hyperlinks(sf_dir: str) -> pd.DataFrame:
    from ..plans.extract import ANNOT_COLS, _payload_to_annots

    outs = []
    for url, payload in _read_corpus(sf_dir):
        outs.extend(_payload_to_annots(url, payload))
    if not outs:
        return pd.DataFrame(columns=ANNOT_COLS)
    out = pd.concat(outs, ignore_index=True)
    return out[out["uri"].notna()].reset_index(drop=True)[ANNOT_COLS]


def _b_metadata(sf_dir: str) -> pd.DataFrame:
    from ..plans.extract import _payload_to_metadata_rows

    rows = []
    for url, payload in _read_corpus(sf_dir):
        rows.extend(_payload_to_metadata_rows(url, payload))
    return pd.DataFrame(rows, columns=["url", "key", "value"])


def _b_structure(sf_dir: str) -> pd.DataFrame:
    from ..kernel.structure import tree_to_json

    rows = []
    for url, payload in _read_corpus(sf_dir):
        if payload is None or bytes(payload)[:5] != b"%PDF-":
            continue
        try:
            rows.append((url, tree_to_json(bytes(payload))))
        except Exception:  # noqa: BLE001
            rows.append((url, None))
    return pd.DataFrame(rows, columns=["url", "structure_json"])


def _b_image_metadata(sf_dir: str) -> pd.DataFrame:
    from ..operators.multimodal import _payload_to_image_row

    rows = [
        _payload_to_image_row(url, payload)
        for url, payload in _read_corpus(sf_dir)
    ]
    out = pd.DataFrame(
        rows,
        columns=["url", "n_bytes", "format", "width", "height", "channels",
                 "sha256", "status"],
    )
    out["n_bytes"] = out["n_bytes"].astype("int64")
    for c in ("width", "height", "channels"):
        out[c] = out[c].astype("Int32")
    return out[["url", "n_bytes", "format", "width", "height", "channels",
                "sha256", "status"]]


def _ccitt_tables():
    from ..kernel.ccitt import _BLACK_CODES, _EXT_CODES, _WHITE_CODES

    wdec = {bits: run for run, bits in _WHITE_CODES + _EXT_CODES}
    bdec = {bits: run for run, bits in _BLACK_CODES + _EXT_CODES}
    return wdec, bdec


def _oracle_read_run(s: str, pos: int, table) -> tuple:
    """One complete MH run (makeups + terminating) at ``pos``; returns
    (run_length, new_pos)."""
    total = 0
    while True:
        for ln in range(2, 14):
            run = table.get(s[pos:pos + ln])
            if run is not None:
                pos += ln
                break
        else:
            raise ValueError(f"bad MH code at {pos}")
        total += run
        if run < 64:
            return total, pos


def _oracle_1d_row(s: str, pos: int, columns: int, wdec, bdec) -> tuple:
    """One 1-D MH row by pixel fill; returns (row, new_pos)."""
    row = [0] * columns
    at, color = 0, 0
    while at < columns:
        run, pos = _oracle_read_run(s, pos, wdec if color == 0 else bdec)
        for p in range(at, min(at + run, columns)):
            row[p] = color
        at += run
        color ^= 1
    return row, pos


def _oracle_2d_row(s: str, pos: int, prev, columns: int, wdec, bdec) -> tuple:
    """One 2-D-coded row (T.6 / T.4 K>0) by pixel fill against the
    reference row ``prev``; returns (row, new_pos)."""
    # transitions of the reference row (index parity: even = to-black)
    tr = []
    last = 0
    for i, v in enumerate(prev):
        if v != last:
            tr.append(i)
            last = v
    row = [0] * columns

    def fill(start, end, color):
        for p in range(max(start, 0), min(end, columns)):
            row[p] = color

    a0, color = -1, 0
    while a0 < columns:
        b1 = b2 = columns
        for idx, t in enumerate(tr):
            if t > a0 and ((idx % 2 == 0) == (color == 0)):
                b1 = t
                b2 = tr[idx + 1] if idx + 1 < len(tr) else columns
                break
        if s.startswith("0001", pos):
            pos += 4
            fill(max(a0, 0), b2, color)
            a0 = b2
        elif s.startswith("001", pos):
            pos += 3
            base = max(a0, 0)
            r1, pos = _oracle_read_run(s, pos, wdec if color == 0 else bdec)
            r2, pos = _oracle_read_run(s, pos, bdec if color == 0 else wdec)
            fill(base, base + r1, color)
            fill(base + r1, base + r1 + r2, color ^ 1)
            a0 = base + r1 + r2
        else:
            vcode = None
            for code, delta in (("1", 0), ("011", 1), ("010", -1),
                                ("000011", 2), ("000010", -2),
                                ("0000011", 3), ("0000010", -3)):
                if s.startswith(code, pos):
                    vcode = (len(code), delta)
                    break
            if vcode is None:
                raise ValueError(f"bad 2-D mode at {pos}")
            pos += vcode[0]
            a1 = b1 + vcode[1]
            fill(max(a0, 0), a1, color)
            a0 = a1
            color ^= 1
    return row, pos


def _oracle_skip_eol(s: str, pos: int) -> tuple:
    """Consume [fill zeros]+EOL if present at ``pos`` (T.4 §4.1.2: any
    >= 11 zeros followed by a 1); returns (consumed?, new_pos)."""
    z = pos
    while z < len(s) and s[z] == "0":
        z += 1
    if z - pos >= 11 and z < len(s):
        return True, z + 1
    return False, pos


def _oracle_g4_rows(body: bytes, columns: int, n_rows: int):
    """Independent Group-4 decode for the image_stats oracle: pixel-fill
    over a '01' string with prefix-dict code lookup — a different
    algorithm shape from kernel/ccitt.py's changing-elements/bit-reader
    implementation (only the public ITU T.4 code TABLES are shared,
    like the AFM width constants). Returns ``n_rows`` lists of 0/1 ints
    (1 = black)."""
    wdec, bdec = _ccitt_tables()
    s = "".join(f"{x:08b}" for x in body)
    pos = 0
    prev = [0] * columns
    out = []
    for _ in range(n_rows):
        while s.startswith("000000000001", pos):
            pos += 12
        row, pos = _oracle_2d_row(s, pos, prev, columns, wdec, bdec)
        out.append(row)
        prev = row
    return out


def _oracle_g3_rows(body: bytes, columns: int, n_rows: int, k: int):
    """Independent Group-3 decode (K=0 pure 1-D; K>0 mixed EOL+tag) for
    the image_stats oracle — same string pixel-fill shape as
    ``_oracle_g4_rows``, tolerating FILL zeros before every EOL. Returns
    ``n_rows`` lists of 0/1 ints (1 = black)."""
    wdec, bdec = _ccitt_tables()
    s = "".join(f"{x:08b}" for x in body)
    pos = 0
    prev = [0] * columns
    out = []
    for _ in range(n_rows):
        saw, pos = _oracle_skip_eol(s, pos)
        one_d = True
        if k > 0:
            if not saw:
                raise ValueError(f"K>0 row without EOL at {pos}")
            if pos >= len(s):
                raise ValueError("truncated tag bit")
            one_d = s[pos] == "1"
            pos += 1
        if one_d:
            row, pos = _oracle_1d_row(s, pos, columns, wdec, bdec)
        else:
            row, pos = _oracle_2d_row(s, pos, prev, columns, wdec, bdec)
        out.append(row)
        prev = row
    return out


def _b_image_stats(sf_dir: str) -> pd.DataFrame:
    """INDEPENDENT single-process re-derivation of pdf_image_stats: walks
    the raw PDF bytes with its own minimal object scanner (regex xref-free
    scan + zlib), decodes Flate DeviceRGB/DeviceGray samples and computes
    the channel stats with pure-python ints — no numpy, none of the
    kernel/images.py code path — so the engine's filter pipeline, sample
    layout and stats arithmetic are all cross-checked, not replicated."""
    import re
    import zlib

    rows = []
    for url, payload in _read_corpus(sf_dir):
        if payload is None:
            continue
        data = bytes(payload)
        if data[:5] != b"%PDF-":
            continue
        # corpus PDFs are generated (never encrypted image families), so a
        # raw scan over "N 0 obj ... endobj" bodies is a faithful
        # independent reader for THIS oracle's inputs
        def unpack(raw, w, h, n_ch, bits):
            """Pure-python MSB-first sub-byte unpack with per-row byte
            padding — the independent counterpart of the engine's numpy
            unpackbits path."""
            row_bytes = (w * n_ch * bits + 7) // 8
            if len(raw) < row_bytes * h:
                return None
            vals = []
            mask = (1 << bits) - 1
            for r in range(h):
                acc = n = 0
                got = []
                for byte in raw[r * row_bytes:(r + 1) * row_bytes]:
                    acc = (acc << 8) | byte
                    n += 8
                    while n >= bits and len(got) < w * n_ch:
                        got.append((acc >> (n - bits)) & mask)
                        n -= bits
                if len(got) < w * n_ch:
                    return None
                vals.extend(got)
            return vals

        images = []
        for m in re.finditer(
            rb"(\d+) 0 obj\s*(<<.*?>>)\s*stream\r?\n", data, re.S
        ):
            head = m.group(2)
            if b"/Subtype/Image" not in head:
                continue
            start = m.end()
            ln = re.search(rb"/Length (\d+)", head)
            if not ln:
                continue
            body = data[start:start + int(ln.group(1))]
            w = int(re.search(rb"/Width (\d+)", head).group(1))
            h = int(re.search(rb"/Height (\d+)", head).group(1))
            bm = re.search(rb"/BitsPerComponent (\d+)", head)
            bits = int(bm.group(1)) if bm else 8
            ix = re.search(
                rb"/ColorSpace\s*\[/Indexed/DeviceRGB \d+ <([0-9A-Fa-f]+)>\]",
                head,
            )
            if ix:
                import binascii

                palette = binascii.unhexlify(ix.group(1))
                ch, raw_ch = 3, 1
            else:
                palette = None
                if b"/DeviceGray" in head:
                    ch = 1
                elif b"/DeviceCMYK" in head:
                    ch = 4
                else:
                    ch = 3
                raw_ch = ch
            if b"/DCTDecode" in head:
                # baseline JPEG: re-decode with the SHARED kernel
                # (kernel/jpeg.py) — a distribution check like the
                # extraction builders; the codec's own correctness is
                # gated by roundtrip + real-fixture tests
                from ..kernel.jpeg import jpeg_decode

                try:
                    d = jpeg_decode(body)
                    px = [int(v) for v in d["samples"].reshape(-1)]
                    ch = d["n_components"]
                    status = "ok"
                except Exception:  # noqa: BLE001 — fake/undecodable
                    px, status = None, "unsupported"
            elif b"/CCITTFaxDecode" in head:
                # all K regimes decode (round-5 ADVICE: the engine decodes
                # K>=0 as 'ok' via kernel/ccitt.py, so the oracle must
                # agree — independent G3 path below, G4 for K<0)
                km = re.search(rb"/K (-?\d+)", head)
                kparm = int(km.group(1)) if km else 0
                try:
                    if kparm >= 0:
                        rows_px = _oracle_g3_rows(body, w, h, kparm)
                    else:
                        rows_px = _oracle_g4_rows(body, w, h)
                    # PDF default polarity: black decodes to sample 0
                    px = [1 - v for r_ in rows_px for v in r_]
                    status = "ok"
                except ValueError:
                    px, status = None, "error"
            elif b"/JBIG2Decode" in head:
                # embedded JBIG2: re-decode with the SHARED kernel
                # (kernel/jbig2.py) — jpeg-precedent distribution check;
                # the MQ coder's correctness is gated by exhaustive +
                # randomized roundtrip tests (tests/test_jbig2.py)
                from ..kernel.jbig2 import decode_embedded

                try:
                    rows_px, jw, jh = decode_embedded(body)
                    # PDF polarity: JBIG2 1 (black) -> sample 0
                    px = [1 - v for r_ in rows_px for v in r_]
                    status = "ok" if (jw, jh) == (w, h) else "error"
                except Exception:  # noqa: BLE001 — unsupported subtype
                    px, status = None, "unsupported"
            elif b"/JPXDecode" in head:
                # embedded JPEG 2000: re-decode with the SHARED kernel
                # (kernel/jpx.py) — jpeg/jbig2-precedent distribution
                # check; the codec's correctness is gated by the
                # roundtrip matrix + Table F.4 anchor in tests/test_jpx
                from ..kernel.jpx import jpx_decode

                try:
                    d = jpx_decode(body)
                    px = [int(v) for v in d["samples"].reshape(-1)]
                    ch = d["n_components"]
                    status = ("ok" if (d["width"], d["height"]) == (w, h)
                              else "error")
                except Exception:  # noqa: BLE001 — unsupported style
                    px, status = None, "unsupported"
            elif b"/FlateDecode" in head:
                codes = unpack(zlib.decompress(body), w, h, raw_ch, bits)
                if codes is None:
                    px, status = None, "error"
                elif palette is not None:
                    if max(codes) > len(palette) // 3 - 1:
                        px, status = None, "error"
                    else:
                        px = [
                            palette[i * 3 + c] for i in codes
                            for c in range(3)
                        ]
                        status = "ok"
                else:
                    px, status = codes, "ok"
            else:
                px, status = None, "unsupported"
            images.append((int(m.group(1)), w, h, ch, px, status))
        # map images to (page_number, image_index, name) via each page's
        # /XObject dict; the generator emits page objects in page order, so
        # finditer order == page_number order for these inputs
        obj_by_num = {rec[0]: rec for rec in images}
        for pno, pm in enumerate(
            re.finditer(rb"\d+ 0 obj\s*(<</Type/Page/.*?)\s*endobj", data,
                        re.S),
            start=1,
        ):
            xm = re.search(rb"/XObject<<(.*?)>>", pm.group(1), re.S)
            if not xm:
                continue
            refs = re.findall(rb"/(Im\d+) (\d+) 0 R", xm.group(1))
            # NUMERIC name order == the generator's paint order; byte-
            # lexicographic sorted() put Im10 before Im2 once a page
            # first carried 11+ images (round-6 board catch)
            refs.sort(key=lambda r: int(r[0][2:]))
            for idx, (nm, num) in enumerate(refs):
                rec = obj_by_num.get(int(num))
                if rec is None:
                    continue
                _, w, h, ch, px, status = rec
                means = [None, None, None]
                mn = mx = None
                if status == "ok":
                    n_px = w * h
                    need = px[: w * h * ch]
                    for c in range(min(3, ch)):
                        s = sum(need[c::ch])
                        means[c] = round(s / n_px, 6)
                    mn, mx = min(need), max(need)
                rows.append(
                    (url, pno, idx, nm.decode(), w, h, ch,
                     means[0], means[1], means[2], mn, mx, status)
                )
    out = pd.DataFrame(
        rows,
        columns=["url", "page_number", "image_index", "name", "width",
                 "height", "channels", "mean_c0", "mean_c1", "mean_c2",
                 "min_val", "max_val", "status"],
    )
    for c in ("page_number", "image_index", "width", "height", "channels"):
        out[c] = out[c].astype("int32")
    for c in ("mean_c0", "mean_c1", "mean_c2"):
        out[c] = out[c].astype("float64")
    for c in ("min_val", "max_val"):
        out[c] = out[c].astype("Int32")
    return out


# ---------------------------------------------------------------------------
# dedup / ANN builders (independent brute-force re-derivations)
# ---------------------------------------------------------------------------

def _minhash_pairs_frame(docs: pd.DataFrame) -> pd.DataFrame:
    """Brute-force re-derivation of minhash_lsh_candidates semantics over a
    (doc_id, text) frame: a pair is a candidate iff it shares a full band
    slice whose bucket holds <= max_bucket rows; est_jaccard = matching
    positions / num_perm (exact k/64 double — no rounding on either side)."""
    from ..kernel.textstats import minhash_signature

    num_perm, k, bands, max_bucket = 64, 5, 16, 50
    rows_per_band = num_perm // bands
    ids = docs["doc_id"].to_numpy()
    sigs = np.stack(
        [minhash_signature(t or "", num_perm=num_perm, k=k) for t in docs["text"]]
    )  # (n, 64) int64

    # bucket membership: group rows by (band, band-slice content)
    buckets: Dict[tuple, list] = {}
    for i in range(len(ids)):
        for b in range(bands):
            key = (b, sigs[i, b * rows_per_band:(b + 1) * rows_per_band].tobytes())
            buckets.setdefault(key, []).append(i)

    cand = set()
    for members in buckets.values():
        if len(members) > max_bucket:
            continue  # dropped bucket — exact-dup territory
        for ai in range(len(members)):
            for bi in range(ai + 1, len(members)):
                a, b = members[ai], members[bi]
                if ids[a] > ids[b]:
                    a, b = b, a
                cand.add((a, b))

    out_rows = []
    for a, b in cand:
        est = float((sigs[a] == sigs[b]).sum()) / num_perm
        out_rows.append((int(ids[a]), int(ids[b]), est))
    out = pd.DataFrame(out_rows, columns=["doc_a", "doc_b", "est_jaccard"])
    out["doc_a"] = out["doc_a"].astype("int64")
    out["doc_b"] = out["doc_b"].astype("int64")
    out["est_jaccard"] = out["est_jaccard"].astype("float64")
    return out


def _b_minhash_pairs(sf_dir: str) -> pd.DataFrame:
    return _minhash_pairs_frame(_read_documents(sf_dir, max_id=300))


def _b_minhash_pairs_full(sf_dir: str) -> pd.DataFrame:
    """The whole documents table — no toy doc_id slice (round-3 verdict
    ask #7: oracle-exercise the board queries past the sliced inputs)."""
    return _minhash_pairs_frame(_read_documents(sf_dir, max_id=1 << 62))


def _b_minhash_pairs_skewed(sf_dir: str) -> pd.DataFrame:
    """Full table + the boilerplate mega-bucket family (121 identical
    texts): single-process derivation of the same deterministic input the
    entry query constructs with ``with_boilerplate_skew`` — the replica
    group must exceed max_bucket in every band and produce ZERO pairs."""
    from ..operators.dedup import SKEW_ID_START, SKEW_N_REPLICAS

    docs = _read_documents(sf_dir, max_id=1 << 62)
    base_text = docs.loc[docs["doc_id"] == 0, "text"].iloc[0]
    reps = pd.DataFrame(
        {
            "doc_id": [SKEW_ID_START + i for i in range(SKEW_N_REPLICAS)],
            "text": [base_text] * SKEW_N_REPLICAS,
        }
    )
    return _minhash_pairs_frame(
        pd.concat([docs, reps], ignore_index=True)
    )


def _b_simhash_pairs(sf_dir: str) -> pd.DataFrame:
    """Banding-free brute-force oracle: ALL pairs with exact hamming <= 6.
    Deliberately does NOT replicate the distributed plan's band blocking —
    the plan derives max_hamming+1 bands so its recall must be total; any
    banding recall gap shows up here as a row-count mismatch."""
    from ..kernel.textstats import simhash64

    docs = _read_documents(sf_dir, max_id=300)
    ids = docs["doc_id"].to_numpy()
    hashes = np.array(
        [simhash64(t or "") for t in docs["text"]], dtype=np.int64
    ).view(np.uint64)
    n = len(ids)
    out_rows = []
    for a in range(n):
        for b in range(a + 1, n):
            i, j = (a, b) if ids[a] < ids[b] else (b, a)
            ham = int(bin(int(hashes[i] ^ hashes[j])).count("1"))
            if ham <= 6:
                out_rows.append((int(ids[i]), int(ids[j]), ham))
    out = pd.DataFrame(out_rows, columns=["doc_a", "doc_b", "hamming"])
    return out.astype({"doc_a": "int64", "doc_b": "int64", "hamming": "int64"})


def _fold_dot(a: np.ndarray, b: np.ndarray) -> float:
    """Left-to-right fold sum (matches Spark's ``aggregate`` order exactly;
    np.cumsum is sequential, unlike np.dot's pairwise/BLAS summation)."""
    return float(np.cumsum(a * b)[-1])


def _b_lsh_topk(sf_dir: str) -> pd.DataFrame:
    """Brute-force re-derivation of lsh_topk: same hyperplanes (seeded), a
    pair is a candidate iff its sign-bit key matches in ANY of the 16
    tables; exact cosine re-rank with Spark's fold order; top-5 by
    (-cosine, neighbor_id)."""
    from ..operators.similarity import random_hyperplanes

    n_planes, n_tables, dim, k = 4, 16, 64, 5
    emb = _read_embeddings(sf_dir)
    ids = emb["vec_id"].to_numpy()
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])
    all_planes = np.vstack(
        [random_hyperplanes(dim, n_planes, seed=977 + t) for t in range(n_tables)]
    )
    signs = (m @ all_planes.T) >= 0
    signs = signs.reshape(len(m), n_tables, n_planes)
    weights = np.array([1 << i for i in range(n_planes)], dtype=np.int64)
    keys = (signs * weights).sum(axis=2)  # (n, tables)

    q_mask = ids < 5
    out_rows = []
    for qi in np.where(q_mask)[0]:
        collide = (keys == keys[qi]).any(axis=1)
        collide[ids == ids[qi]] = False
        nq = np.sqrt(np.cumsum(m[qi] * m[qi])[-1])
        scored = []
        for ci in np.where(collide)[0]:
            nc = np.sqrt(np.cumsum(m[ci] * m[ci])[-1])
            cos = _fold_dot(m[qi], m[ci]) / (nq * nc)
            scored.append((cos, int(ids[ci])))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            out_rows.append((int(ids[qi]), nid, rank))
    out = pd.DataFrame(out_rows, columns=["query_id", "neighbor_id", "rank"])
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64"})


def _b_ivf_topk(sf_dir: str) -> pd.DataFrame:
    """Brute-force re-derivation of ivf_topk: deterministic Lloyd's
    (init = smallest-id vectors, squared-euclidean argmin assignment,
    centroid update = exact int64 sums of 1e-6-quantized values / count —
    integer addition commutes, so Spark's partition-order agg and this
    single-process sum are BIT-identical), nprobe nearest centroids per
    query, exact cosine re-rank with Spark's fold order."""
    n_clusters, nprobe, iters, k = 16, 4, 3, 5
    emb = _read_embeddings(sf_dir).sort_values("vec_id").reset_index(drop=True)
    ids = emb["vec_id"].to_numpy()
    m = np.asarray([np.asarray(v, dtype=np.float64) for v in emb["embedding"]])

    cents = np.round(m[:n_clusters].copy(), 6)

    def assign(cmat):
        c_sq = (cmat * cmat).sum(axis=1)
        d = c_sq[None, :] - 2.0 * (m @ cmat.T)
        return np.argmin(d, axis=1)

    for _ in range(iters):
        a = assign(cents)
        new = cents.copy()
        for cid in range(n_clusters):
            members = m[a == cid]
            if len(members):
                # same IEEE ops as the engine's F.floor(val*1e6 + 0.5)
                q = np.floor(members * 1e6 + 0.5).astype(np.int64)
                new[cid] = (q.sum(axis=0) / len(members)) / 1e6
        cents = np.round(new, 6)

    final_assign = assign(cents)
    c_sq = (cents * cents).sum(axis=1)
    out_rows = []
    for qi in np.where(ids < 5)[0]:
        d = c_sq - 2.0 * (cents @ m[qi])
        probe = set(np.lexsort((np.arange(len(d)), d))[:nprobe].tolist())
        nq = np.sqrt(np.cumsum(m[qi] * m[qi])[-1])
        scored = []
        for ci in range(len(ids)):
            if ids[ci] == ids[qi] or final_assign[ci] not in probe:
                continue
            nc = np.sqrt(np.cumsum(m[ci] * m[ci])[-1])
            cos = _fold_dot(m[qi], m[ci]) / (nq * nc)
            scored.append((cos, int(ids[ci])))
        scored.sort(key=lambda t: (-t[0], t[1]))
        for rank, (_, nid) in enumerate(scored[:k], start=1):
            out_rows.append((int(ids[qi]), nid, rank))
    out = pd.DataFrame(out_rows, columns=["query_id", "neighbor_id", "rank"])
    return out.astype({"query_id": "int64", "neighbor_id": "int64",
                       "rank": "int64"})


def _b_winnow(sf_dir: str) -> pd.DataFrame:
    """Independent re-derivation of winnow_table: per-position polynomial
    hashes computed directly (pow-mod per k-gram, NO rolling update) and
    the robust-winnowing rightmost-min selection expressed via a reversed
    enumerate scan — same spec (kgram_hash formula), different code path,
    so the kernel's rolling arithmetic is cross-checked."""
    from ..kernel.textstats import WINNOW_BASE, WINNOW_MOD

    k, w = 8, 4
    pows = [pow(WINNOW_BASE, k - 1 - j, WINNOW_MOD) for j in range(k)]

    def direct_hash(s):
        return sum(ord(c) * p for c, p in zip(s, pows)) % WINNOW_MOD

    rows = []
    docs = _read_documents(sf_dir, max_id=1 << 62)
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        s = (text or "").lower()
        if not s:
            continue
        if len(s) < k:
            h = 0
            for c in s:
                h = (h * WINNOW_BASE + ord(c)) % WINNOW_MOD
            rows.append((int(doc_id), h))
            continue
        hs = [direct_hash(s[i:i + k]) for i in range(len(s) - k + 1)]
        sel = set()
        for start in range(max(len(hs) - w + 1, 1)):
            window = hs[start:start + w]
            m = min(window)
            rightmost = max(j for j, v in enumerate(window) if v == m)
            sel.add(window[rightmost])
        rows.extend((int(doc_id), h) for h in sorted(sel))
    out = pd.DataFrame(rows, columns=["doc_id", "fingerprint"])
    return out.astype({"doc_id": "int64", "fingerprint": "int64"})


# ---------------------------------------------------------------------------
# registry + materialization
# ---------------------------------------------------------------------------


def _b_render_png(sf_dir: str) -> pd.DataFrame:
    """Single-process re-run of the render_debug_png per-payload kernel
    (the extraction-query oracle pattern: proves the DISTRIBUTED plan
    preserves the deterministic single-process result; the renderer's own
    pixel correctness is gated by tests/test_display.py)."""
    from ..operators.multimodal import _RENDER_COLS, _render_rows

    rows = []
    for url, payload in _read_corpus(sf_dir):
        rows.extend(_render_rows(url, payload, 36.0))
    out = pd.DataFrame(rows, columns=_RENDER_COLS)
    out["page_number"] = out["page_number"].astype("int32")
    for c in ("width_px", "height_px", "png_bytes"):
        out[c] = out[c].astype("Int32")
    return out

_BUILDERS = {
    "extract_text": _b_extract_text,
    "extract_text_layout": _b_extract_text_layout,
    "extract_text_dedupe": _b_extract_text_dedupe,
    # page-salted extraction must be byte-identical to the unsalted plan —
    # same expected table checks the salting machinery itself
    "extract_text_salted": _b_extract_text,
    "document_text": _b_document_text,
    "extract_words": _b_extract_words,
    "extract_tables": _b_extract_tables,
    "extract_tables_stream": _b_extract_tables_stream,
    "extract_objects": _b_extract_objects,
    "search": _b_search,
    "text_lines": _b_text_lines,
    "hyperlinks": _b_hyperlinks,
    "metadata": _b_metadata,
    "structure": _b_structure,
    "image_metadata": _b_image_metadata,
    "image_stats": _b_image_stats,
    "render_png": _b_render_png,
    "winnow": _b_winnow,
    "minhash_pairs": _b_minhash_pairs,
    "minhash_pairs_full": _b_minhash_pairs_full,
    "minhash_pairs_skewed": _b_minhash_pairs_skewed,
    "simhash_pairs": _b_simhash_pairs,
    "lsh_topk": _b_lsh_topk,
    "ivf_topk": _b_ivf_topk,
}


def expected_dir(sf_dir: str) -> str:
    sf = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return (
        f"/tmp/spark_graft_expected_v{CORPUS_VERSION}.{EXPECTED_VERSION}_{sf}"
    )


def expected_paths(sf_dir: str) -> Dict[str, str]:
    """Materialize (once, cached in /tmp) and return {query: parquet path}."""
    base = expected_dir(sf_dir)
    marker = os.path.join(base, ".done")
    paths = {
        name: os.path.join(base, f"{name}.parquet") for name in _BUILDERS
    }
    # The marker alone is NOT trusted: a cache dir written before a builder
    # was ADDED would silently satisfy the marker check while missing that
    # builder's parquet (exactly how image_stats lost its round-4 driver
    # row). Rebuild any absent output even when the marker exists.
    missing = {
        name: p for name, p in paths.items() if not os.path.exists(p)
    }
    if os.path.exists(marker) and not missing:
        return paths
    os.makedirs(base, exist_ok=True)
    todo = missing if os.path.exists(marker) else paths
    for name in todo:
        df = _BUILDERS[name](sf_dir)
        df.to_parquet(paths[name], engine="pyarrow", index=False)
    with open(marker, "w") as f:
        f.write("ok\n")
    return paths
