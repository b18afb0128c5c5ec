"""Hash the text-path outputs of a checkout, to show a refactor changes none.

    python3 BENCH/output_hashes.py [CHECKOUT]

Imports ``pdfplumber_spark`` from CHECKOUT (default: this checkout) and
prints one sha256 prefix per (corpus, surface): the per-payload text rows
(layout x dedupe), word frames, table rows (lines and text strategies),
search and text-line match frames, and the single-document facade
(``extract_text`` plain/layout, ``search`` plain/layout,
``extract_text_lines``, ``dedupe_chars().extract_text``). The corpora are
``sources.corpus.generate_rows`` inputs: the sizes the sf0.01 and sf0.1
pages corpora use (80 and 400 docs, seed 42) and two more seeds. Run it on
two checkouts and diff the output; single process, no Spark.
"""

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, sys.argv[1] if len(sys.argv) > 1 else HERE)

import pdfplumber_spark.api as pdfplumber  # noqa: E402
from pdfplumber_spark.kernel.words import WordSettings  # noqa: E402
from pdfplumber_spark.plans import extract as X  # noqa: E402
from pdfplumber_spark.plans import search as S  # noqa: E402
from pdfplumber_spark.sources.corpus import generate_rows  # noqa: E402

CORPORA = {
    "sf0.01": dict(n_docs=80, seed=42),
    "sf0.1": dict(n_docs=400, seed=42),
    "seed7": dict(n_docs=120, seed=7, mega_pages=6),
    "seed123": dict(n_docs=120, seed=123),
}


def frames_repr(frames) -> str:
    return repr([f.to_dict("records") for f in frames])


def outcome(fn):
    """The call's result, or its exception type and message."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - an error is an output too
        return f"ERR:{type(e).__name__}:{e}"


def facade_outputs(payload) -> list:
    out = []
    with pdfplumber.open(bytes(payload)) as pdf:
        for p in pdf.pages:
            out.append(outcome(lambda: p.extract_text()))
            out.append(outcome(lambda: p.extract_text(layout=True)))
            out.append(outcome(lambda: p.search(r"[a-z]{6,}")))
            out.append(outcome(lambda: p.search(r"[A-Z][a-z]+", layout=True)))
            out.append(outcome(lambda: p.extract_text_lines()))
            out.append(outcome(lambda: p.dedupe_chars().extract_text()))
    return out


def main() -> None:
    for name, kw in CORPORA.items():
        hashes: dict = {}

        def add(key, val):
            hashes.setdefault(key, hashlib.sha256()).update(repr(val).encode())

        for r in generate_rows(**kw):
            url, payload = r["url"], r["html"]
            for layout in (False, True):
                for dedupe in (False, True):
                    add(f"text_rows[layout={layout},dedupe={dedupe}]",
                        X._payload_to_text_rows(url, payload, layout, dedupe))
            add("word_frames", frames_repr(
                X._payload_to_word_frames(url, payload, WordSettings())))
            add("table_rows[lines]", X._payload_to_table_rows(url, payload))
            add("table_rows[text]", X._payload_to_table_rows(
                url, payload, vertical_strategy="text",
                horizontal_strategy="text"))
            add("match_frames[search]", frames_repr(S._payload_to_match_frames(
                url, payload, r"[a-z]{6,}", True, True, False)))
            add("match_frames[lines]", frames_repr(S._payload_to_match_frames(
                url, payload, "", True, True, True)))
            if payload is not None and bytes(payload)[:5] == b"%PDF-":
                add("facade[text,layout,search,lines,dedupe]",
                    outcome(lambda: facade_outputs(payload)))
        for key, h in hashes.items():
            print(f"{name:8s} {key:42s} {h.hexdigest()[:16]}", flush=True)


if __name__ == "__main__":
    main()
