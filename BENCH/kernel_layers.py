"""Serial per-layer kernel times of one or more checkouts over a perfbench
input, run interleaved so the checkouts share the machine's state.

    python3 BENCH/kernel_layers.py [--workload text_mixed] [--seed 1]
                                   [--rounds 3] CHECKOUT [CHECKOUT ...]

The input is ``perfbench.inputs.make_input(workload, seed)`` of this
checkout, or with ``--workload shapes`` the ``BENCH/shapes.py`` corpus
(200 one-page PDFs of hand-written content streams) at that seed; its PDF
payloads are written once to a temporary file. Each round
runs every checkout once, each in a fresh process that imports
``pdfplumber_spark`` from that checkout, in an order that alternates from
round to round. A run walks every PDF payload serially, as the plans do,
and sums the wall time of each layer:

- ``parse_pdf``: ``parse_pdf(payload, style=False)``;
- ``from_interp``: ``CharArrays.from_interp`` of each page with chars;
- ``extract_words_ca``: default-settings words of each such page;
- ``page_text_ca``: its plain text (this includes its own words pass);
- ``page_textmap``: its plain textmap, the text with per-char provenance
  that search and text lines read (also with its own words pass);
- ``find_tables``: ``EdgeArrays.from_interp`` and the default (lines)
  ``find_tables`` of every page;
- ``table_text``: ``extract_table_text`` of each table found (one word
  pass per cell).

Prints, per checkout, the median and the range of each layer over the
rounds, then one JSON line with every run and the ``cpus`` the runs had.
"""

import argparse
import inspect
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LAYERS = ("parse_pdf", "from_interp", "extract_words_ca", "page_text_ca",
          "page_textmap", "find_tables", "table_text")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def run_layers(checkout: str, inputs: str) -> dict:
    """One serial pass over the payloads in ``inputs`` with the package
    of ``checkout``: seconds per layer, and the pages and chars seen."""
    sys.path.insert(0, checkout)
    from pdfplumber_spark.kernel import tables as T
    from pdfplumber_spark.kernel.layout import page_text_ca, page_textmap
    from pdfplumber_spark.kernel.pdfparse import parse_pdf
    from pdfplumber_spark.kernel.words import CharArrays, WordSettings, extract_words_ca

    # an older kernel builds a DataFrame unless told not to
    words_kw = ({"as_frame": False} if "as_frame" in
                inspect.signature(extract_words_ca).parameters else {})
    with open(inputs, "rb") as f:
        payloads = pickle.load(f)
    secs = dict.fromkeys(LAYERS, 0.0)
    pages = chars = 0
    clock = time.perf_counter

    def timed(layer, fn, *args, **kwargs):
        t0 = clock()
        out = fn(*args, **kwargs)
        secs[layer] += clock() - t0
        return out

    for data in payloads:
        try:
            interps = timed("parse_pdf", parse_pdf, data, style=False)
        except Exception:  # noqa: BLE001 - a broken payload has no pages
            continue
        for it in interps:
            pages += 1
            ca = None
            if it.n_chars:
                chars += it.n_chars
                ca = timed("from_interp", CharArrays.from_interp, it)
                timed("extract_words_ca", extract_words_ca, ca, WordSettings(),
                      **words_kw)
                timed("page_text_ca", page_text_ca, ca, WordSettings())
                timed("page_textmap", page_textmap, ca, WordSettings())
            edges = timed("find_tables", T.EdgeArrays.from_interp, it)
            tables = timed("find_tables", T.find_tables, edges,
                           page_bbox=(0.0, 0.0, it.width, it.height))
            if ca is not None:
                for cells in tables:
                    timed("table_text", T.extract_table_text, cells, ca)
    return {"secs": {k: round(v, 4) for k, v in secs.items()},
            "docs": len(payloads), "pages": pages, "chars": chars}


def write_payloads(workload: str, seed: int, path: str) -> int:
    sys.path.insert(0, HERE)
    if workload == "shapes":
        sys.path.insert(0, os.path.join(HERE, "BENCH"))
        from shapes import shapes_rows
        rows = shapes_rows(seed=seed)
    else:
        from perfbench.inputs import make_input
        rows = make_input(workload, seed)

    payloads = [bytes(d["html"]) for d in rows
                if isinstance(d["html"], (bytes, bytearray))
                and bytes(d["html"][:5]) == b"%PDF-"]
    with open(path, "wb") as f:
        pickle.dump(payloads, f)
    return len(payloads)


def main() -> None:
    if sys.argv[1:2] == ["--child"]:
        print(json.dumps(run_layers(sys.argv[2], sys.argv[3])))
        return
    ap = argparse.ArgumentParser()
    ap.add_argument("checkouts", nargs="+")
    ap.add_argument("--workload", default="text_mixed")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--rounds", type=int, default=3)
    args = ap.parse_args()
    checkouts = [os.path.abspath(c) for c in args.checkouts]
    tmp = tempfile.mkdtemp(prefix="kernel_layers-")
    try:
        inputs = os.path.join(tmp, "payloads.pkl")
        n = write_payloads(args.workload, args.seed, inputs)
        print(f"{args.workload} seed {args.seed}: {n} PDF payloads, "
              f"cpus {cpus()}", file=sys.stderr)
        runs = {c: [] for c in checkouts}
        for r in range(args.rounds):
            for c in checkouts[::-1] if r % 2 else checkouts:
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--child", c, inputs],
                    check=True, capture_output=True, text=True).stdout
                runs[c].append(json.loads(out.splitlines()[-1]))
                print(f"round {r} {c}: {runs[c][-1]['secs']}", file=sys.stderr)
    finally:
        shutil.rmtree(tmp)
    for c in checkouts:
        print(c)
        for layer in LAYERS:
            v = [run["secs"][layer] for run in runs[c]]
            print(f"  {layer:17s} median {statistics.median(v):7.3f} s  "
                  f"range {min(v):.3f}-{max(v):.3f}")
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "cpus": cpus(), "runs": runs}))


if __name__ == "__main__":
    main()
