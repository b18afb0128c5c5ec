"""Hash the extraction outputs of a checkout, to show a refactor changes none.

    python3 BENCH/output_hashes.py [CHECKOUT [CORPUS ...]]

Imports ``pdfplumber_spark`` from CHECKOUT (default: this checkout) and
prints one sha256 prefix per (corpus, surface):

- the per-payload plan rows: text rows (layout x dedupe), word rows (default
  settings, ``extra_attrs`` with plain and style columns, non-default
  tolerances), table rows (lines, lines_strict, text, explicit and mixed
  strategies), search and text-line match rows;
- the single-document facade: ``extract_text`` plain/layout, ``search``
  plain/layout, ``extract_text_lines``, ``dedupe_chars().extract_text``,
  ``extract_words`` with ``extra_attrs``, and ``find_tables`` /
  ``extract_tables`` / ``debug_tablefinder`` under every table strategy,
  numeric and object-dict explicit lines included.

Word and match rows are hashed flattened across the frames a payload
returns, so a per-page or per-payload frame split hashes the same. The
corpora are ``sources.corpus.generate_rows`` inputs (the sizes the sf0.01
and sf0.1 pages corpora use, 80 and 400 docs at seed 42, and two more
seeds) plus ``ruled``: ``kernel.pdfgen`` pages whose tables are ruled by
lines, rects or curves, with split and jittered rulings. Name corpora after
the checkout to hash only those. Run it on two checkouts and diff the
output; single process, no Spark.
"""

import hashlib
import os
import random
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, sys.argv[1] if len(sys.argv) > 1 else HERE)

import pdfplumber_spark.api as pdfplumber  # noqa: E402
from pdfplumber_spark.kernel.pdfgen import make_pdf  # noqa: E402
from pdfplumber_spark.kernel.words import WordSettings  # noqa: E402
from pdfplumber_spark.plans import extract as X  # noqa: E402
from pdfplumber_spark.plans import search as S  # noqa: E402
from pdfplumber_spark.sources.corpus import generate_rows  # noqa: E402

# the lattice family's column rulings (corpus._pdf_table_lattice), as ints
EXPLICIT_V = [72, 172, 272, 372, 472]
EXPLICIT_H = [100, 126, 152, 178]

WORD_SETTINGS = {
    "default": WordSettings(),
    "extra=fontname,size": WordSettings(extra_attrs=("fontname", "size")),
    "extra=non_stroking_color": WordSettings(extra_attrs=("non_stroking_color",)),
    "blank,xtol=1.5": WordSettings(keep_blank_chars=True, x_tolerance=1.5),
}

TABLE_SETTINGS = {
    "lines": {},
    "lines_strict": dict(vertical_strategy="lines_strict",
                         horizontal_strategy="lines_strict"),
    "text": dict(vertical_strategy="text", horizontal_strategy="text"),
    "explicit_v": dict(vertical_strategy="explicit",
                       explicit_vertical_lines=EXPLICIT_V),
    "explicit": dict(vertical_strategy="explicit",
                     explicit_vertical_lines=EXPLICIT_V,
                     horizontal_strategy="explicit",
                     explicit_horizontal_lines=EXPLICIT_H),
    "lines_v,text_h,nosnap": dict(horizontal_strategy="text",
                                  snap_tolerance=0, join_y_tolerance=1),
}


def ruled_rows(n_docs: int = 60, seed: int = 5) -> list:
    """One-page lattice PDFs ruled by lines (split, jittered), rects (one
    per cell) or curves (L-shaped polylines plus a diagonal), with text in
    the cells and prose under the table."""
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        nx, ny = rng.randint(2, 5), rng.randint(2, 6)
        x0, top = rng.choice([60.0, 72.5]), rng.choice([90.0, 101.25])
        cw, rh = rng.choice([80.0, 95.5]), rng.choice([22.0, 26.5])
        xs = [x0 + i * cw for i in range(nx + 1)]
        ys = [top + j * rh for j in range(ny + 1)]
        page = {"width": 612, "height": 792, "lines": [], "rects": [],
                "curves": [], "texts": []}
        kind = ("lines", "rects", "curves")[d % 3]

        def jit():
            return round(rng.uniform(-1.2, 1.2), 2)

        if kind == "lines":
            for x in xs:
                xj = x + jit()
                if rng.random() < 0.5:
                    mid = ys[0] + rh * rng.randint(1, ny - 1) + jit()
                    gap = rng.choice([0.0, 1.5])
                    page["lines"].append({"x0": xj, "top": ys[0], "x1": xj, "bottom": mid})
                    page["lines"].append({"x0": xj, "top": mid + gap, "x1": xj, "bottom": ys[-1]})
                else:
                    page["lines"].append({"x0": xj, "top": ys[0], "x1": xj, "bottom": ys[-1]})
            for y in ys:
                yj = y + jit()
                page["lines"].append({"x0": xs[0], "top": yj, "x1": xs[-1], "bottom": yj})
        elif kind == "rects":
            for i in range(nx):
                for j in range(ny):
                    page["rects"].append({
                        "x0": xs[i] + jit(), "top": ys[j] + jit(),
                        "x1": xs[i + 1], "bottom": ys[j + 1],
                    })
        else:
            for j, y in enumerate(ys[:-1]):
                page["curves"].append(
                    {"pts": [(xs[0], y), (xs[-1], y), (xs[-1], ys[j + 1])]})
            page["curves"].append({"pts": [(xs[0], ys[-1]), (xs[-1], ys[-1])]})
            for x in xs[:-1]:
                page["curves"].append(
                    {"pts": [(x, ys[0]), (x, ys[-1]), (x + 9.0, ys[-1] + 9.0)]})
        for i in range(nx):
            for j in range(ny):
                if rng.random() < 0.85:
                    page["texts"].append({
                        "x": xs[i] + 4.0, "top": ys[j] + 5.0, "size": 9,
                        "text": f"r{j}c{i} {rng.choice(['alpha', 'beta', 'gamma'])}",
                    })
        page["texts"].append({"x": 72.0, "top": ys[-1] + 30.0, "size": 11,
                              "text": "Prose under the table, unruled."})
        rows.append({"url": f"ruled/{d}", "html": make_pdf([page])})
    return rows


CORPORA = {
    "sf0.01": lambda: generate_rows(n_docs=80, seed=42),
    "sf0.1": lambda: generate_rows(n_docs=400, seed=42),
    "seed7": lambda: generate_rows(n_docs=120, seed=7, mega_pages=6),
    "seed123": lambda: generate_rows(n_docs=120, seed=123),
    "ruled": ruled_rows,
}


def frames_repr(frames) -> str:
    return repr([rec for f in frames for rec in f.to_dict("records")])


def outcome(fn):
    """The call's result, or its exception type and message."""
    try:
        return fn()
    except Exception as e:  # noqa: BLE001 - an error is an output too
        return f"ERR:{type(e).__name__}:{e}"


def facade_text(payload) -> list:
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


def facade_words_tables(payload) -> list:
    out = []
    with pdfplumber.open(bytes(payload)) as pdf:
        for p in pdf.pages:
            for attrs in (("fontname", "size"), ("non_stroking_color",)):
                out.append(outcome(lambda: p.extract_words(extra_attrs=attrs)))
            obj_lines = p.rects[:3] + p.lines[:3] + p.curves[:2]
            for ts in list(TABLE_SETTINGS.values()) + [
                dict(horizontal_strategy="explicit",
                     explicit_horizontal_lines=obj_lines)
            ]:
                out.append(outcome(lambda: [
                    (t.cells, t.bbox) for t in p.find_tables(ts)]))
                out.append(outcome(lambda: p.extract_tables(ts)))

                def debug():
                    d = p.debug_tablefinder(ts)
                    return (d.edges, d.intersections, d.cells,
                            [t.cells for t in d.tables])
                out.append(outcome(debug))
    return out


def main() -> None:
    names = sys.argv[2:] or list(CORPORA)
    for name in names:
        hashes: dict = {}

        def add(key, val):
            hashes.setdefault(key, hashlib.sha256()).update(repr(val).encode())

        for r in CORPORA[name]():
            url, payload = r["url"], r["html"]
            for layout in (False, True):
                for dedupe in (False, True):
                    add(f"text_rows[layout={layout},dedupe={dedupe}]",
                        X._payload_to_text_rows(url, payload, layout, dedupe))
            for wname, ws in WORD_SETTINGS.items():
                add(f"word_rows[{wname}]", outcome(lambda: frames_repr(
                    X._payload_to_word_frames(url, payload, ws))))
            for tname, ts in TABLE_SETTINGS.items():
                add(f"table_rows[{tname}]", outcome(
                    lambda: X._payload_to_table_rows(url, payload, **ts)))
            add("match_rows[search]", frames_repr(S._payload_to_match_frames(
                url, payload, r"[a-z]{6,}", True, True, False)))
            add("match_rows[lines]", frames_repr(S._payload_to_match_frames(
                url, payload, "", True, True, True)))
            if payload is not None and bytes(payload)[:5] == b"%PDF-":
                add("facade[text,layout,search,lines,dedupe]",
                    outcome(lambda: facade_text(payload)))
                add("facade[words,find_tables,extract_tables,debug]",
                    outcome(lambda: facade_words_tables(payload)))
        for key, h in hashes.items():
            print(f"{name:8s} {key:48s} {h.hexdigest()[:16]}", flush=True)


if __name__ == "__main__":
    main()
