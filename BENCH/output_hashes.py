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
  numeric and object-dict explicit lines included; ``extract_tables``
  under each cell text setting of ``TABLE_TEXT_SETTINGS``, one
  ``facade[table_text_settings:<name>]`` key each (layout, its
  densities, shift, width in chars and render directions);
- the facade's object surfaces: ``chars``/``lines``/``rects``/``curves``/
  ``images`` records; ``crop``, ``within_bbox``, ``outside_bbox`` and
  ``filter`` pages, each read through ``chars``, ``extract_text``,
  ``extract_words`` and ``extract_tables``; ``dedupe_chars().chars``,
  ``extract_text_simple``, ``to_json(precision=3)`` and ``to_csv``; the
  char order and textline/textbox records under ``laparams={}``; and the
  ``utils`` char helpers over ``page.chars``;
- ``page.edges``, and for each derived page its ``lines``/``rects``/
  ``curves``, ``images``, ``edges`` with ``debug_tablefinder()``, ``bbox``
  and ``dedupe_chars().bbox``, one key per surface;
- the per-payload objects rows (``_payload_to_objects``, with
  ``laparams=None`` and ``{}``), as the ``OBJECTS_SCHEMA`` values Spark
  stores for them.

Word and match rows are hashed flattened across the frames a payload
returns, so a per-page or per-payload frame split hashes the same. The
corpora are ``sources.corpus.generate_rows`` inputs (the sizes the sf0.01
and sf0.1 pages corpora use, 80 and 400 docs at seed 42, and two more
seeds) plus ``ruled``: ``kernel.pdfgen`` pages whose tables are ruled by
lines, rects or curves, with split and jittered rulings, and ``shapes``
(``BENCH/shapes.py``): hand-written content streams in the shapes real
producers write (TJ kerning, a Tj per word, the text-state operators,
hex and escaped strings, marked content, inline images, nested q/Q and
dense paths).

The ``textmap`` key hashes, per corpus, each PDF page's ``page_textmap``
text and provenance bytes, plain and in layout over the page bbox, its
width and height passed explicitly (a ``None`` textmap, which older
kernels gave a page with no words, reads as an empty one), so provenance
is checked byte for byte, not only through the match rows.

The ``parser`` surface hashes, per corpus and for ``style`` False and True,
every page's parser buffers below any rounding: ``ch_text``, ``ch_font``,
``ch_cid``, ``mc_spans``, the bytes of ``ch_num``, ``ch_style`` and the
line, rect and curve rows, so a parser refactor can show bit identity.

The ``fixtures`` surface hashes, per corpus, every ``(url, payload bytes)``
pair the generators write (``kernel.pdfgen.make_pdf`` and
``kernel.pdfcrypt.encrypt_pdf`` included), so a change to the PDF writer
shows whether the inputs of every other surface stayed byte-identical.

The ``spark`` surface starts a local Spark session (4 cores) and hashes,
per Spark plan (the payload plans of ``plans.extract``, ``plans.search`` and
``operators.multimodal``) over the ``ruled`` and ``seed7`` corpora, the
collected rows sorted, and the ``executedPlan`` string of each of those
plans and of every ``__spark_entry__.queries()`` entry (over
``$SPARK_GRAFT_TESTDATA/sf0.001``; the variable must be set). Plan strings
are normalised: ``#<id>`` expression ids, ``plan_id=<n>`` and the Python
function name of ``MapInPandas`` are stripped.

Name corpora (or ``fixtures``, ``parser``, ``spark``) after the checkout to
hash only those. Run it on two checkouts and diff the output.
"""

import hashlib
import os
import random
import re
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHECKOUT = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else HERE)
sys.path.insert(0, CHECKOUT)
# Spark's Python workers import the package from PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (CHECKOUT, os.environ.get("PYTHONPATH")) if p)

import pdfplumber_spark.api as pdfplumber  # noqa: E402
from pdfplumber_spark import utils  # noqa: E402
from pdfplumber_spark.kernel.pdfgen import make_pdf  # noqa: E402
from pdfplumber_spark.kernel.words import WordSettings  # noqa: E402
from pdfplumber_spark.plans import extract as X  # noqa: E402
from pdfplumber_spark.plans import search as S  # noqa: E402
from pdfplumber_spark.schemas import OBJECTS_SCHEMA  # noqa: E402
from pdfplumber_spark.sources.corpus import generate_rows  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from shapes import shapes_rows  # noqa: E402

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


# text settings of table cells: layout alone, each layout geometry and
# render direction with it, and a render direction in plain mode
LAYOUT = {"text_layout": True}
TABLE_TEXT_SETTINGS = {
    "layout": LAYOUT,
    "layout,x_density=3": dict(LAYOUT, text_x_density=3),
    "layout,y_density=5": dict(LAYOUT, text_y_density=5),
    "layout,x_shift=10": dict(LAYOUT, text_x_shift=10),
    "layout,line_dir_render=btt": dict(LAYOUT, text_line_dir_render="btt"),
    "layout,char_dir_render=rtl": dict(LAYOUT, text_char_dir_render="rtl"),
    "layout,layout_width_chars=40": dict(LAYOUT, text_layout_width_chars=40),
    "char_dir_render=rtl": {"text_char_dir_render": "rtl"},
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
    "shapes": shapes_rows,
}


def frames_repr(frames) -> str:
    return repr([rec for f in frames for rec in f.to_dict("records")])


def spark_value(v, dtype):
    """``v`` as Spark stores it in a ``dtype`` field: NaN as null, numbers
    as the field's type, struct fields in schema order."""
    from pyspark.sql import types as T

    if v is None or (isinstance(v, float) and v != v):
        return None
    if isinstance(dtype, T.ArrayType):
        return [spark_value(x, dtype.elementType) for x in v]
    if isinstance(dtype, T.StructType):
        return tuple(spark_value(v[f.name], f.dataType) for f in dtype.fields)
    if isinstance(dtype, T.IntegerType):
        return int(v)
    if isinstance(dtype, T.DoubleType):
        return float(v)
    if isinstance(dtype, T.BooleanType):
        return bool(v)
    return str(v)


def objects_repr(frames) -> str:
    """``_payload_to_objects`` rows as the ``OBJECTS_SCHEMA`` values Spark
    stores for them, so the frames' dtypes do not count."""
    fields = OBJECTS_SCHEMA.fields
    return repr([tuple(spark_value(rec[f.name], f.dataType) for f in fields)
                 for f in frames for rec in f.to_dict("records")])


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
                out.append(outcome(
                    lambda: tablefinder_state(p.debug_tablefinder(ts))))
    return out


def facade_table_text(payload, ts: dict) -> list:
    """Each page's ``extract_tables`` under the text settings ``ts``."""
    with pdfplumber.open(bytes(payload)) as pdf:
        return [outcome(lambda: p.extract_tables(ts)) for p in pdf.pages]


def tablefinder_state(d) -> tuple:
    """A ``debug_tablefinder()`` result's edges, intersections, cells and
    table cells."""
    return (d.edges, d.intersections, d.cells, [t.cells for t in d.tables])


def derived_pages(p) -> dict:
    """name -> the derived pages of ``p`` the object surfaces hash."""
    w, h = p.width, p.height
    bbox = (w * 0.15, h * 0.1, w * 0.6, h * 0.55)
    return {
        "crop": lambda: p.crop(bbox),
        "within_bbox": lambda: p.within_bbox(bbox),
        "outside_bbox": lambda: p.outside_bbox(bbox),
        "filter": lambda: p.filter(lambda o: o["x0"] < 300),
    }


def facade_objects(payload) -> list:
    out = []
    with pdfplumber.open(bytes(payload)) as pdf:
        for p in pdf.pages:
            for kind in ("chars", "lines", "rects", "curves", "images"):
                out.append(outcome(lambda: getattr(p, kind)))
            for name, derive in derived_pages(p).items():
                out.append(name)
                out.append(outcome(lambda: derive().chars))
                out.append(outcome(lambda: derive().extract_text()))
                out.append(outcome(lambda: derive().extract_words()))
                out.append(outcome(lambda: derive().extract_tables()))
            out.append(outcome(lambda: p.dedupe_chars().chars))
            out.append(outcome(lambda: p.extract_text_simple()))
            out.append(outcome(lambda: p.to_json(precision=3)))
            out.append(outcome(lambda: p.to_csv()))
            chars = p.chars
            out.append(outcome(lambda: utils.extract_text(chars)))
            out.append(outcome(lambda: utils.extract_text(chars, layout=True)))
            out.append(outcome(lambda: utils.extract_text_simple(chars)))
            out.append(outcome(lambda: utils.extract_words(chars)))
            out.append(outcome(lambda: utils.collate_line(chars)))
            out.append(outcome(lambda: utils.dedupe_chars(chars)))
    return out


# the surfaces hashed for each derived page, one key each
DERIVED_SURFACES = {
    "lines,rects,curves": lambda d: (d.lines, d.rects, d.curves),
    "images": lambda d: d.images,
    "edges,debug": lambda d: (d.edges, tablefinder_state(d.debug_tablefinder())),
    "bbox": lambda d: d.bbox,
    "dedupe_chars.bbox": lambda d: d.dedupe_chars().bbox,
}


def facade_derived(payload) -> dict:
    """key -> per page: ``page.edges`` under "edges", and each
    :data:`DERIVED_SURFACES` value of each derived page."""
    out = {"edges": [], **{k: [] for k in DERIVED_SURFACES}}
    with pdfplumber.open(bytes(payload)) as pdf:
        for p in pdf.pages:
            out["edges"].append(outcome(lambda: p.edges))
            for name, derive in derived_pages(p).items():
                d = outcome(derive)
                for key, fn in DERIVED_SURFACES.items():
                    out[key].append((name, outcome(lambda: fn(d))))
    return out


def facade_laparams(payload) -> list:
    out = []
    with pdfplumber.open(bytes(payload), laparams={}) as pdf:
        for p in pdf.pages:
            out.append(outcome(lambda: [(c["text"], c["x0"], c["top"])
                                        for c in p.chars]))
            out.append(outcome(lambda: (p.textlinehorizontals,
                                        p.textboxhorizontals)))
    return out


def parser_buffers(payload, style: bool) -> list:
    """Each page's parser buffers, the ``parser`` surface."""
    from pdfplumber_spark.kernel.pdfparse import parse_pdf

    return [(it.ch_text, it.ch_font, it.ch_cid, it.mc_spans,
             it.ch_num.tobytes(), it.ch_style, it.lines, it.rects, it.curves)
            for it in parse_pdf(bytes(payload), style=style)]


def textmaps(payload) -> list:
    """Each page's plain and layout ``page_textmap``: text and provenance
    bytes."""
    import numpy as np
    from pdfplumber_spark.kernel.layout import page_textmap
    from pdfplumber_spark.kernel.pdfparse import parse_pdf
    from pdfplumber_spark.kernel.words import CharArrays

    out = []
    for it in parse_pdf(bytes(payload), style=False):
        if it.n_chars:
            ca = CharArrays.from_interp(it)
            for layout in (False, True):
                text, prov = page_textmap(
                    ca, WordSettings(), layout, (0.0, 0.0, it.width, it.height),
                    layout_width=it.width, layout_height=it.height) or ("", ())
                out.append((text, np.asarray(prov, dtype=np.int64).tobytes()))
    return out


def fixture_hashes() -> None:
    for name, rows in CORPORA.items():
        h = hashlib.sha256()
        for r in rows():
            payload = r["html"]
            h.update(repr((r["url"], None if payload is None
                           else bytes(payload))).encode())
        print(f"{'fixtures':8s} {name:48s} {h.hexdigest()[:16]}", flush=True)


def parser_hashes() -> None:
    for name, rows in CORPORA.items():
        hashes = {style: hashlib.sha256() for style in (False, True)}
        for r in rows():
            payload = r["html"]
            if payload is None or bytes(payload)[:5] != b"%PDF-":
                continue
            for style, h in hashes.items():
                h.update(repr(outcome(
                    lambda: parser_buffers(payload, style))).encode())
        for style, h in hashes.items():
            print(f"{'parser':8s} {f'{name}[style={style}]':48s} "
                  f"{h.hexdigest()[:16]}", flush=True)


def spark_plans(pages) -> dict:
    """name -> DataFrame of every payload plan over ``pages``."""
    from pdfplumber_spark.operators import multimodal as M

    return {
        "extract_text": X.extract_text(pages),
        "extract_text[layout,dedupe]": X.extract_text(pages, layout=True, dedupe=True),
        "extract_objects": X.extract_objects(pages),
        "extract_objects[laparams]": X.extract_objects(pages, laparams={}),
        "extract_words": X.extract_words(pages),
        "extract_tables": X.extract_tables(pages),
        "extract_tables[text]": X.extract_tables(
            pages, vertical_strategy="text", horizontal_strategy="text"),
        "explode_skewed": X.explode_skewed(pages, page_threshold=3),
        "extract_text_salted": X.extract_text_salted(pages, page_threshold=3),
        "extract_structure": X.extract_structure(pages, with_text=True),
        "extract_page_meta": X.extract_page_meta(pages),
        "extract_metadata": X.extract_metadata(pages),
        "extract_annots": X.extract_annots(pages),
        "search_pages": S.search_pages(pages, r"[a-z]{6,}"),
        "extract_text_lines": S.extract_text_lines(pages),
        "image_metadata": M.image_metadata(pages),
        "pdf_image_stats": M.pdf_image_stats(pages),
        "render_debug_png": M.render_debug_png(pages),
    }


def normalized_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = re.sub(r"#\d+", "", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id", plan)
    return re.sub(r"MapInPandas \w+\(", "MapInPandas (", plan)


def spark_hashes() -> None:
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    import pdfplumber_spark
    from pdfplumber_spark.session import get_spark

    testdata = os.environ.get("SPARK_GRAFT_TESTDATA")
    if not testdata:
        sys.exit("the spark surface needs SPARK_GRAFT_TESTDATA, the directory "
                 "holding the sf0.001 tables")

    def digest(val) -> str:
        return hashlib.sha256(repr(val).encode()).hexdigest()[:16]

    spark = get_spark(app_name="output-hashes", cores=4, shuffle_partitions=8)
    tmp = os.path.join(tempfile.gettempdir(), "output_hashes")
    os.makedirs(tmp, exist_ok=True)
    try:
        for name in ("ruled", "seed7"):
            path = os.path.join(tmp, f"{name}.parquet")
            rows = [{"url": r["url"], "html": r["html"]} for r in CORPORA[name]()]
            pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
                [("url", pa.string()), ("html", pa.binary())])), path)
            pages = X.read_pages(spark, path)
            for key, df in spark_plans(pages).items():
                rows = sorted((tuple(r) for r in df.collect()), key=repr)
                print(f"{name:8s} {'spark_rows[' + key + ']':48s} {digest(rows)}", flush=True)
                print(f"{name:8s} {'spark_plan[' + key + ']':48s} "
                      f"{digest(normalized_plan(df))}", flush=True)
        sf = os.path.join(testdata, "sf0.001")
        for key, q in E.queries().items():
            print(f"{'board':8s} {'spark_plan[' + key + ']':48s} "
                  f"{digest(normalized_plan(q(spark, sf)))}", flush=True)
            pdfplumber_spark.unpersist_all()
    finally:
        spark.stop()


def main() -> None:
    names = sys.argv[2:] or list(CORPORA) + ["fixtures", "parser", "spark"]
    for name in names:
        if name == "fixtures":
            fixture_hashes()
            continue
        if name == "spark":
            spark_hashes()
            continue
        if name == "parser":
            parser_hashes()
            continue
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
            for lap in (None, {}):
                add(f"objects_rows[laparams={lap}]", outcome(lambda: objects_repr(
                    X._payload_to_objects(url, payload, laparams=lap))))
            if payload is not None and bytes(payload)[:5] == b"%PDF-":
                add("facade[text,layout,search,lines,dedupe]",
                    outcome(lambda: facade_text(payload)))
                add("facade[words,find_tables,extract_tables,debug]",
                    outcome(lambda: facade_words_tables(payload)))
                add("facade[objects,derived,serialize,utils]",
                    outcome(lambda: facade_objects(payload)))
                add("facade[laparams]", outcome(lambda: facade_laparams(payload)))
                for tname, ts in TABLE_TEXT_SETTINGS.items():
                    add(f"facade[table_text_settings:{tname}]",
                        outcome(lambda: facade_table_text(payload, ts)))
                add("textmap", outcome(lambda: textmaps(payload)))
                derived = outcome(lambda: facade_derived(payload))
                for key in ("edges", *DERIVED_SURFACES):
                    add("facade[edges]" if key == "edges"
                        else f"facade[derived:{key}]",
                        derived if isinstance(derived, str) else derived[key])
        for key, h in hashes.items():
            print(f"{name:8s} {key:48s} {h.hexdigest()[:16]}", flush=True)


if __name__ == "__main__":
    main()
