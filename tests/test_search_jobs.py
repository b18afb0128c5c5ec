"""Search plan + jobs CLI surfaces."""

import json
import os
import subprocess
import sys

import pytest

from pdfplumber_spark.plans.extract import extract_text, read_pages
from pdfplumber_spark.plans.search import extract_text_lines, search_pages
from pdfplumber_spark.sources.corpus import write_corpus_parquet


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    p = tmp_path_factory.mktemp("s") / "pages.parquet"
    write_corpus_parquet(str(p), n_docs=20, seed=5)
    return str(p)


def test_search_matches_have_bboxes(spark, corpus):
    pages = read_pages(spark, corpus)
    m = search_pages(pages, r"[a-z]{6,}", num_partitions=4).toPandas()
    assert len(m) > 0
    assert (m["x1"] > m["x0"]).all()
    assert (m["bottom"] > m["top"]).all()
    assert m["text"].str.match(r"[a-z]{6,}").all()


def test_text_lines_match_extracted_text(spark, corpus):
    pages = read_pages(spark, corpus)
    lines = extract_text_lines(pages, num_partitions=4).toPandas()
    assert len(lines) > 0
    # every extracted line must appear in the page's plain text
    ext = extract_text(pages, num_partitions=4).where("status='ok'").toPandas()
    text_by_key = {
        (r.url, r.page_number): r.text for r in ext.itertuples()
    }
    sample = lines.head(50)
    for r in sample.itertuples():
        page_text = text_by_key.get((r.url, r.page_number))
        if page_text is None:
            continue
        # layout-mode lines collapse to space-joined words in plain mode
        for w in r.text.split()[:3]:
            assert w in page_text, (r.url, w)


def test_jobs_cli_roundtrip(corpus, tmp_path):
    out = str(tmp_path / "cli")
    res = subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.jobs", "extract",
         "--input", corpus, "--output", out, "--local-cores", "2",
         "--buckets", "2"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["buckets_done"] == 2
    assert summary["pages_ok"] > 0


def test_jobs_cli_flag_parity(corpus, tmp_path):
    """Reference cli.py:23-66 flag surface on the Spark jobs CLI:
    --types/--pages/--include-attrs/--exclude-attrs/--precision + the
    structure sink."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfplumber_spark.kernel.pdfgen import make_pdf

    # the corpus plus one page whose text origin and rect corners carry
    # three decimals, so char matrices and rect pts need rounding
    table = pq.read_table(corpus)
    fractional = make_pdf([{
        "width": 612, "height": 792,
        "texts": [{"x": 72.123, "top": 72.456, "text": "Fraction"}],
        "rects": [{"x0": 100.123, "top": 200.456, "x1": 150.789,
                   "bottom": 250.321}],
    }])
    inp = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(
        table.to_pylist() + [{"url": "gen://fractional", "html": fractional}],
        schema=table.schema), inp)

    out = str(tmp_path / "objs")
    res = subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.jobs", "objects",
         "--input", inp, "--output", out, "--local-cores", "2",
         "--types", "char", "rect", "--pages", "1",
         "--include-attrs", "text", "x0", "top", "matrix", "pts",
         "--precision", "2"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    df = pd.read_parquet(out)
    assert set(df["object_type"]) <= {"char", "rect"}
    assert set(df["page_number"]) == {1}
    assert sorted(df.columns) == sorted(
        ["url", "page_number", "object_type", "text", "x0", "top", "matrix",
         "pts"]
    )
    # --precision 2: no more than 2 decimals survive
    assert (df["x0"].dropna() == df["x0"].dropna().round(2)).all()
    # ... nested doubles included: char matrix (array<double>) and rect
    # pts (array<struct<x,y>>)
    matrix = [v for m in df.loc[df["object_type"] == "char", "matrix"]
              for v in m]
    pts = [c for p in df.loc[df["object_type"] == "rect", "pts"]
           for pt in p for c in (pt["x"], pt["y"])]
    assert matrix and pts
    assert all(v == round(v, 2) for v in matrix)
    assert all(c == round(c, 2) for c in pts)

    out2 = str(tmp_path / "struct")
    res = subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.jobs", "structure-text",
         "--input", corpus, "--output", out2, "--local-cores", "2",
         "--format", "json"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0
    # at least one tagged doc should carry mcid text contents
    rows = []
    for fn in os.listdir(out2):
        if fn.endswith(".json"):
            rows += [json.loads(x) for x in open(os.path.join(out2, fn))
                     if x.strip()]
    trees = [json.loads(r["structure_json"]) for r in rows
             if r.get("structure_json")]
    texts = [
        el.get("text") for t in trees for el in _walk(t) if el.get("text")
    ]
    assert texts and any("".join(x).strip() for x in texts)


def _walk(elements):
    queue = list(elements)
    while queue:
        el = queue.pop(0)
        yield el
        queue.extend(el.get("children", []))


def test_jobs_cli_laparams(corpus, tmp_path, spark):
    """Reference cli.py:56 --laparams: objects output gains textline*/
    textbox* rows and char obj_index becomes pdfminer reading order,
    matching the api facade's laparams analysis per page."""
    import pandas as pd

    out = str(tmp_path / "lap")
    res = subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.jobs", "objects",
         "--input", corpus, "--output", out, "--local-cores", "2",
         "--laparams", "{}"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    df = pd.read_parquet(out)
    kinds = set(df["object_type"])
    assert "textlinehorizontal" in kinds
    assert "textboxhorizontal" in kinds

    # facade parity on one document
    import pdfplumber_spark.api as P

    src = pd.read_parquet(corpus)
    url = df[df["object_type"] == "textboxhorizontal"]["url"].iloc[0]
    payload = src[src["url"] == url]["html"].iloc[0]
    pdf = P.open(bytes(payload), laparams={})
    page = pdf.pages[0]
    got = (
        df[(df["url"] == url) & (df["page_number"] == 1)
           & (df["object_type"] == "textboxhorizontal")]
        .sort_values("obj_index")
    )
    exp = page.textboxhorizontals
    assert len(got) == len(exp)
    for (_, g), e in zip(got.iterrows(), exp):
        assert abs(g["x0"] - e["x0"]) < 1e-9
        assert g["text"] == e["text"]
    # char reading order == facade page.chars order
    got_chars = (
        df[(df["url"] == url) & (df["page_number"] == 1)
           & (df["object_type"] == "char")]
        .sort_values("obj_index")["text"].tolist()
    )
    exp_chars = [c["text"] for c in page.chars]
    assert got_chars == exp_chars


def test_jobs_cli_render(corpus, tmp_path):
    """spark-submit surface for the round-5 debug renderer: one row per
    page with PNG dims + sha256."""
    out = str(tmp_path / "render")
    res = subprocess.run(
        [sys.executable, "-m", "pdfplumber_spark.jobs", "render",
         "--input", corpus, "--output", out, "--local-cores", "2",
         "--resolution", "24"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["rows"] > 0
    import pandas as pd

    df = pd.read_parquet(out)
    ok = df[df["status"] == "ok"]
    assert len(ok) > 0
    assert ok["png_sha256"].str.len().eq(64).all()
    assert (ok["width_px"] > 0).all()
