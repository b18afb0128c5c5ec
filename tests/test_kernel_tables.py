import numpy as np
import pandas as pd
import pytest

from genchars import chars_frame, random_chars
from pdfplumber_spark.kernel import tables as T
from pdfplumber_spark.kernel.words import CharArrays, WordSettings, extract_words_frame
from reforacle import ref_table, ref_utils


def make_grid_edges(rng, nx=4, ny=3, x0=72.0, top=100.0, cw=80.0, rh=24.0,
                    jitter=0.8, drop_p=0.0, split_p=0.3):
    """Synthetic lattice: grid lines with snap-able jitter and join-able splits."""
    edges = []
    xs = [x0 + i * cw for i in range(nx + 1)]
    ys = [top + j * rh for j in range(ny + 1)]
    for x in xs:
        if rng.uniform() < drop_p:
            continue
        jx = x + float(rng.uniform(-jitter, jitter))
        if rng.uniform() < split_p:
            mid = top + (ys[-1] - top) * float(rng.uniform(0.3, 0.7))
            segs = [(top, mid), (mid + 1.0, ys[-1])]
        else:
            segs = [(top, ys[-1])]
        for (a, b) in segs:
            edges.append(
                {
                    "x0": round(jx, 2), "x1": round(jx, 2),
                    "top": round(a, 2), "bottom": round(b, 2),
                    "width": 0.0, "height": round(b - a, 2),
                    "doctop": round(a, 2),
                    "orientation": "v", "object_type": "line",
                }
            )
    for y in ys:
        if rng.uniform() < drop_p:
            continue
        jy = y + float(rng.uniform(-jitter, jitter))
        edges.append(
            {
                "x0": round(xs[0], 2), "x1": round(xs[-1], 2),
                "top": round(jy, 2), "bottom": round(jy, 2),
                "width": round(xs[-1] - xs[0], 2), "height": 0.0,
                "doctop": round(jy, 2),
                "orientation": "h", "object_type": "line",
            }
        )
    return edges


@pytest.mark.parametrize("seed", range(8))
def test_merge_edges_differential(seed):
    rt = ref_table()
    rng = np.random.default_rng(seed)
    edges = make_grid_edges(rng, nx=int(rng.integers(2, 6)), ny=int(rng.integers(2, 5)))
    exp = rt.merge_edges([dict(e) for e in edges], 3, 3, 3, 3)
    got = T.merge_edges_frame(pd.DataFrame(edges), 3, 3, 3, 3)
    key = ["x0", "x1", "top", "bottom"]
    exp_set = sorted(tuple(round(e[k], 6) for k in key) for e in exp)
    got_set = sorted(tuple(round(v, 6) for v in row) for row in got[key].to_numpy())
    assert got_set == exp_set


@pytest.mark.parametrize("seed", range(8))
def test_intersections_cells_tables_differential(seed):
    rt = ref_table()
    rng = np.random.default_rng(100 + seed)
    edges = make_grid_edges(rng, nx=int(rng.integers(2, 6)), ny=int(rng.integers(2, 5)))
    merged = rt.merge_edges([dict(e) for e in edges], 3, 3, 3, 3)
    exp_int = rt.edges_to_intersections([dict(e) for e in merged], 1, 1)
    got_int = T.find_intersections(pd.DataFrame(merged), 1, 1)
    assert set(got_int.keys()) == set(exp_int.keys())
    for k in exp_int:
        exp_v = set(map(tuple, ((e["x0"], e["top"], e["x1"], e["bottom"]) for e in exp_int[k]["v"])))
        got_v = set(map(tuple, got_int[k]["v"]))
        assert got_v == exp_v

    exp_cells = rt.intersections_to_cells(exp_int)
    got_cells = T.intersections_to_cells(got_int)
    assert [tuple(np.round(c, 6)) for c in got_cells] == [
        tuple(np.round(c, 6)) for c in exp_cells
    ]

    exp_tables = rt.cells_to_tables(list(exp_cells))
    got_tables = T.cells_to_tables(list(got_cells))
    assert len(got_tables) == len(exp_tables)
    for gt, et in zip(got_tables, exp_tables):
        assert sorted(gt) == sorted(et)


@pytest.mark.parametrize("seed", range(6))
def test_words_to_edges_differential(seed):
    rt = ref_table()
    rng = np.random.default_rng(200 + seed)
    rows = random_chars(rng, n_lines=6, blank_p=0.25)
    words, _, _ = extract_words_frame(chars_frame(rows), WordSettings())
    wdicts = words.to_dict("records")

    exp_h = rt.words_to_edges_h(wdicts, 1)
    got_h = T.words_to_edges_h(words, 1).to_frame()
    key_h = ["x0", "x1", "top", "bottom"]
    assert sorted(tuple(round(e[k], 6) for k in key_h) for e in exp_h) == sorted(
        tuple(round(v, 6) for v in r) for r in got_h[key_h].to_numpy()
    )

    exp_v = rt.words_to_edges_v(wdicts, 2)
    got_v = T.words_to_edges_v(words, 2).to_frame()
    assert sorted(tuple(round(e[k], 6) for k in key_h) for e in exp_v) == sorted(
        tuple(round(v, 6) for v in r) for r in got_v[key_h].to_numpy()
    )


class _FakePage:
    def __init__(self, chars):
        self.chars = chars


def put_text_in_cells(rng, cells):
    """Place a couple of glyph rows inside each cell."""
    rows = []
    for (x0, top, x1, bottom) in cells:
        n = int(rng.integers(1, 5))
        x = x0 + 2.0
        size = 8.0
        for _ in range(n):
            t = str(rng.choice(list("abcdefgh")))
            w = 4.0
            rows.append(
                {
                    "text": t, "fontname": "F", "size": size, "adv": w,
                    "upright": 1,
                    "x0": x, "x1": x + w,
                    "top": top + 2.0, "bottom": top + 2.0 + size,
                    "doctop": top + 2.0, "width": w, "height": size,
                }
            )
            x += w
    return rows


@pytest.mark.parametrize("seed", range(5))
def test_extract_table_text_differential(seed):
    rt = ref_table()
    rng = np.random.default_rng(300 + seed)
    edges = make_grid_edges(rng, nx=3, ny=3, jitter=0.3, split_p=0.0)
    merged = rt.merge_edges([dict(e) for e in edges], 3, 3, 3, 3)
    ints = rt.edges_to_intersections([dict(e) for e in merged], 1, 1)
    cells = rt.intersections_to_cells(ints)
    tables = rt.cells_to_tables(list(cells))
    assert tables, "fixture should produce a table"
    chars = put_text_in_cells(rng, tables[0])

    ref_tbl = rt.Table(_FakePage([dict(c) for c in chars]), tables[0])
    exp = ref_tbl.extract()
    got = T.extract_table_text(tables[0], CharArrays(chars_frame(chars)))
    assert got == exp
