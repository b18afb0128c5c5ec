"""Structure tree parity with the reference's test expectations
(tests/test_structure.py ports that are runnable offline)."""

import json
import re

import pdfplumber_spark.api as pdfplumber
from pdfplumber_spark.kernel.pdfparse import PDFDocument
from pdfplumber_spark.kernel.structure import StructTree, tree_to_json
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


def test_structure_tree_class_image():
    # reference test_structure.py:860-866
    with pdfplumber.open(f"{PDFS}/image_structure.pdf") as pdf:
        stree = pdf.structure_tree(page_number=1)
        doc_elem = next(iter(stree))
        assert [k.type for k in doc_elem] == ["P", "P", "Figure"]


def test_find_all_tree():
    # reference test_structure.py:867-889
    with pdfplumber.open(f"{PDFS}/image_structure.pdf") as pdf:
        stree = pdf.structure_tree(page_number=1)
        figs = list(stree.find_all("Figure"))
        assert len(figs) == 1
        assert stree.find("Figure") is figs[0]
        assert stree.find("Fogure") is None
        assert len(list(stree.find_all(re.compile(r"Fig.*")))) == 1
        assert len(list(stree.find_all(lambda x: x.type == "Figure"))) == 1
        assert len(list(stree.find_all("Foogure"))) == 0


def test_find_all_element():
    # reference test_structure.py:890-906
    with pdfplumber.open(f"{PDFS}/pdf_structure.pdf") as pdf:
        stree = pdf.structure_tree()
        found = 0
        for list_elem in stree.find_all("L"):
            items = list(list_elem.find_all("LI"))
            assert items
            for item in items:
                body = list(item.find_all("LBody"))
                assert body
                assert item.find("LBody") is body[0]
                assert item.find("Loonie") is None
            found += 1
        assert found >= 1


def test_all_mcids_page_scoping():
    # reference test_structure.py:907-933
    doc = PDFDocument(open(f"{PDFS}/2023-06-20-PV.pdf", "rb").read())
    stree = StructTree(doc)
    sect = next(stree.find_all("Sect"))
    pages = set(p for p, m in sect.all_mcids())
    assert 1 in pages and 2 in pages
    scoped = StructTree(doc, page_number=2)
    sect2 = next(scoped.find_all("Sect"))
    assert set(p for p, m in sect2.all_mcids()) == {None}


def test_tree_to_json_and_spark_plan(spark, tmp_path):
    data = open(f"{PDFS}/hello_structure.pdf", "rb").read()
    tree = json.loads(tree_to_json(data))
    assert tree and tree[0]["type"]

    # Spark column form over a mini corpus embedding this payload
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.Table.from_pylist(
        [{"url": "u1", "warc_ts": None, "html": data, "text": None, "lang": "en"}],
        schema=pa.schema(
            [("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
             ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
        ),
    )
    p = str(tmp_path / "pages.parquet")
    pq.write_table(t, p)
    from pdfplumber_spark.plans.extract import extract_structure, read_pages

    out = extract_structure(read_pages(spark, p), num_partitions=2).toPandas()
    assert len(out) == 1
    assert json.loads(out["structure_json"].iloc[0])[0]["type"]


# --- full parity against the reference's own expected trees -----------------
# The constants (TREE, PVSTRUCT, ...) are the reference's test expectations,
# extracted by ast from tests/test_structure.py — data, not code.

def _ref_constants():
    import ast

    src = open(f"{REFERENCE}/tests/test_structure.py").read()
    consts = {}
    for node in ast.parse(src).body:
        if (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and node.targets[0].id.isupper()
        ):
            try:
                consts[node.targets[0].id] = ast.literal_eval(node.value)
            except ValueError:
                pass
    return consts


REFC = _ref_constants()


def _tree(fn, page_number=None, pages=None):
    doc = PDFDocument(open(f"{PDFS}/{fn}", "rb").read())
    t = StructTree(doc, page_number=page_number, pages=pages)
    return [el.to_dict() for el in t.children]


def test_pdf_structure_page_scoped_matches_reference():
    # reference test_structure.py:335-336
    assert _tree("pdf_structure.pdf", page_number=1) == REFC["TREE"]


def test_pdf_structure_doc_level_adds_page_numbers():
    # reference test_structure.py:337-344
    import copy
    from collections import deque

    exp = copy.deepcopy(REFC["TREE"])
    d = deque(exp)
    while d:
        el = d.popleft()
        el["page_number"] = 1
        d.extend(el.get("children", []))
    assert _tree("pdf_structure.pdf") == exp


def test_pv_doc_and_page_trees():
    # reference test_structure.py:993-998 (doc + ParentTree page scope)
    assert _tree("2023-06-20-PV.pdf") == REFC["PVSTRUCT"]
    assert _tree("2023-06-20-PV.pdf", page_number=2) == REFC["PVSTRUCT1"]


def test_pv_missing_parenttree_fallback():
    # reference test_structure.py:1000-1006: same page tree without ParentTree
    doc = PDFDocument(open(f"{PDFS}/2023-06-20-PV.pdf", "rb").read())
    root = doc.resolve(doc.trailer.get("Root"))
    st_root = doc.resolve(root.get("StructTreeRoot"))
    del st_root["ParentTree"]
    t = StructTree(doc, page_number=2)
    assert [el.to_dict() for el in t.children] == REFC["PVSTRUCT1"]


def test_pv_pages_subset():
    # reference test_structure.py:971-974: open(pages=[2]) doc-level tree
    assert _tree("2023-06-20-PV.pdf", pages=[2]) == REFC["PVSTRUCT2"]


def test_word365_and_image_trees():
    # reference test_structure.py:986-990, 1008-1013
    assert _tree("word365_structure.pdf", page_number=1) == REFC["WORD365"]
    assert _tree("image_structure.pdf", page_number=1) == REFC["IMAGESTRUCT"]


def test_scotus_attribute_classes():
    # reference test_structure.py:1033-1036 ("actually has attribute classes")
    assert _tree("scotus-transcript-p1.pdf") == REFC["SCOTUS"]


def test_hello_corner_cases():
    # reference test_structure.py:1068-1075
    assert _tree("hello_structure.pdf") == REFC["HELLO"]
    assert _tree("hello_structure.pdf", page_number=1) == REFC["HELLO1P"]
    assert _tree("hello_structure.pdf", pages=[1]) == REFC["HELLO1"]


def test_no_structure_gives_empty():
    # reference test_structure.py:980-984 (pdffill-demo has no struct tree)
    assert _tree("pdffill-demo.pdf") == []
    assert _tree("pdffill-demo.pdf", page_number=1) == []


def test_figure_mcids():
    # reference test_structure.py:1015-1031
    from collections import deque

    doc = PDFDocument(open(f"{PDFS}/figure_structure.pdf", "rb").read())
    t = StructTree(doc, page_number=1)
    d = deque(el.to_dict() for el in t.children)
    el = None
    while d:
        el = d.popleft()
        if el["type"] == "Figure":
            break
        d.extend(el.get("children", []))
    assert el["type"] == "Figure"
    assert el["mcids"] == [1, 14]


def test_chelsea_pdta_objr_mcr():
    # reference test_structure.py:1038-1066 (OBJR + MCR content items,
    # pages with and without structure)
    from collections import deque

    doc = PDFDocument(open(f"{PDFS}/chelsea_pdta.pdf", "rb").read())

    def tree(page=None, pages=None):
        t = StructTree(doc, page_number=page, pages=pages)
        return [el.to_dict() for el in t.children]

    assert tree(page=8) == []      # page with no structure
    assert tree(pages=[8]) == []   # doc-level, pages subset
    assert tree(page=4) == []      # empty page
    tree1 = tree(page=3)           # has OBJR and MCR elements
    assert tree1
    tree2 = tree(pages=[3])
    assert tree2
    d = deque(zip(tree1, tree2))
    while d:
        el1, el2 = d.popleft()
        if "page_number" in el1:
            assert el1["page_number"] == 3
            assert el1 == el2
        if "children" in el1:
            assert len(el1["children"]) == len(el2.get("children", []))
            d.extend(zip(el1["children"], el2["children"]))


def test_structure_text_laparams_reading_order():
    """--structure-text --laparams parity (reference cli.py:29): mcid text
    concatenation follows pdfminer READING order when laparams is given.
    One MCID spans two text blocks rendered bottom-first; default (stream
    order) concatenates "WORLD" before "hello", laparams flips to reading
    order."""
    import json

    from pdfplumber_spark.kernel.pdfgen import make_pdf
    from pdfplumber_spark.kernel.structure import tree_to_json

    data = make_pdf([{
        "width": 612, "height": 792, "tagged": True,
        "texts": [
            {"x": 72, "top": 300, "size": 12, "text": "WORLD", "mcid": 0},
            {"x": 72, "top": 100, "size": 12, "text": "hello", "mcid": 0},
        ],
    }])

    def mcid_texts(js):
        out = {}
        queue = json.loads(js)
        while queue:
            el = queue.pop(0)
            queue.extend(el.get("children", []))
            if "text" in el:
                out[tuple(el.get("mcids", ()))] = el["text"]
        return out

    plain = mcid_texts(tree_to_json(data, with_text=True))
    assert plain[(0,)] == ["WORLDhello"]  # content-stream order
    ordered = mcid_texts(tree_to_json(data, with_text=True, laparams={}))
    assert ordered[(0,)] == ["helloWORLD"]  # reading order (top first)
