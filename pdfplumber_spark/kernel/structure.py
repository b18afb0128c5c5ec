"""Document structure tree (Tagged PDF, ISO 32000 §14.7-14.8).

Re-expresses the reference's ``PDFStructTree`` / ``PDFStructElement``
(``/root/reference/pdfplumber/structure.py:101-509``) over our own object
model: a recursive element tree with type / attributes / mcids / children,
RoleMap + ClassMap resolution, revision-aware attribute merging, page
scoping via the ParentTree NumberTree (with full-parse fallback), and
``find`` / ``find_all`` / ``all_mcids`` matchers. Like the reference, only
the portion of the tree that reaches marked content is kept (empty elements
prune away). The Spark-side form is a JSON string column per document
(SURVEY §1.2: Spark has no recursive StructType), produced by
``tree_to_json``.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import Callable, Iterator, List, Optional, Pattern, Union

from .geom import bbox_overlap_mask, clip_coords
from .laparams import LAParams, analyze
from .pdfparse import Name, PDFDocument, Ref, parse_pdf
from .words import CharArrays

MatchType = Union[str, Pattern, Callable]


def decode_text(v) -> Optional[str]:
    """PDF text-string decode: UTF-16BE with BOM, else PDFDocEncoding
    (approximated by latin-1) — pdfminer ``decode_text`` semantics."""
    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        b = bytes(v)
        if b[:2] == b"\xfe\xff":
            return b[2:].decode("utf-16-be", "ignore")
        return b.decode("latin-1")
    return str(v)


@dataclass
class StructElement:
    type: str
    revision: Optional[int] = None
    id: Optional[str] = None
    lang: Optional[str] = None
    alt_text: Optional[str] = None
    actual_text: Optional[str] = None
    title: Optional[str] = None
    page_number: Optional[int] = None
    attributes: dict = field(default_factory=dict)
    mcids: List[int] = field(default_factory=list)
    children: List["StructElement"] = field(default_factory=list)

    def __iter__(self) -> Iterator["StructElement"]:
        return iter(self.children)

    def find_all(self, matcher: MatchType) -> Iterator["StructElement"]:
        return _find_all(self.children, matcher)

    def find(self, matcher: MatchType) -> Optional["StructElement"]:
        return next(_find_all(self.children, matcher), None)

    def all_mcids(self):
        """Yield (page_number, mcid) depth-first (structure.py:118-130)."""
        for mcid in self.mcids:
            yield (self.page_number, mcid)
        queue = list(self.children)
        while queue:
            el = queue.pop(0)
            for mcid in el.mcids:
                yield (el.page_number, mcid)
            queue[:0] = el.children

    def to_dict(self) -> dict:
        """Compacted dict (reference to_dict: prune None/[]/{} values;
        key set matches the reference dataclass exactly)."""
        out = {}
        for k in ("type", "revision", "id", "lang", "alt_text",
                  "actual_text", "title", "page_number"):
            v = getattr(self, k)
            if v is not None:
                out[k] = v
        if self.attributes:
            out["attributes"] = self.attributes
        if self.mcids:
            out["mcids"] = list(self.mcids)
        if self.children:
            out["children"] = [c.to_dict() for c in self.children]
        return out


def _find_all(elements, matcher: MatchType) -> Iterator[StructElement]:
    """Pre-order depth-first match (structure.py:39-71: deque.popleft +
    extendleft(reversed(children)) — 'Iterate depth-first')."""
    if isinstance(matcher, str):
        match = lambda e: e.type == matcher  # noqa: E731
    elif isinstance(matcher, re.Pattern):
        match = lambda e: bool(matcher.match(e.type))  # noqa: E731
    else:
        match = matcher
    queue = list(elements)
    while queue:
        el = queue.pop(0)
        if match(el):
            yield el
        queue[:0] = el.children


def _refkey(ref) -> tuple:
    if isinstance(ref, Ref):
        return ("R", ref.num, ref.gen)
    return ("D", id(ref))


def _number_tree_values(doc: PDFDocument, node) -> Iterator[tuple]:
    """Flatten a NumberTree (ISO 32000 §7.9.7) into (num, value) pairs —
    pdfminer ``NumberTree.values`` behavior."""
    node = doc.resolve(node)
    if not isinstance(node, dict):
        return
    nums = doc.resolve(node.get("Nums"))
    if isinstance(nums, list):
        for i in range(0, len(nums) - 1, 2):
            k = doc.resolve(nums[i])
            if isinstance(k, int):
                yield (k, nums[i + 1])
    kids = doc.resolve(node.get("Kids"))
    if isinstance(kids, list):
        for kid in kids:
            yield from _number_tree_values(doc, kid)


class StructTree:
    """Parsed structure tree; optionally scoped to one page. Page-scoped
    trees report ``page_number=None`` per the reference's API
    (tests/test_structure.py:907-933) and use the ParentTree when present
    (structure.py:180-207), falling back to a full parse otherwise."""

    def __init__(self, doc: PDFDocument, page_number: Optional[int] = None,
                 pages: Optional[List[int]] = None):
        """``pages``: doc-level parsed-page subset (PDF.open(pages=[...]));
        content on unlisted pages is skipped like the reference's
        on_parsed_page (structure.py:339-347)."""
        self.doc = doc
        self._page_scope = page_number
        self._page_of_refnum = {}
        self._page_refnum = None
        self._page_spec = None
        for i, spec in enumerate(doc.pages()):
            if spec.get("_ref") is not None:
                if pages is not None and (i + 1) not in pages:
                    continue
                self._page_of_refnum[spec["_ref"]] = i + 1
                if page_number is not None and i + 1 == page_number:
                    self._page_refnum = spec["_ref"]
                    self._page_spec = spec
        root = doc.resolve(doc.trailer.get("Root")) or {}
        st_root = doc.resolve(root.get("StructTreeRoot"))
        self.children: List[StructElement] = []
        if not isinstance(st_root, dict):
            return
        self.root = st_root
        self.role_map = doc.resolve(st_root.get("RoleMap")) or {}
        self.class_map = doc.resolve(st_root.get("ClassMap")) or {}
        if page_number is not None:
            parent_tree_obj = st_root.get("ParentTree")
            if parent_tree_obj is None:
                self._parse_struct_tree()
            else:
                # the approved way: page /StructParents -> NumberTree leaf
                sp = None
                if self._page_spec is not None:
                    sp = doc.resolve(self._page_spec.get("StructParents"))
                if not isinstance(sp, int):
                    return  # no marked content on this page
                parent_array = None
                for num, arr in _number_tree_values(doc, parent_tree_obj):
                    if num == sp:
                        parent_array = doc.resolve(arr)
                        break
                if not isinstance(parent_array, list):
                    return
                self._parse_parent_tree(parent_array)
        else:
            self._parse_struct_tree()

    # -- element construction ---------------------------------------------

    def _on_parsed_page(self, obj: dict) -> bool:
        """structure.py:339-347: skip content on pages outside the scope."""
        pg = obj.get("Pg")
        if not isinstance(pg, Ref):
            return True
        if self._page_scope is None:
            return pg.num in self._page_of_refnum
        return pg.num == self._page_refnum

    def _make_attributes(self, obj: dict, revision) -> dict:
        """structure.py:215-263: merge /C (class) then /A (direct, which
        supersedes) attribute objects, keeping revision-matched entries."""
        doc = self.doc
        attr_obj_list = []
        for key in ("C", "A"):
            if key not in obj:
                continue
            attr_obj = doc.resolve(obj[key])
            if isinstance(attr_obj, list):
                attr_obj_list.extend(attr_obj)
            else:
                attr_obj_list.append(attr_obj)
        attr_objs = []
        prev = None
        for aref in attr_obj_list:
            aval = doc.resolve(aref)
            if isinstance(aval, int):
                if aval == revision and prev is not None:
                    attr_objs.append(prev)
                prev = None
            else:
                if prev is not None:
                    attr_objs.append(prev)
                prev = aval
        if prev is not None:
            attr_objs.append(prev)
        attr = {}
        for o in attr_objs:
            if isinstance(o, Name):
                # attribute class name -> ClassMap entry
                if str(o) not in self.class_map:
                    continue
                o = doc.resolve(self.class_map[str(o)])
            if not isinstance(o, dict):
                continue
            for k, v in o.items():
                v = doc.resolve(v)
                if isinstance(v, Name):
                    attr[str(k)] = str(v)
                elif isinstance(v, (bytes, bytearray)):
                    attr[str(k)] = decode_text(v)
                elif isinstance(v, list):
                    attr[str(k)] = [
                        str(x) if isinstance(x, Name) else x
                        for x in (doc.resolve(x) for x in v)
                    ]
                else:
                    attr[str(k)] = v
        return attr

    def _make_element(self, obj: dict):
        """structure.py:265-305: element + unresolved children list."""
        doc = self.doc
        page_number = None
        if self._page_scope is None:
            pg = obj.get("Pg")
            if isinstance(pg, Ref):
                page_number = self._page_of_refnum.get(pg.num)
        obj_tag = ""
        s = obj.get("S")
        if s is not None:
            obj_tag = str(doc.resolve(s))
            if obj_tag in self.role_map:
                obj_tag = str(doc.resolve(self.role_map[obj_tag]))
        children = doc.resolve(obj.get("K")) if "K" in obj else []
        if isinstance(children, int):
            children = [children]
        elif isinstance(children, dict):
            children = [obj["K"]]
        revision = doc.resolve(obj.get("R"))
        element = StructElement(
            type=obj_tag,
            revision=revision if isinstance(revision, int) else None,
            id=decode_text(doc.resolve(obj.get("ID"))),
            lang=decode_text(doc.resolve(obj.get("Lang"))),
            alt_text=decode_text(doc.resolve(obj.get("Alt"))),
            actual_text=decode_text(doc.resolve(obj.get("ActualText"))),
            title=decode_text(doc.resolve(obj.get("T"))),
            page_number=page_number,
            attributes=self._make_attributes(obj, revision),
        )
        return element, children

    # -- full-tree parse (structure.py:349-415) ------------------------------

    def _parse_struct_tree(self) -> None:
        doc = self.doc
        root = doc.resolve(self.root.get("K"))
        if root is None:
            return
        if isinstance(root, dict):
            root = [self.root["K"]]
        seen = {}
        queue = list(root)
        while queue:
            ref = queue.pop(0)
            if _refkey(ref) in seen:
                continue  # DAG guard
            obj = doc.resolve(ref)
            if not isinstance(obj, dict):
                continue
            if "Obj" in obj:  # top-level OBJR
                if not self._on_parsed_page(obj):
                    continue
                ref = obj["Obj"]
                obj = doc.resolve(ref)
                if not isinstance(obj, dict):
                    continue
            if "MCID" in obj:
                continue
            element, children = self._make_element(obj)
            seen[_refkey(ref)] = (element, children)
            for child in children:
                cobj = doc.resolve(child)
                if isinstance(cobj, dict):
                    if not self._on_parsed_page(cobj):
                        continue
                    if "Obj" in cobj:
                        child = cobj["Obj"]
                    elif "MCID" in cobj:
                        continue
                if isinstance(child, Ref):
                    queue.append(child)
                elif isinstance(cobj, dict) and "S" in cobj:
                    # inline (non-ref) child element
                    queue.append(child)

        # prune elements that reach no marked content (structure.py:388-414)
        def prune(elements):
            nxt = []
            for ref in elements:
                obj = doc.resolve(ref)
                if isinstance(ref, int):
                    nxt.append(ref)
                    continue
                if isinstance(obj, dict):
                    if not self._on_parsed_page(obj):
                        continue
                    if "MCID" in obj:
                        nxt.append(obj["MCID"])
                        continue
                    if "Obj" in obj:
                        ref = obj["Obj"]
                if _refkey(ref) not in seen:
                    continue
                element, children = seen[_refkey(ref)]
                children = prune(children)
                if element is None or not children:
                    del seen[_refkey(ref)]
                else:
                    seen[_refkey(ref)] = (element, children)
                    nxt.append(ref)
            return nxt

        prune(root)
        self._resolve_children(seen)

    # -- page scope via ParentTree (structure.py:306-330) --------------------

    def _parse_parent_tree(self, parent_array: list) -> None:
        doc = self.doc
        seen = {}
        queue = list(parent_array)
        while queue:
            ref = queue.pop(0)
            if ref is None or _refkey(ref) in seen:
                continue
            obj = doc.resolve(ref)
            if not isinstance(obj, dict):
                continue
            if str(doc.resolve(obj.get("Type", ""))) == "StructTreeRoot":
                continue
            element, children = self._make_element(obj)
            seen[_refkey(ref)] = (element, children)
            if "P" in obj:
                queue.append(obj["P"])
        self._resolve_children(seen)

    # -- common child resolution (structure.py:417-459) ----------------------

    def _resolve_children(self, seen: dict) -> None:
        doc = self.doc
        root = doc.resolve(self.root.get("K"))
        if root is None:
            return
        if isinstance(root, dict):
            root = [self.root["K"]]
        parsed_root = []
        for ref in root:
            obj = doc.resolve(ref)
            if isinstance(obj, dict) and "Obj" in obj:
                if not self._on_parsed_page(obj):
                    continue
                ref = obj["Obj"]
            if _refkey(ref) in seen:
                parsed_root.append(ref)
        queue = list(parsed_root)
        visited = set()
        while queue:
            ref = queue.pop(0)
            if _refkey(ref) in visited:
                continue
            visited.add(_refkey(ref))
            element, children = seen[_refkey(ref)]
            for child in children:
                cobj = doc.resolve(child)
                if isinstance(cobj, int):
                    element.mcids.append(cobj)
                    continue
                if isinstance(cobj, dict):
                    if not self._on_parsed_page(cobj):
                        continue
                    if "MCID" in cobj:
                        mcid = doc.resolve(cobj.get("MCID"))
                        if isinstance(mcid, int):
                            element.mcids.append(mcid)
                        continue
                    if "Obj" in cobj:
                        child = cobj["Obj"]
                ck = _refkey(child)
                got = seen.get(ck)
                if got is not None and got[0] is not None:
                    element.children.append(got[0])
                    queue.append(child)
        self.children = [seen[_refkey(r)][0] for r in parsed_root]

    # -- API ---------------------------------------------------------------

    def __iter__(self) -> Iterator[StructElement]:
        return iter(self.children)

    def find_all(self, matcher: MatchType) -> Iterator[StructElement]:
        return _find_all(self.children, matcher)

    def find(self, matcher: MatchType) -> Optional[StructElement]:
        return next(_find_all(self.children, matcher), None)

    def element_bbox(self, el: StructElement, page=None) -> tuple:
        """Visual-debug bbox of an element (reference
        structure.py:464-509): the /BBox attribute when present —
        PDF-space coordinates inverted against the MEDIABOX height,
        because cropping does not translate coordinates — else the
        union of the element's marked-content objects. Cropped pages
        clip the result through the shared crop kernel; an element
        cropped off the page raises IndexError.

        ``page`` is an ``api.Page`` (possibly cropped). When omitted,
        the tree uses the page objects the API facade attached
        (``api.PDF.structure_tree``) keyed by the element's page."""
        pages = getattr(self, "_api_pages", None) or {}
        if page is None:
            page = getattr(self, "_api_page", None)
        if page is None and el.page_number is not None:
            page = pages.get(el.page_number)
        bbox = (el.attributes or {}).get("BBox") if el.attributes else None
        if page is not None and bbox is not None:
            mb = page.mediabox
            mh = float(mb[3]) - float(mb[1])
            vals = [float(v) for v in bbox]
            x0, x1 = sorted((vals[0], vals[2]))
            yb, yt = sorted((vals[1], vals[3]))
            rect = (x0, mh - yt, x1, mh - yb)
            full = (0.0, 0.0, float(mb[2]) - float(mb[0]), mh)
            if tuple(float(v) for v in page.bbox) != full:
                if not bbox_overlap_mask(*rect, page.bbox):
                    raise IndexError("Element no longer on page")
                clipped = clip_coords(*rect, None, page.bbox)
                rect = [clipped[k] for k in ("x0", "top", "x1", "bottom")]
            return tuple(float(v) for v in rect)
        # no BBox attribute: union of the element's mcid objects
        objs = []
        for page_number, mcid in el.all_mcids():
            pg = pages.get(page_number) if page_number is not None else page
            if pg is None:
                pg = page
            if pg is None:
                continue
            for lst in pg.objects.values():
                for o in lst:
                    if o.get("mcid") == mcid:
                        objs.append(o)
        if not objs:
            if bbox is not None:
                # round-7 advice: a kernel-level tree (no API page
                # attached) cannot invert an explicit /BBox against the
                # page mediabox — say so instead of a bare IndexError
                # that implies the element has no marked content
                raise IndexError(
                    "No objects found: element carries a /BBox attribute "
                    "but no page object is attached to resolve the "
                    "mediabox — use the API facade "
                    "(api.PDF.structure_tree) or pass page= explicitly"
                )
            raise IndexError("No objects found")
        return (float(min(o["x0"] for o in objs)),
                float(min(o["top"] for o in objs)),
                float(max(o["x1"] for o in objs)),
                float(max(o["bottom"] for o in objs)))


def tree_to_json(
    data: bytes, password: str = "", with_text: bool = False, laparams=None,
    pages=None,
) -> str:
    """Document structure tree as a JSON string (the Spark column form).
    ``with_text`` attaches per-MCID text like the reference CLI's
    --structure-text (cli.py:75-93 add_text_to_mcids). ``laparams``
    reorders each page's chars to pdfminer reading order first — the
    reference concatenates ``page.chars`` which IS reading-ordered when
    the PDF was opened with laparams (cli.py:29: --laparams honored for
    --structure/--structure-text)."""
    doc = PDFDocument(data, password=password)
    tree = StructTree(doc, pages=pages)
    out = [el.to_dict() for el in tree.children]
    if with_text:
        lap = LAParams.resolve(laparams)
        extra = ("mcid", "y0", "y1") if lap is not None else ("mcid",)
        contents: dict = {}
        for it in parse_pdf(data, style=False, password=password):
            if it.n_chars == 0:
                continue
            ca = CharArrays.from_interp(it, extra)
            order = range(ca.n) if lap is None else analyze(ca, lap)[2]
            mcids = ca.extra["mcid"]
            runs: dict = {}
            for i in order:
                if mcids[i] is not None:
                    runs.setdefault(int(mcids[i]), []).append(ca.text[i] or "")
            contents[it.page_number] = {m: "".join(t) for m, t in runs.items()}
        queue = list(out)
        while queue:
            el = queue.pop(0)
            queue.extend(el.get("children", []))
            pageno = el.get("page_number")
            if pageno is None:
                continue
            if "mcids" in el:
                page_contents = contents.get(pageno, {})
                el["text"] = [page_contents.get(m, "") for m in el["mcids"]]
    return json.dumps(out)
