r"""pdfplumber-compatible single-document API facade over the kernels.

Lets a reference user switch with minimal changes:

    import pdfplumber_spark.api as pdfplumber
    with pdfplumber.open("doc.pdf") as pdf:
        page = pdf.pages[0]
        page.extract_text(layout=True)
        page.extract_words(keep_blank_chars=True)
        page.extract_table({"vertical_strategy": "text"})
        page.crop((0, 80, page.width, 400)).extract_text()
        page.search(r"\d{4}")

This facade is single-process (it drives the same kernels the Spark
executors run — SURVEY §1.3: the corpus-scale path is the DataFrame API in
``plans/``). Objects are returned as list-of-dicts like the reference
(``page.py:416-425``). A page holds the parser's own objects: its chars
as ``CharArrays``, handed straight to the char kernels, and its lines,
rects, curves and images as the interpreter's row tuples. Records are
built only at the surface (``kernel.pdfparse.object_records``; edges are
``kernel.geom.obj_to_edges`` over those records, and the table kernel takes
them as ``EdgeArrays.from_records``), and every derived page masks or
clips every kind the same way.
"""

from __future__ import annotations

import io
import math
from typing import List, NamedTuple, Optional, Union

import numpy as np

from .kernel.geom import (
    bbox_overlap_mask,
    clip_coords,
    coords,
    obj_to_edges,
    within_bbox_mask,
)
from .kernel.layout import (
    STRIP_LINES,
    page_search,
    page_text_ca,
    resolve_layout_kwargs,
    simple_text,
)
from .kernel.pdfparse import (
    ROW_COLUMNS,
    StreamWrapper,
    object_records,
    page_chars,
    parse_pdf,
)
from .kernel.tables import (
    EdgeArrays,
    extract_table_text,
    find_tables,
    table_rows,
)
from .kernel.words import (
    CharArrays,
    dedupe_keep_mask,
    extract_words_ca,
    split_word_settings,
)

def _attr_filter(include_attrs=None, exclude_attrs=None):
    """convert.py:33-56 semantics."""
    if include_attrs is not None and exclude_attrs is not None:
        raise ValueError(
            "Cannot specify `include_attrs` and `exclude_attrs` "
            "at the same time."
        )
    if include_attrs is not None:
        incl = {"object_type", *include_attrs}
        return lambda a: a in incl
    if exclude_attrs is not None:
        if "object_type" in exclude_attrs:
            raise ValueError(
                "Cannot exclude these required properties: ['object_type']"
            )
        excl = set(exclude_attrs)
        return lambda a: a not in excl
    return lambda a: True


class _Serializer:
    """Single-doc Serializer (reference convert.py:62-127): float rounding,
    bytes -> base64, attr filtering, recursion through containers."""

    def __init__(self, precision=None, include_attrs=None, exclude_attrs=None):
        self.precision = precision
        self.attr_filter = _attr_filter(include_attrs, exclude_attrs)

    def serialize(self, obj):
        if obj is None:
            return None
        if isinstance(obj, bool):
            return int(obj)  # convert.py do_bool
        if isinstance(obj, float):
            return obj if self.precision is None else round(obj, self.precision)
        if isinstance(obj, (int, str)):
            return obj
        if isinstance(obj, StreamWrapper):
            # convert.py do_PDFStream: {"rawdata": base64 of raw bytes}
            import base64 as _b64

            try:
                raw = bytes(getattr(obj.xo, "raw", b"") or b"")
            except Exception:  # noqa: BLE001
                raw = b""
            return {"rawdata": _b64.b64encode(raw).decode("ascii")}
        if isinstance(obj, (bytes, bytearray)):
            # convert.py do_bytes: decode, not base64
            for e in ("utf-8", "latin-1", "utf-16", "utf-16le"):
                try:
                    return bytes(obj).decode(e)
                except UnicodeDecodeError:
                    continue
            return None
        if isinstance(obj, dict):
            # attr filter applies only to object rows (convert.py do_dict)
            if "object_type" in obj:
                return {
                    k: self.serialize(v)
                    for k, v in obj.items()
                    if self.attr_filter(k)
                }
            return {k: self.serialize(v) for k, v in obj.items()}
        if isinstance(obj, tuple):
            return tuple(self.serialize(v) for v in obj)
        if isinstance(obj, list):
            return [self.serialize(v) for v in obj]
        if isinstance(obj, np.floating):
            x = float(obj)
            return x if self.precision is None else round(x, self.precision)
        if isinstance(obj, np.integer):
            return int(obj)
        return str(obj)


_CSV_COLS_REQUIRED = ["object_type"]
_CSV_COLS_TO_PREPEND = [
    "page_number", "x0", "x1", "y0", "y1", "doctop", "top", "bottom",
    "width", "height",
]


def _pages_to_csv(pages, stream, object_types, precision,
                  include_attrs, exclude_attrs):
    """container.py:130-179: union-of-fields CSV over page objects."""
    import csv
    import io as _io

    to_string = stream is None
    if to_string:
        stream = _io.StringIO()
    ser = _Serializer(precision, include_attrs, exclude_attrs)
    serialized = []
    fields = set()
    for page in pages:
        kinds = (
            list(page.objects.keys()) + ["annot"]
            if object_types is None
            else object_types
        )
        for t in kinds:
            objs = getattr(page, t + "s", [])
            if len(objs):
                serialized += [ser.serialize(o) for o in objs]
                fields |= {
                    k for k, v in objs[0].items() if not isinstance(v, dict)
                }
    non_req = _CSV_COLS_TO_PREPEND + sorted(
        fields - set(_CSV_COLS_REQUIRED + _CSV_COLS_TO_PREPEND)
    )
    cols = _CSV_COLS_REQUIRED + list(filter(ser.attr_filter, non_req))
    w = csv.DictWriter(stream, fieldnames=cols, extrasaction="ignore")
    w.writeheader()
    w.writerows(serialized)
    if to_string:
        stream.seek(0)
        return stream.read()
    return None


class CTM(NamedTuple):
    """Current transformation matrix accessors (reference ctm.py:8-38)."""

    a: float
    b: float
    c: float
    d: float
    e: float
    f: float

    @property
    def scale_x(self) -> float:
        return math.sqrt(self.a ** 2 + self.b ** 2)

    @property
    def scale_y(self) -> float:
        return math.sqrt(self.c ** 2 + self.d ** 2)

    @property
    def skew_x(self) -> float:
        return (math.atan2(self.d, self.c) * 180 / math.pi) - 90

    @property
    def skew_y(self) -> float:
        return math.atan2(self.b, self.a) * 180 / math.pi

    @property
    def translation_x(self) -> float:
        return self.e

    @property
    def translation_y(self) -> float:
        return self.f


# reference table.py:439-452 NON_NEGATIVE_SETTINGS
_NON_NEGATIVE_TABLE_SETTINGS = (
    "snap_tolerance", "snap_x_tolerance", "snap_y_tolerance",
    "join_tolerance", "join_x_tolerance", "join_y_tolerance",
    "edge_min_length", "min_words_vertical", "min_words_horizontal",
    "intersection_tolerance", "intersection_x_tolerance",
    "intersection_y_tolerance",
)


def _resolve_table_settings(table_settings) -> dict:
    """TableSettings.resolve parity (reference table.py:482-552): None ->
    defaults; non-dict -> ValueError; negative tolerances -> ValueError.
    Unknown keys raise TypeError downstream (kernel find_tables signature),
    matching the reference dataclass's unexpected-keyword TypeError."""
    if table_settings is None:
        return {}
    if not isinstance(table_settings, dict):
        raise ValueError(f"Cannot resolve settings: {table_settings}")
    for k in _NON_NEGATIVE_TABLE_SETTINGS:
        if (table_settings.get(k) or 0) < 0:
            raise ValueError(f"Table setting '{k}' cannot be negative")
    return dict(table_settings)


_BOX = ("x0", "top", "x1", "bottom", "doctop")


def _box(kind: str, objs) -> tuple:
    """The (x0, top, x1, bottom, doctop) arrays of ``kind`` objects."""
    if kind == "char":
        return (*coords(objs), objs.doctop)
    pos = [ROW_COLUMNS[kind].index(c) for c in _BOX]
    return tuple(np.array([[r[i] for i in pos] for r in objs],
                          dtype=np.float64).reshape(-1, len(_BOX)).T)


def _clip(kind: str, objs, bbox):
    """``kind`` objects with their boxes clipped to ``bbox``
    (``clip_coords``)."""
    cols = clip_coords(*_box(kind, objs), bbox)
    if kind == "char":
        out = objs.take(slice(None))
        out.extra["width"] = cols.pop("width")
        for k, v in cols.items():
            setattr(out, k, v)
        return out
    pos = [ROW_COLUMNS[kind].index(c) for c in cols]
    out = []
    for row, *vals in zip(objs, *(v.tolist() for v in cols.values())):
        row = list(row)
        for i, v in zip(pos, vals):
            row[i] = v
        out.append(tuple(row))
    return out


class Page:
    def __init__(self, pdf: "PDF", interp, chars: CharArrays, rows: dict):
        """``rows``: kind -> the parser's row tuples of the page's lines,
        rects, curves and images (or a derived subset of them)."""
        self.pdf = pdf
        self.page_number = interp.page_number
        self.rotation = interp.rotation
        self.initial_doctop = interp.initial_doctop
        self._ca = chars
        self._rows = rows
        self._interp = interp

        self.bbox = (0.0, 0.0, interp.width, interp.height)

    def __repr__(self) -> str:
        return f"<Page:{self.page_number}>"

    @property
    def mediabox(self):
        """Full page box in the top-left frame (page.py:231)."""
        return (0.0, 0.0, float(self._interp.width),
                float(self._interp.height))

    @property
    def cropbox(self):
        """/CropBox in the top-left frame; == mediabox when absent
        (page.py:233-238)."""
        return tuple(
            float(v) for v in getattr(
                self._interp, "cropbox", self.mediabox
            )
        )

    @property
    def width(self) -> float:
        """Derived from bbox so cropped pages report crop dims
        (reference page.py:250-254)."""
        return self.bbox[2] - self.bbox[0]

    @property
    def height(self) -> float:
        return self.bbox[3] - self.bbox[1]

    # --- object accessors (reference: container.py:32-66) -------------------

    @property
    def chars(self) -> List[dict]:
        recs = object_records("char", self._ca, self.page_number)
        la = self._layout_objects()
        if la is not None:
            # laparams: page objects rebuild in reading order (pdfminer
            # LTPage._objs = textboxes + ... ; reference test_basics.py:172)
            return [recs[i] for i in la[2]]
        return recs

    @property
    def lines(self) -> List[dict]:
        return object_records("line", self._rows["line"], self.page_number)

    @property
    def rects(self) -> List[dict]:
        return object_records("rect", self._rows["rect"], self.page_number)

    @property
    def curves(self) -> List[dict]:
        return object_records("curve", self._rows["curve"], self.page_number)

    @property
    def images(self) -> List[dict]:
        return object_records("image", self._rows["image"], self.page_number)

    # --- LAParams layout analysis (reference page.py:269-277,
    # tests/test_laparams.py; kernel/laparams.py reimplements pdfminer's
    # group_objects/group_textlines) --------------------------------------

    def _layout_objects(self):
        lap = getattr(self.pdf, "laparams", None)
        if lap is None:
            return None
        cached = getattr(self, "_la_cache", None)
        if cached is None:
            from .kernel.laparams import analyze

            cached = self._la_cache = analyze(self._ca, lap)
        return cached

    def _la_kind(self, kind: str) -> List[dict]:
        la = self._layout_objects()
        if la is None:
            return []
        lines, boxes, _ = la
        src = boxes if kind.startswith("textbox") else lines
        out = []
        for o in src:
            if o["object_type"] == kind:
                d = dict(o)
                d["page_number"] = self.page_number
                out.append(d)
        return out

    @property
    def textboxhorizontals(self) -> List[dict]:
        return self._la_kind("textboxhorizontal")

    @property
    def textboxverticals(self) -> List[dict]:
        return self._la_kind("textboxvertical")

    @property
    def textlinehorizontals(self) -> List[dict]:
        return self._la_kind("textlinehorizontal")

    @property
    def textlineverticals(self) -> List[dict]:
        return self._la_kind("textlinevertical")

    @property
    def objects(self) -> dict:
        # kind order = FIRST-paint order on the page (reference
        # Page.objects dict insertion order — to_csv row ordering
        # depends on it: pdffill-demo emits its lines before its chars)
        kinds = ("char", *ROW_COLUMNS)
        order = [k for k in self._interp.kind_order if k in kinds]
        order += [k for k in kinds if k not in order]
        out = {}
        for kind in order:
            rows = getattr(self, kind + "s")
            if rows:
                out[kind] = rows
        if getattr(self.pdf, "laparams", None) is not None:
            for kind in ("textboxhorizontal", "textboxvertical",
                         "textlinehorizontal", "textlinevertical"):
                rows = self._la_kind(kind)
                if rows:
                    out[kind] = rows
        return out

    @property
    def annots(self) -> List[dict]:
        return list(getattr(self._interp, "annot_rows", []))

    @property
    def hyperlinks(self) -> List[dict]:
        return [a for a in self.annots if a.get("uri") is not None]

    @property
    def edges(self) -> List[dict]:
        """The edge records of the page's lines, rects and curves
        (``geom.obj_to_edges``; the reference's ``container.py`` edges)."""
        return [e for o in self.lines + self.rects + self.curves
                for e in obj_to_edges(o)]

    # --- text ---------------------------------------------------------------
    def extract_text(self, **kwargs) -> str:
        settings, rest = split_word_settings(kwargs)
        return page_text_ca(
            self._ca.select(settings.extra_attrs), settings,
            **resolve_layout_kwargs(rest, self.bbox)
        )

    def extract_text_simple(self, **kwargs) -> str:
        return simple_text(self._ca, **kwargs)

    def extract_words(self, **kwargs) -> List[dict]:
        settings, _ = split_word_settings(kwargs)
        words, _, _ = extract_words_ca(
            self._ca.select(settings.extra_attrs), settings)
        return words.to_dict("records")

    def search(self, pattern, regex: bool = True, case: bool = True,
               main_group: int = 0, return_chars: bool = True,
               **kwargs) -> List[dict]:
        recs = self._search(pattern, return_chars, kwargs, regex=regex,
                            case=case, main_group=main_group)
        for r in recs:  # reference returns groups as a tuple
            r["groups"] = tuple(r["groups"])
        return recs

    def extract_text_lines(self, strip: bool = True,
                           return_chars: bool = True, **kwargs) -> List[dict]:
        pat = STRIP_LINES if strip else r"([^\n]+)"
        return self._search(pat, return_chars, kwargs, main_group=1)

    def _search(self, pattern, return_chars: bool, kwargs: dict,
                **search_kwargs) -> List[dict]:
        """Match records of ``kernel.layout.page_search`` over this page's
        chars; ``return_chars`` maps each match's char positions back to
        char records."""
        layout = bool(kwargs.pop("layout", False))
        settings, _ = split_word_settings(kwargs)
        if self._ca.n == 0:
            return []
        recs = page_search(self._ca.select(settings.extra_attrs), pattern,
                           settings, layout, self.bbox,
                           **search_kwargs).to_dict("records")
        for r in recs:
            pos = r.pop("char_pos")
            if return_chars:
                r["chars"] = object_records("char", self._ca.take(pos),
                                            self.page_number)
        return recs

    # --- tables --------------------------------------------------------------
    def _find_tables(self, table_settings: Optional[dict], debug: bool):
        """(text settings, ``tables.find_tables`` result) for this page,
        on its edge records."""
        ts = _resolve_table_settings(table_settings)
        text_settings = {
            k[5:]: ts.pop(k) for k in list(ts) if k.startswith("text_")
        }
        words = None
        if "text" in (ts.get("vertical_strategy", "lines"),
                      ts.get("horizontal_strategy", "lines")):
            settings, _ = split_word_settings(text_settings)
            words, _, _ = extract_words_ca(
                self._ca.select(settings.extra_attrs), settings)
        return text_settings, find_tables(
            EdgeArrays.from_records(self.edges), words=words,
            page_bbox=self.bbox, debug=debug, **ts
        )

    def find_tables(self, table_settings: Optional[dict] = None):
        text_settings, tables = self._find_tables(table_settings, False)
        return [Table(self, cells, text_settings) for cells in tables]

    def extract_tables(self, table_settings: Optional[dict] = None):
        return [t.extract() for t in self.find_tables(table_settings)]

    def debug_tablefinder(self, table_settings: Optional[dict] = None):
        """Text-mode TableFinder debug surface (reference page.py:427-431
        returns a TableFinder; no display libs offline, so this exposes the
        same intermediate state — edges / intersections / cells / tables —
        as a namespace object)."""
        from types import SimpleNamespace

        text_settings, dbg = self._find_tables(table_settings, True)
        return SimpleNamespace(
            edges=dbg["edges"],
            intersections=dbg["intersections"],
            cells=dbg["cells"],
            tables=[Table(self, cells, text_settings)
                    for cells in dbg["tables"]],
        )

    def extract_table(self, table_settings: Optional[dict] = None):
        tables = self.find_tables(table_settings)
        if not tables:
            return None
        # largest; ties by top, x0 (page.py:439-454)
        best = sorted(
            tables,
            key=lambda t: (-len(t.cells), t.bbox[1], t.bbox[0]),
        )[0]
        return best.extract()

    # --- visual debug render --------------------------------------------------
    def to_image(self, resolution: Optional[float] = None,
                 width: Optional[float] = None,
                 height: Optional[float] = None,
                 antialias: bool = False,
                 force_mediabox: bool = False, **_kwargs):
        """Structural page render + overlay surface (reference
        ``page.py`` `Page.to_image` -> ``display.PageImage``). Offline
        from-scratch rasterizer: decodable rasters blit real pixels,
        vector objects draw with recorded colors, chars stamp 5x7
        bitmap glyphs; all draw_*/outline_*/debug_tablefinder overlay
        methods match the reference API. Exactly one of resolution /
        width / height may be given (reference get_page_image);
        antialias renders at 2x and box-downsamples (reference pypdfium2
        smoothing flags)."""
        from .display import PageImage

        return PageImage(self, resolution=resolution, width=width,
                         height=height, force_mediabox=force_mediabox,
                         antialias=antialias)

    # --- derived pages --------------------------------------------------------
    def crop(self, bbox, relative: bool = False, strict: bool = True) -> "Page":
        bbox = self._resolve_bbox(bbox, relative, strict)
        return self._derive(
            lambda kind, objs: bbox_overlap_mask(*_box(kind, objs)[:4], bbox),
            bbox, clip=True)

    def within_bbox(self, bbox, relative: bool = False, strict: bool = True) -> "Page":
        bbox = self._resolve_bbox(bbox, relative, strict)
        return self._derive(
            lambda kind, objs: within_bbox_mask(*_box(kind, objs)[:4], bbox),
            bbox)

    def outside_bbox(self, bbox, relative: bool = False, strict: bool = True) -> "Page":
        # outside_bbox keeps the parent bbox (page.py:674-677)
        bbox = self._resolve_bbox(bbox, relative, strict)
        return self._derive(
            lambda kind, objs: ~bbox_overlap_mask(*_box(kind, objs)[:4], bbox))

    def filter(self, test_function) -> "Page":
        """The page's objects whose records pass ``test_function`` (the
        reference FilteredPage filters ``parent.objects`` records)."""
        return self._derive(lambda kind, objs: np.array(
            [bool(test_function(r))
             for r in object_records(kind, objs, self.page_number)],
            dtype=bool))

    # --- serialization (reference container.py:106-179 single-doc form) ---

    def to_dict(self, object_types: Optional[List[str]] = None) -> dict:
        kinds = (
            list(self.objects.keys()) + ["annot"]
            if object_types is None
            else object_types
        )
        d = {
            "page_number": self.page_number,
            "initial_doctop": self.initial_doctop,
            "rotation": self.rotation,
            "cropbox": self.cropbox,
            "mediabox": self.mediabox,
            "bbox": self.bbox,
            "width": self.width,
            "height": self.height,
        }
        for t in kinds:
            d[t + "s"] = getattr(self, t + "s", [])
        return d

    def to_json(self, stream=None, object_types=None, include_attrs=None,
                exclude_attrs=None, precision=None, indent=None):
        import json as _json

        ser = _Serializer(precision, include_attrs, exclude_attrs)
        data = ser.serialize(self.to_dict(object_types))
        if stream is None:
            return _json.dumps(data, indent=indent)
        _json.dump(data, stream, indent=indent)
        return None

    def to_csv(self, stream=None, object_types=None, precision=None,
               include_attrs=None, exclude_attrs=None):
        return _pages_to_csv([self], stream, object_types, precision,
                             include_attrs, exclude_attrs)

    def dedupe_chars(self, **kwargs) -> "Page":
        def keep(kind, objs):
            if kind != "char":
                return np.ones(len(objs), dtype=bool)
            return dedupe_keep_mask(
                (objs.extra["fontname"], objs.size, objs.upright, objs.text),
                objs.doctop, objs.x0, **kwargs,
            )
        return self._derive(keep)

    def _resolve_bbox(self, bbox, relative, strict):
        x0, top, x1, bottom = bbox
        if relative:
            # offsets are relative to THIS page's bbox origin (page.py:658-661)
            o_x0, o_top = self.bbox[0], self.bbox[1]
            x0, top, x1, bottom = x0 + o_x0, top + o_top, x1 + o_x0, bottom + o_top
        if strict:
            # test_proposed_bbox (page.py:629-646)
            if x0 > x1 or top > bottom:
                raise ValueError(f"Bounding box {bbox} has negative size")
            if (x1 - x0) * (bottom - top) == 0:
                raise ValueError(f"Bounding box {bbox} has an area of zero.")
            px0, ptop, px1, pbottom = self.bbox
            ow = min(x1, px1) - max(x0, px0)
            oh = min(bottom, pbottom) - max(top, ptop)
            if ow < 0 or oh < 0 or (ow + oh) <= 0:
                raise ValueError(
                    f"Bounding box {bbox} is entirely outside parent page "
                    f"bounding box {self.bbox}"
                )
            if ow * oh < (x1 - x0) * (bottom - top):
                raise ValueError(
                    f"Bounding box {bbox} is not fully within parent page "
                    f"bounding box {self.bbox}"
                )
        return (float(x0), float(top), float(x1), float(bottom))

    def _derive(self, keep, bbox=None, clip: bool = False) -> "Page":
        """The derived page of the objects ``keep(kind, objs)`` masks, of
        every kind (its ``CharArrays`` for "char", its rows otherwise),
        clipped to ``bbox`` when ``clip``; it has ``bbox`` (default: this
        page's)."""
        ca = self._ca.take(keep("char", self._ca))
        rows = {kind: [r for r, k in zip(objs, keep(kind, objs)) if k]
                for kind, objs in self._rows.items()}
        if clip:
            ca = _clip("char", ca, bbox)
            rows = {kind: _clip(kind, objs, bbox) for kind, objs in rows.items()}
        p = Page(self.pdf, self._interp, ca, rows)
        p.bbox = self.bbox if bbox is None else bbox
        return p


class Table:
    def __init__(self, page: Page, cells, text_settings=None):
        self.page = page
        self.cells = cells
        self._text_settings = text_settings or {}

    @property
    def bbox(self):
        return (
            min(c[0] for c in self.cells),
            min(c[1] for c in self.cells),
            max(c[2] for c in self.cells),
            max(c[3] for c in self.cells),
        )

    @property
    def rows(self):
        return table_rows(self.cells)

    def extract(self, **kwargs):
        ts = {**self._text_settings, **kwargs}
        return extract_table_text(self.cells, self.page._ca, ts)


class PDFParseError(Exception):
    """No PDF structure at all (reference: pdfminer PSException via
    pdf.py open — e.g. the empty.pdf fixture). Distinct from per-page
    robustness: documents with ANY object structure still load with
    error-tolerant pages."""


class PDF:
    def __init__(self, data: bytes, pages: Optional[List[int]] = None,
                 password: str = "", laparams=None):
        from .kernel.laparams import LAParams
        from .kernel.pdfparse import PDFDocument

        if not data or b"obj" not in data:
            raise PDFParseError("no PDF object structure found")
        self._data = data
        self._password = password
        self._pages_subset = pages
        self.laparams = LAParams.resolve(laparams)
        # kernel document exposed like the reference's PDF.doc (pdfminer
        # PDFDocument there; our from-scratch object store here)
        self.doc = PDFDocument(data, password=password)
        self.metadata = self.doc.metadata()
        interps = parse_pdf(data, password=password)
        self.pages: List[Page] = []
        for interp in interps:
            if pages is not None and interp.page_number not in pages:
                continue
            self.pages.append(Page(self, interp, page_chars(interp), {
                kind: getattr(interp, kind + "s") for kind in ROW_COLUMNS}))

    def structure_tree(self, page_number: Optional[int] = None,
                       page: Optional["Page"] = None):
        """Tagged-PDF structure tree (structure.py:101-509 analogue);
        optionally scoped to one page — pass ``page`` (possibly a
        cropped derivation) for reference ``PDFStructTree(pdf, page)``
        semantics incl. ``element_bbox`` crop clipping."""
        from .kernel.pdfparse import PDFDocument
        from .kernel.structure import StructTree

        if page is not None and page_number is None:
            page_number = page.page_number
        tree = StructTree(
            PDFDocument(self._data, password=self._password),
            page_number=page_number,
            pages=self._pages_subset if page_number is None else None,
        )
        # attach the api pages so element_bbox can reach mediaboxes,
        # crop state, and mcid objects (kernel stays api-agnostic)
        tree._api_pages = {p.page_number: p for p in self.pages}
        tree._api_page = page
        return tree

    @property
    def chars(self):
        return [c for p in self.pages for c in p.chars]

    def to_dict(self, object_types: Optional[List[str]] = None) -> dict:
        """Reference pdf.py:176-180."""
        return {
            "metadata": self.metadata,
            "pages": [p.to_dict(object_types) for p in self.pages],
        }

    def to_json(self, stream=None, object_types=None, include_attrs=None,
                exclude_attrs=None, precision=None, indent=None):
        import json as _json

        ser = _Serializer(precision, include_attrs, exclude_attrs)
        data = ser.serialize(self.to_dict(object_types))
        if stream is None:
            return _json.dumps(data, indent=indent)
        _json.dump(data, stream, indent=indent)
        return None

    def to_csv(self, stream=None, object_types=None, precision=None,
               include_attrs=None, exclude_attrs=None):
        return _pages_to_csv(self.pages, stream, object_types, precision,
                             include_attrs, exclude_attrs)

    @property
    def annots(self):
        return [a for p in self.pages for a in p.annots]

    @property
    def hyperlinks(self):
        return [a for p in self.pages for a in p.hyperlinks]

    @property
    def objects(self):
        out = {
            "char": self.chars,
            "line": [o for p in self.pages for o in p.lines],
            "rect": [o for p in self.pages for o in p.rects],
            "curve": [o for p in self.pages for o in p.curves],
            "image": [o for p in self.pages for o in p.images],
        }
        return {k: v for k, v in out.items() if v}

    def close(self):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *a):
        self.close()


def open(path_or_fp: Union[str, bytes, io.IOBase], pages=None,
         password: str = "", laparams=None, repair: bool = False,
         gs_path=None) -> PDF:  # noqa: A001
    """pdfplumber.open analogue (``pdf.py:65-108``): path / file-like /
    raw bytes; ``pages`` subsets 1-based page numbers. ``repair=True``
    rebuilds the document first (reference pdf.py:79-85; offline rebuilder
    in kernel/pdfrepair.py — the repaired doc carries no password)."""
    if isinstance(path_or_fp, (bytes, bytearray)):
        data = bytes(path_or_fp)
    elif hasattr(path_or_fp, "read"):
        data = path_or_fp.read()
    else:
        import builtins

        with builtins.open(path_or_fp, "rb") as f:
            data = f.read()
    if repair:
        from .repair import _repair

        data = _repair(data, password=password, gs_path=gs_path).read()
        # reference pdf.py:81-85: the repaired version is decrypted — do
        # not pass the password through
        password = ""
    return PDF(data, pages=pages, password=password, laparams=laparams)


# reference `pdfplumber.repair` surface (repair.py:57-76) re-exported on
# the facade so `api.repair(...)` mirrors `api.open(...)`
from .repair import repair  # noqa: E402,F401
