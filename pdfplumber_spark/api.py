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
(``page.py:416-425``); frames back every accessor.
"""

from __future__ import annotations

import io
import math
from typing import List, NamedTuple, Optional, Union

import pandas as pd

from .kernel.geom import (
    bbox_overlap_mask,
    crop_frame,
    frame_bbox,
    lines_to_edges,
    rects_to_edges,
    curves_to_edges,
    within_bbox_mask,
)
from .kernel.layout import (
    page_text,
    page_textmap,
    resolve_layout_kwargs,
    search_text,
    simple_text,
)
from .kernel.pdfparse import parse_pdf
from .kernel.tables import (
    extract_table_text,
    find_tables_frame,
    table_rows,
)
from .kernel.words import (
    WordSettings,
    dedupe_chars_frame,
    extract_words_frame,
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
        if isinstance(obj, _StreamWrapper):
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
        try:
            import numpy as _np

            if isinstance(obj, _np.floating):
                x = float(obj)
                return x if self.precision is None else round(x, self.precision)
            if isinstance(obj, _np.integer):
                return int(obj)
        except ImportError:  # pragma: no cover
            pass
        return str(obj)


class _StreamWrapper:
    """PDFStream stand-in for image records: serializes like the
    reference's do_PDFStream ({'rawdata': base64}); carries the XObject
    + resource name for engine users (reference keeps the pdfminer
    PDFStream here)."""

    __slots__ = ("xo", "name")

    def __init__(self, xo, name=None):
        self.xo = xo
        self.name = name

    def __repr__(self):
        return f"<PDFStream {self.name or ''}>"


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


_WS_FIELDS = set(WordSettings.__dataclass_fields__)


def _split_kwargs(kwargs: dict):
    ws = {k: v for k, v in kwargs.items() if k in _WS_FIELDS}
    rest = {k: v for k, v in kwargs.items() if k not in _WS_FIELDS}
    return WordSettings(**ws), rest


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
    Unknown keys raise TypeError downstream (find_tables_frame signature),
    matching the reference dataclass's unexpected-keyword TypeError."""
    if table_settings is None:
        return {}
    if not isinstance(table_settings, dict):
        raise ValueError(f"Cannot resolve settings: {table_settings}")
    for k in _NON_NEGATIVE_TABLE_SETTINGS:
        if (table_settings.get(k) or 0) < 0:
            raise ValueError(f"Table setting '{k}' cannot be negative")
    return dict(table_settings)


class Page:
    def __init__(self, pdf: "PDF", interp, chars: pd.DataFrame,
                 lines: pd.DataFrame, rects: pd.DataFrame,
                 curves: pd.DataFrame):
        self.pdf = pdf
        self.page_number = interp.page_number
        self.rotation = interp.rotation
        self.initial_doctop = interp.initial_doctop
        self._chars = chars
        self._lines = lines
        self._rects = rects
        self._curves = curves
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

    def _records(self, frame: pd.DataFrame) -> List[dict]:
        recs = frame.to_dict("records")
        for r in recs:  # reference process_object adds page_number
            r["page_number"] = self.page_number
            r.pop("char_index", None)  # internal ordering key, not a
            # reference attr (ALL_ATTRS)
            for ck in ("stroking_color", "non_stroking_color"):
                v = r.get(ck)
                if isinstance(v, list):  # reference colors are tuples
                    r[ck] = tuple(v)
            dv = r.get("dash")
            if isinstance(dv, list):  # stored per-row as list in frames
                r["dash"] = tuple(dv)
        return recs

    @property
    def chars(self) -> List[dict]:
        la = self._layout_objects()
        if la is not None:
            # laparams: page objects rebuild in reading order (pdfminer
            # LTPage._objs = textboxes + ... ; reference test_basics.py:172)
            order = la[2]
            recs = self._records(self._chars)
            ordered = [recs[i] for i in order if i < len(recs)]
            seen = set(order)
            ordered += [r for i, r in enumerate(recs) if i not in seen]
            return ordered
        return self._records(self._chars)

    @property
    def lines(self) -> List[dict]:
        return self._records(self._lines)

    @property
    def rects(self) -> List[dict]:
        return self._records(self._rects)

    @property
    def curves(self) -> List[dict]:
        return self._records(self._curves)

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

            cached = self._la_cache = analyze(self._chars, lap)
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
        accessors = {
            "char": lambda: self.chars, "line": lambda: self.lines,
            "rect": lambda: self.rects, "curve": lambda: self.curves,
            "image": lambda: self.images,
        }
        order = [k for k in getattr(self._interp, "kind_order", [])
                 if k in accessors]
        order += [k for k in accessors if k not in order]
        out = {}
        for kind in order:
            rows = accessors[kind]()
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
    def images(self) -> List[dict]:
        """Reference image records (LTImage attrs in ALL_ATTRS +
        geometry): srcsize tuple, colorspace list, stream wrapper; the
        XObject NAME is intentionally absent (not in ALL_ATTRS)."""
        out = []
        for im in self._interp.images:
            (name, x0, x1, y0, y1, top, bottom, doctop, w, h,
             srcw, srch, bits, imagemask) = im[:14]
            colorspace = im[14] if len(im) > 14 else None
            xo = im[15] if len(im) > 15 else None
            out.append({
                "x0": x0, "y0": y0, "x1": x1, "y1": y1,
                "width": w, "height": h,
                "stream": _StreamWrapper(xo, name) if xo is not None
                else None,
                "srcsize": (srcw, srch),
                "imagemask": imagemask or None,
                "bits": bits,
                "colorspace": colorspace,
                "mcid": None,
                "tag": None,
                "object_type": "image",
                "page_number": self.page_number,
                "top": top, "bottom": bottom, "doctop": doctop,
            })
        return out

    @property
    def annots(self) -> List[dict]:
        return list(getattr(self._interp, "annot_rows", []))

    @property
    def hyperlinks(self) -> List[dict]:
        return [a for a in self.annots if a.get("uri") is not None]

    def _edges_frame(self) -> pd.DataFrame:
        parts = []
        if len(self._lines):
            parts.append(lines_to_edges(self._lines))
        if len(self._rects):
            parts.append(rects_to_edges(self._rects))
        if len(self._curves) and "pts" in self._curves.columns:
            parts.append(curves_to_edges(self._curves))
        if not parts:
            return pd.DataFrame(
                columns=["x0", "x1", "top", "bottom", "width", "height",
                         "orientation", "object_type"]
            )
        return pd.concat(parts, ignore_index=True)

    @property
    def edges(self) -> List[dict]:
        return self._edges_frame().to_dict("records")

    # --- text ---------------------------------------------------------------
    def extract_text(self, **kwargs) -> str:
        settings, rest = _split_kwargs(kwargs)
        return page_text(
            self._chars, settings, **resolve_layout_kwargs(rest, self.bbox)
        )

    def extract_text_simple(self, **kwargs) -> str:
        return simple_text(self._chars, **kwargs)

    def extract_words(self, **kwargs) -> List[dict]:
        settings, _ = _split_kwargs(kwargs)
        words, _, _ = extract_words_frame(self._chars, settings)
        return words.to_dict("records")

    def search(self, pattern, regex: bool = True, case: bool = True,
               main_group: int = 0, return_chars: bool = True,
               **kwargs) -> List[dict]:
        layout = bool(kwargs.pop("layout", False))
        settings, _ = _split_kwargs(kwargs)
        tm = page_textmap(self._chars, settings, layout, self.bbox)
        if tm is None:
            return []
        rendered, prov = tm
        out = search_text(rendered, prov, self._chars, pattern,
                          regex=regex, case=case, main_group=main_group,
                          return_chars=return_chars)
        recs = out.to_dict("records")
        for r in recs:  # reference returns groups as a tuple
            r["groups"] = tuple(r["groups"])
        return recs

    def extract_text_lines(self, strip: bool = True,
                           return_chars: bool = True, **kwargs) -> List[dict]:
        layout = bool(kwargs.pop("layout", False))
        pat = r" *([^\n]+?) *(\n|$)" if strip else r"([^\n]+)"
        settings, _ = _split_kwargs(kwargs)
        tm = page_textmap(self._chars, settings, layout, self.bbox)
        if tm is None:
            return []
        rendered, prov = tm
        return search_text(
            rendered, prov, self._chars, pat, main_group=1,
            return_chars=return_chars,
        ).to_dict("records")

    # --- tables --------------------------------------------------------------
    def find_tables(self, table_settings: Optional[dict] = None):
        ts = _resolve_table_settings(table_settings)
        text_settings = {
            k[5:]: ts.pop(k) for k in list(ts) if k.startswith("text_")
        }
        words = None
        if "text" in (ts.get("vertical_strategy", "lines"),
                      ts.get("horizontal_strategy", "lines")):
            settings, _ = _split_kwargs(text_settings)
            words, _, _ = extract_words_frame(self._chars, settings)
        tables = find_tables_frame(
            self._edges_frame(), words=words, page_bbox=self.bbox, **ts
        )
        return [Table(self, cells, text_settings) for cells in tables]

    def extract_tables(self, table_settings: Optional[dict] = None):
        return [t.extract() for t in self.find_tables(table_settings)]

    def debug_tablefinder(self, table_settings: Optional[dict] = None):
        """Text-mode TableFinder debug surface (reference page.py:427-431
        returns a TableFinder; no display libs offline, so this exposes the
        same intermediate state — edges / intersections / cells / tables —
        as a namespace object)."""
        from types import SimpleNamespace

        ts = _resolve_table_settings(table_settings)
        text_settings = {
            k[5:]: ts.pop(k) for k in list(ts) if k.startswith("text_")
        }
        words = None
        if "text" in (ts.get("vertical_strategy", "lines"),
                      ts.get("horizontal_strategy", "lines")):
            settings, _ = _split_kwargs(text_settings)
            words, _, _ = extract_words_frame(self._chars, settings)
        dbg = find_tables_frame(
            self._edges_frame(), words=words, page_bbox=self.bbox,
            debug=True, **ts
        )
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
        return self._derive(lambda df: crop_frame(df, bbox), bbox=bbox)

    def within_bbox(self, bbox, relative: bool = False, strict: bool = True) -> "Page":
        bbox = self._resolve_bbox(bbox, relative, strict)
        return self._derive(
            lambda df: df[within_bbox_mask(df, bbox)] if len(df) else df,
            bbox=bbox,
        )

    def outside_bbox(self, bbox, relative: bool = False, strict: bool = True) -> "Page":
        # outside_bbox keeps the parent bbox (page.py:674-677)
        bbox = self._resolve_bbox(bbox, relative, strict)
        return self._derive(
            lambda df: df[~bbox_overlap_mask(df, bbox)] if len(df) else df
        )

    def filter(self, test_function) -> "Page":
        def f(df):
            if not len(df):
                return df
            mask = df.apply(lambda row: test_function(row.to_dict()), axis=1)
            return df[mask]

        return self._derive(f)

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
        out = Page(self.pdf, self._interp, dedupe_chars_frame(self._chars, **kwargs),
                   self._lines, self._rects, self._curves)
        return out

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

    def _derive(self, fn, bbox=None) -> "Page":
        p = Page(
            self.pdf, self._interp, fn(self._chars), fn(self._lines),
            fn(self._rects), fn(self._curves),
        )
        p.bbox = bbox if bbox is not None else self.bbox
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
        return extract_table_text(self.cells, self.page._chars, ts)


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
            n = interp.n_chars
            import numpy as np

            from .kernel.pdfparse import CHAR_COLUMNS, LINE_COLUMNS

            if n:
                nums = np.frombuffer(interp.ch_num, dtype=np.float64).reshape(n, 12)
                chars = pd.DataFrame(
                    {
                        "char_index": np.arange(n),
                        "text": interp.ch_text,
                        "fontname": interp.ch_font,
                        **{
                            name: nums[:, k]
                            for k, name in enumerate(
                                ("size", "adv", "upright", "x0", "x1", "y0",
                                 "y1", "top", "bottom", "doctop", "width",
                                 "height")
                            )
                        },
                    }
                )
                chars["upright"] = chars["upright"].astype(int)
                chars["object_type"] = "char"
                # mcid/tag are ALWAYS present (reference emits the keys as
                # None on untagged pages — round-5 ADVICE: schema must not
                # differ between tagged and untagged documents)
                mcid_arr = np.full(n, None, dtype=object)
                tag_arr = np.full(n, None, dtype=object)
                spans = interp.mc_spans
                for i, (start, mcid, mtag) in enumerate(spans):
                    end = spans[i + 1][0] if i + 1 < len(spans) else n
                    if end > start:
                        mcid_arr[start:end] = mcid
                        tag_arr[start:end] = mtag
                chars["mcid"] = mcid_arr
                chars["tag"] = tag_arr
                if len(interp.ch_style) == n:
                    chars["matrix"] = [
                        tuple(s[0]) for s in interp.ch_style
                    ]
                    chars["stroking_color"] = [
                        tuple(s[1]) if s[1] is not None else None
                        for s in interp.ch_style
                    ]
                    chars["non_stroking_color"] = [
                        tuple(s[2]) if s[2] is not None else None
                        for s in interp.ch_style
                    ]
                    # reference LTChar extras: ncs colorspace NAME +
                    # pattern names from normalize_color (page.py:351-380)
                    chars["ncs"] = [
                        s[3] if len(s) > 3 else None
                        for s in interp.ch_style
                    ]
                    chars["stroking_pattern"] = [
                        s[4] if len(s) > 4 else None
                        for s in interp.ch_style
                    ]
                    chars["non_stroking_pattern"] = [
                        s[5] if len(s) > 5 else None
                        for s in interp.ch_style
                    ]
            else:
                chars = pd.DataFrame(
                    columns=["char_index", "text", "fontname", "size", "adv",
                             "upright", "x0", "x1", "y0", "y1", "top",
                             "bottom", "doctop", "width", "height",
                             "object_type", "mcid", "tag"]
                )
            lines = pd.DataFrame(
                [ln for ln in interp.lines], columns=LINE_COLUMNS
            )
            lines["object_type"] = "line"
            rects = pd.DataFrame([r for r in interp.rects], columns=LINE_COLUMNS)
            rects["object_type"] = "rect"
            curves = pd.DataFrame([c for c in interp.curves], columns=LINE_COLUMNS)
            curves["object_type"] = "curve"
            self.pages.append(Page(self, interp, chars, lines, rects, curves))

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
