"""Visual debug rendering — the reference ``display.py`` API surface
(``PageImage``: draw_* overlays, outline_words/chars, debug_tablefinder,
PNG export) re-implemented on the from-scratch rasterizer
(``kernel/raster.py``) because PIL/pypdfium2 are absent offline.

The base render is STRUCTURAL, not glyph-accurate: rasters the engine can
pixel-decode (Flate families + CCITT + baseline JPEG + ImageMask,
kernel/images.py) are blitted with their real pixels; rects/lines/curves
draw with their recorded colors; chars render as APPROXIMATE 5x7 bitmap
glyphs (kernel/font5x7.py — readable, not typographically accurate; the
remaining divergence from the reference's pdfium render) with a faint
box fallback for uncovered glyphs/tiny boxes.
Overlay semantics (defaults, reprojection, method signatures) follow
``/root/reference/pdfplumber/display.py:20-397``.
"""

from __future__ import annotations

import pathlib
from io import BytesIO
from typing import Optional

import numpy as np

from .kernel.raster import Canvas, png_encode


class COLORS:
    RED = (255, 0, 0)
    GREEN = (0, 255, 0)
    BLUE = (0, 0, 255)
    TRANSPARENT = (0, 0, 0, 0)


DEFAULT_FILL = COLORS.BLUE + (50,)
DEFAULT_STROKE = COLORS.RED + (200,)
DEFAULT_STROKE_WIDTH = 1
DEFAULT_RESOLUTION = 72

_CHAR_FILL = (120, 120, 120, 110)
_GLYPH_INK = (40, 40, 45, 235)
_UNSUPPORTED_IMG_FILL = (210, 210, 215)


def _to_list(objs):
    if hasattr(objs, "to_dict"):  # DataFrame
        return objs.to_dict("records")
    return list(objs)


def _obj_color(raw, fallback):
    """normalize stored stroking/non_stroking color (floats 0-1 tuple /
    list / scalar) to an RGB byte triple."""
    if raw is None or (isinstance(raw, float) and np.isnan(raw)):
        return fallback
    try:
        vals = list(raw) if isinstance(raw, (list, tuple, np.ndarray)) else [raw]
    except TypeError:
        return fallback
    vals = [float(v) for v in vals if v is not None]
    if not vals:
        return fallback
    if len(vals) == 1:
        g = int(round(vals[0] * 255))
        return (g, g, g)
    if len(vals) >= 4:  # CMYK -> RGB
        c, m, y, k = vals[:4]
        return tuple(int(round(255 * (1 - min(1, a + k)))) for a in (c, m, y))
    return tuple(int(round(min(1.0, max(0.0, v)) * 255)) for v in vals[:3])


def _ceil_px(v: float) -> int:
    """Pixel-dimension rounding: ceil with float-noise tolerance."""
    import math

    return int(math.ceil(round(float(v), 4)))


def _render_base(page, scale: float, bbox=None) -> Canvas:
    """Structural render of ``bbox`` (default ``page.bbox``) at ``scale``
    px per point (a cropped page renders just its crop region, reference
    display.py:120 semantics; an uncropped page's PageImage passes the
    cropbox view)."""
    bx0, by0, bx1, by1 = bbox if bbox is not None else page.bbox
    # pypdfium2 parity: fractional point dims round UP (A4's 595.276
    # renders 596 px at scale 1); fuzz-tolerant against float noise
    w_px = max(1, _ceil_px((bx1 - bx0) * scale))
    h_px = max(1, _ceil_px((by1 - by0) * scale))
    canvas = Canvas(w_px, h_px)

    def X(x):
        return (x - bx0) * scale

    def Y(y):
        return (y - by0) * scale

    # 1. rasters with real pixels where decodable
    interp = getattr(page, "_interp", None)
    if interp is not None:
        from .kernel.images import _decode_one

        for rec, xo in zip(interp.images, getattr(interp, "image_objs", [])):
            # rec layout: (name, x0, x1, y0, y1, top, bottom, doctop, ...)
            _, x0, x1, _y0, _y1, top, bottom = rec[:7]
            box = (X(x0), Y(top), X(x1), Y(bottom))
            try:
                d = _decode_one(interp.doc, xo)
            except Exception:  # noqa: BLE001
                d = {"status": "error"}
            if d.get("status") == "ok" and d.get("samples") is not None:
                iw, ih = d["width"], d["height"]
                ch = 1 if d["colorspace"] in ("ImageMask",) else (
                    d["channels"] or 1
                )
                arr = np.frombuffer(bytes(d["samples"]), dtype=np.uint8)
                if ch == 1:
                    arr = arr.reshape(ih, iw)
                    bits = d.get("bits") or 8
                    if bits < 8:  # scale sample codes to full range
                        arr = (arr.astype(np.uint16) * 255
                               // ((1 << bits) - 1)).astype(np.uint8)
                elif ch == 4:
                    # DeviceCMYK -> RGB: r = (255-c)(255-k)/255 etc.
                    cmyk = arr.reshape(ih, iw, 4).astype(np.uint16)
                    inv_k = 255 - cmyk[:, :, 3]
                    arr = np.stack(
                        [((255 - cmyk[:, :, i]) * inv_k // 255)
                         for i in range(3)], axis=2
                    ).astype(np.uint8)
                else:
                    arr = arr.reshape(ih, iw, ch)[:, :, :3]
                canvas.blit(arr, *box)
            else:
                canvas.fill_rect(*box, _UNSUPPORTED_IMG_FILL + (255,))
                canvas.stroke_rect(*box, (130, 130, 140, 255), 1)

    # 2. vector objects with their recorded colors — read the underlying
    # frames directly (the list-of-dicts accessors pay a pandas to_dict
    # per page: 1.6 s of a 4.8 s corpus render before this)
    def _recs(frame_attr, accessor_name):
        f = getattr(page, frame_attr, None)
        if f is not None:
            return f.to_dict("records") if len(f) else []
        return getattr(page, accessor_name)  # duck-typed page objects

    for r in _recs("_rects", "rects"):
        box = (X(r["x0"]), Y(r["top"]), X(r["x1"]), Y(r["bottom"]))
        if r.get("fill"):
            canvas.fill_rect(
                *box, _obj_color(r.get("non_stroking_color"), (200, 200, 200))
                + (255,))
        if r.get("stroke", True):
            canvas.stroke_rect(
                *box, _obj_color(r.get("stroking_color"), (0, 0, 0)) + (255,),
                max(1, int(round((r.get("linewidth") or 1) * scale))))
    for ln in _recs("_lines", "lines"):
        canvas.line(
            (X(ln["x0"]), Y(ln["top"])),
            (X(ln["x1"]), Y(ln["bottom"])),
            _obj_color(ln.get("stroking_color"), (0, 0, 0)) + (255,),
            max(1, int(round((ln.get("linewidth") or 1) * scale))))
    for cv in _recs("_curves", "curves"):
        # stored pts are (x, top) already (pdfparse _emit_path pts_top)
        pts = [(X(x), Y(y)) for (x, y) in cv.get("pts") or []]
        if len(pts) >= 2:
            canvas.polyline(
                pts, _obj_color(cv.get("stroking_color"), (0, 0, 0)) + (255,))

    # 3. chars: REAL embedded-font outlines when the char's font embeds
    # a /FontFile2 (TrueType, kernel/truetype.py) or /FontFile3
    # (CFF/Type1C, kernel/cff.py) with a usable char->gid mapping —
    # contours scanline-filled at the char's pixel box; else
    # the approximate 5x7 bitmap glyph (kernel/font5x7.py); else a faint
    # structural box. Deterministic either way (hash-stable renders).
    ca = getattr(page, "_ca", None)
    ch_cids = getattr(interp, "ch_cid", None) if interp is not None else None
    if ca is None:
        # dict accessors carry no char_index, so no CID join on this path
        chars_rows = [
            (c["x0"], c["top"], c["x1"], c["bottom"], c.get("text"),
             c.get("fontname"), None, c.get("non_stroking_color"),
             c.get("matrix"))
            for c in page.chars
        ]
    else:
        ex = ca.extra
        # char_index = per-page emit order -> interp.ch_cid join (the
        # chars may be a crop/filter subset; indices stay valid)
        if ch_cids is not None:
            cids = [
                ch_cids[ix] if 0 <= ix < len(ch_cids) else None
                for ix in ex["char_index"].tolist()
            ]
        else:
            cids = [None] * ca.n
        chars_rows = list(zip(
            ca.x0, ca.top, ca.x1, ca.bottom, ca.text.tolist(),
            ex["fontname"].tolist(), cids, ex["non_stroking_color"].tolist(),
            ex["matrix"].tolist(),
        ))
    from .kernel.font5x7 import glyph_mask

    tt_by_basefont = {}
    pf_by_basefont = {}
    if interp is not None:
        for font in getattr(interp, "fonts", {}).values():
            if getattr(font, "basefont", None) not in tt_by_basefont:
                pf_by_basefont[font.basefont] = font
                try:
                    loader = getattr(font, "glyph_font", font.truetype)
                    tt_by_basefont[font.basefont] = loader(interp.doc)
                except Exception:  # noqa: BLE001
                    tt_by_basefont[font.basefont] = None
    tt_cache = {}

    def tt_mask(fontname, ch, w_px, h_px, cid=None):
        ttf = tt_by_basefont.get(fontname)
        if ttf is None:
            return None
        gid = None
        pf = pf_by_basefont.get(fontname)
        if (cid is not None and pf is not None
                and getattr(pf, "multibyte", False)):
            try:
                gid = pf.cid_to_gid(interp.doc, ttf, int(cid))
            except Exception:  # noqa: BLE001
                gid = None
        if not gid and ch:
            gid = ttf.glyph_id(ord(ch[0]))
        if not gid:
            return None
        key = (id(ttf), gid, w_px, h_px)
        if key not in tt_cache:
            from .kernel.truetype import rasterize_glyph

            try:
                tt_cache[key] = rasterize_glyph(ttf, gid, w_px, h_px)
            except Exception:  # noqa: BLE001 — malformed outline
                tt_cache[key] = None
        return tt_cache[key]

    def _quarter_turn(mat):
        """k for np.rot90 from the char's text matrix: 0 upright,
        +-1 for 90-degree text, 2 for upside-down."""
        if mat is None or not hasattr(mat, "__len__") or len(mat) < 4:
            return 0
        a, b, c, d = (float(v) for v in mat[:4])
        if abs(a) < 1e-9 and abs(d) < 1e-9 and b and c:
            # glyph up (0,1)->(c,d): up points +x (right) -> rotate CW
            return -1 if c > 0 else 1
        if a < 0 and d < 0:
            return 2
        return 0

    box_fallback = []
    for cx0, ctop, cx1, cbot, text, fontname, cid, ncol, mat in chars_rows:
        gx0, gy0 = X(cx0), Y(ctop)
        gx1, gy1 = X(cx1), Y(cbot)
        if text == " ":
            continue
        w_px = max(1, int(round(gx1 - gx0)))
        h_px = max(1, int(round(gy1 - gy0)))
        rot = _quarter_turn(mat)
        mask = None
        if w_px >= 3 and h_px >= 5:
            # quarter-turned chars rasterize at swapped dims (natural
            # glyph proportions), then the mask turns with the text
            mw, mh = (h_px, w_px) if rot in (1, -1) else (w_px, h_px)
            mask = tt_mask(fontname, text, mw, mh, cid)
            if mask is not None and not mask.any():
                mask = None
            if mask is None:
                mask = glyph_mask(text[0]) if text else None
            if mask is not None and rot:
                mask = np.rot90(mask, rot)
        if mask is not None:
            # glyphs paint in the char's fill color (reference renders
            # text in its non-stroking color); default ink when unset
            ink = _obj_color(ncol, _GLYPH_INK[:3]) + (_GLYPH_INK[3],)
            canvas.stamp_mask(mask, gx0, gy0, gx1, gy1, ink)
        else:
            box_fallback.append((gx0, gy0, gx1, gy1))
    if box_fallback:
        canvas.fill_rects_batch(box_fallback, _CHAR_FILL)
    return canvas


def get_page_image(stream=None, path=None, page_ix: int = 0,
                   resolution: float = 72, password=None,
                   antialias: bool = False) -> Canvas:
    """Reference display.get_page_image parity (display.py:36): render
    one page of a path/stream to an image object (Canvas here, PIL
    there)."""
    from . import api

    src = path if path is not None else stream
    pdf = api.open(src, password=password) if password is not None \
        else api.open(src)
    return PageImage(pdf.pages[page_ix], resolution=resolution,
                     antialias=antialias).original


def _downsample2(cv: Canvas, w_px: int, h_px: int) -> Canvas:
    """Box-average a ~2x canvas down to exactly (w_px, h_px)."""
    src = cv.arr.astype(np.uint16)
    h2, w2 = src.shape[:2]
    y0 = np.minimum(np.arange(h_px) * 2, h2 - 1)
    y1 = np.minimum(y0 + 1, h2 - 1)
    x0 = np.minimum(np.arange(w_px) * 2, w2 - 1)
    x1 = np.minimum(x0 + 1, w2 - 1)
    acc = (src[np.ix_(y0, x0)] + src[np.ix_(y0, x1)]
           + src[np.ix_(y1, x0)] + src[np.ix_(y1, x1)] + 2) // 4
    out = Canvas(w_px, h_px)
    out.arr = acc.astype(np.uint8)
    return out


class PageImage:
    """Reference display.PageImage semantics on the numpy canvas."""

    def __init__(self, page, resolution: Optional[float] = None,
                 width: Optional[float] = None,
                 height: Optional[float] = None,
                 force_mediabox: bool = False,
                 antialias: bool = False):
        # reference get_page_image: resolution XOR width XOR height
        if sum(x is not None for x in (resolution, width, height)) > 1:
            raise ValueError(
                "Only one of resolution, width, height can be given."
            )
        if width is not None:
            resolution = width / page.width * 72.0
        elif height is not None:
            resolution = height / page.height * 72.0
        elif resolution is None:
            resolution = DEFAULT_RESOLUTION
        self.page = page
        self.resolution = resolution
        self.scale = resolution / 72.0
        # view box (reference display.py:104-112): an explicit crop wins;
        # an uncropped page shows its CROPBOX unless force_mediabox
        mediabox = getattr(page, "mediabox", page.bbox)
        cropbox = getattr(page, "cropbox", page.bbox)
        if tuple(page.bbox) != tuple(mediabox):
            self.bbox = page.bbox
        else:
            self.bbox = tuple(mediabox) if force_mediabox else tuple(cropbox)
        if antialias:
            # reference antialias flag (pypdfium2 smoothing): render at
            # 2x and box-downsample to the exact 1x pixel dims
            w_px = max(1, _ceil_px((self.bbox[2] - self.bbox[0])
                                   * self.scale))
            h_px = max(1, _ceil_px((self.bbox[3] - self.bbox[1])
                                   * self.scale))
            big = _render_base(page, self.scale * 2, bbox=self.bbox)
            self.original = _downsample2(big, w_px, h_px)
        else:
            self.original = _render_base(page, self.scale, bbox=self.bbox)
        self.reset()

    # --- projection (display.py:128-142) -----------------------------------

    def _reproject(self, coord):
        x0, top = coord
        return ((x0 - self.bbox[0]) * self.scale,
                (top - self.bbox[1]) * self.scale)

    def _reproject_bbox(self, bbox):
        x0, top, x1, bottom = bbox
        a = self._reproject((x0, top))
        b = self._reproject((x1, bottom))
        return (a[0], a[1], b[0], b[1])

    # --- lifecycle ----------------------------------------------------------

    def reset(self) -> "PageImage":
        self.annotated = self.original.copy()
        return self

    def copy(self) -> "PageImage":
        other = PageImage.__new__(PageImage)
        other.page = self.page
        other.resolution = self.resolution
        other.scale = self.scale
        other.bbox = self.bbox
        other.original = self.original.copy()
        other.annotated = self.annotated.copy()
        return other

    def save(self, dest, format: str = "PNG", **_kwargs) -> None:
        if str(format).upper() != "PNG":
            raise ValueError("only PNG is supported offline")
        data = png_encode(self.annotated.arr)
        if isinstance(dest, (str, pathlib.Path)):
            with open(dest, "wb") as f:
                f.write(data)
        else:
            dest.write(data)

    def _repr_png_(self) -> bytes:
        b = BytesIO()
        self.save(b, "PNG")
        return b.getvalue()

    def show(self) -> None:  # pragma: no cover — interactive only
        """Reference display.py:395 parity: open the annotated render in
        an external viewer (writes a temp PNG; headless-safe no-op if no
        viewer is available)."""
        import subprocess
        import tempfile

        with tempfile.NamedTemporaryFile(
                suffix=".png", delete=False) as f:
            f.write(self._repr_png_())
        for viewer in ("xdg-open", "open"):
            try:
                subprocess.Popen([viewer, f.name])
                return
            except OSError:
                continue

    # --- draw primitives (display.py:177-320) -------------------------------

    def draw_line(self, points_or_obj, stroke=DEFAULT_STROKE,
                  stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        if isinstance(points_or_obj, (tuple, list)):
            points = points_or_obj
        elif isinstance(points_or_obj, dict) and isinstance(
                points_or_obj.get("pts"), (list, tuple)):
            points = [(x, y) for x, y in points_or_obj["pts"]]
        else:
            o = points_or_obj
            points = ((o["x0"], o["top"]), (o["x1"], o["bottom"]))
        proj = [self._reproject(p) for p in points]
        self.annotated.polyline(proj, stroke, stroke_width)
        return self

    def draw_lines(self, list_of_lines, stroke=DEFAULT_STROKE,
                   stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        for x in _to_list(list_of_lines):
            self.draw_line(x, stroke=stroke, stroke_width=stroke_width)
        return self

    def draw_vline(self, location, stroke=DEFAULT_STROKE,
                   stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        x0, y0, x1, y1 = self._reproject_bbox(
            (location, self.bbox[1], location, self.bbox[3]))
        self.annotated.line((x0, y0), (x1, y1), stroke, stroke_width)
        return self

    def draw_vlines(self, locations, stroke=DEFAULT_STROKE,
                    stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        for x in list(locations):
            self.draw_vline(x, stroke=stroke, stroke_width=stroke_width)
        return self

    def draw_hline(self, location, stroke=DEFAULT_STROKE,
                   stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        x0, y0, x1, y1 = self._reproject_bbox(
            (self.bbox[0], location, self.bbox[2], location))
        self.annotated.line((x0, y0), (x1, y1), stroke, stroke_width)
        return self

    def draw_hlines(self, locations, stroke=DEFAULT_STROKE,
                    stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        for x in list(locations):
            self.draw_hline(x, stroke=stroke, stroke_width=stroke_width)
        return self

    def draw_rect(self, bbox_or_obj, fill=DEFAULT_FILL, stroke=DEFAULT_STROKE,
                  stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        if isinstance(bbox_or_obj, (tuple, list)):
            bbox = bbox_or_obj
        else:
            o = bbox_or_obj
            bbox = (o["x0"], o["top"], o["x1"], o["bottom"])
        x0, y0, x1, y1 = self._reproject_bbox(bbox)
        if fill is not None:
            self.annotated.fill_rect(x0, y0, x1, y1, fill)
        if stroke is not None:
            self.annotated.stroke_rect(x0, y0, x1, y1, stroke, stroke_width)
        return self

    def draw_rects(self, list_of_rects, fill=DEFAULT_FILL,
                   stroke=DEFAULT_STROKE,
                   stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        for x in _to_list(list_of_rects):
            self.draw_rect(x, fill=fill, stroke=stroke,
                           stroke_width=stroke_width)
        return self

    def draw_circle(self, center_or_obj, radius: int = 5, fill=DEFAULT_FILL,
                    stroke=DEFAULT_STROKE) -> "PageImage":
        if isinstance(center_or_obj, tuple):
            center = center_or_obj
        else:
            o = center_or_obj
            center = ((o["x0"] + o["x1"]) / 2, (o["top"] + o["bottom"]) / 2)
        cx, cy = center
        x0, y0, x1, y1 = self._reproject_bbox(
            (cx - radius, cy - radius, cx + radius, cy + radius))
        self.annotated.ellipse(x0, y0, x1, y1, fill, stroke)
        return self

    def draw_circles(self, list_of_circles, radius: int = 5,
                     fill=DEFAULT_FILL, stroke=DEFAULT_STROKE) -> "PageImage":
        for x in _to_list(list_of_circles):
            self.draw_circle(x, radius=radius, fill=fill, stroke=stroke)
        return self

    # --- debug composites (display.py:322-389) ------------------------------

    def debug_table(self, table, fill=DEFAULT_FILL, stroke=DEFAULT_STROKE,
                    stroke_width: int = 1) -> "PageImage":
        self.draw_rects(table.cells, fill=fill, stroke=stroke,
                        stroke_width=stroke_width)
        return self

    def debug_tablefinder(self, tf=None) -> "PageImage":
        if tf is None or isinstance(tf, dict):
            finder = self.page.debug_tablefinder(tf)
        elif hasattr(tf, "tables") and hasattr(tf, "edges"):
            finder = tf
        else:
            raise ValueError(
                "Argument must be a TableFinder or a settings dict."
            )
        for table in finder.tables:
            self.debug_table(table)
        edges = finder.edges
        if hasattr(edges, "to_dict"):
            edges = edges.to_dict("records")
        self.draw_lines(edges, stroke_width=1)
        inter = finder.intersections
        keys = list(inter.keys()) if hasattr(inter, "keys") else list(inter)
        self.draw_circles(
            keys, fill=COLORS.TRANSPARENT, stroke=COLORS.BLUE + (200,),
            radius=3,
        )
        return self

    def outline_words(self, stroke=DEFAULT_STROKE, fill=DEFAULT_FILL,
                      stroke_width: int = DEFAULT_STROKE_WIDTH,
                      x_tolerance=3, y_tolerance=3) -> "PageImage":
        words = self.page.extract_words(
            x_tolerance=x_tolerance, y_tolerance=y_tolerance
        )
        self.draw_rects(words, stroke=stroke, fill=fill,
                        stroke_width=stroke_width)
        return self

    def outline_chars(self, stroke=(255, 0, 0, 255),
                      fill=(255, 0, 0, 255 // 4),
                      stroke_width: int = DEFAULT_STROKE_WIDTH) -> "PageImage":
        self.draw_rects(self.page.chars, stroke=stroke, fill=fill,
                        stroke_width=stroke_width)
        return self
