"""PDF page splitter: one N-page payload -> N standalone 1-page payloads.

The mega-document skew weapon (SCALE.md §2): a 10,000-page PDF is a single
input ROW, so row-level repartitioning cannot spread its parse cost. This
module re-serializes each page (content streams + transitively referenced
resources, streams kept compressed as-is) into a minimal standalone PDF, so
the *source* can explode skewed documents into per-page rows before the
parse stage — page-level parallelism with no kernel changes.

Cheap by construction: the xref/page-tree walk touches only object headers;
stream bytes are copied raw (no re-compression).
"""

from __future__ import annotations

from typing import List, Optional

from .pdfparse import Name, PDFDocument, Ref
from .pdfwrite import serialize, write_pdf

_DROP_PAGE_KEYS = {"Type", "Parent", "B", "StructParents", "Tabs", "Metadata",
                   "_ref"}


def _one_page(doc: PDFDocument, spec: dict, page_nums: set) -> bytes:
    """A standalone PDF of the page ``spec``: object 1 its page tree, 2 the
    page, 3 the catalog, then every object the page reaches, copied once.
    A reference to another page of the source (an annotation's /P, a /Dest)
    is written as null: following it would pull in that page and, by its
    /Parent, the whole source page tree."""
    # object 0 is never in use, so Ref(0, 0) can stand for the page tree
    new_num = {0: 1, spec["_ref"]: 2}
    queue: List[int] = []

    def ref(r: Ref) -> Optional[int]:
        if r.num not in new_num:
            if r.num in page_nums:
                return None
            new_num[r.num] = 4 + len(queue)
            queue.append(r.num)
        return new_num[r.num]

    page = {"Type": Name("Page"), "Parent": Ref(0, 0)}
    page.update((k, v) for k, v in spec.items()
                if k not in _DROP_PAGE_KEYS and v is not None)
    bodies = {
        1: serialize({"Type": Name("Pages"), "Kids": [Ref(2, 0)], "Count": 1}),
        2: serialize(page, ref),
        3: serialize({"Type": Name("Catalog"), "Pages": Ref(1, 0)}),
    }
    for num in queue:  # grows while it is walked: the copied graph
        bodies[new_num[num]] = serialize(doc.get_object(num), ref)
    return write_pdf(b"%PDF-1.5\n", bodies, {"Root": Ref(3, 0)})


def count_pages(data: bytes) -> int:
    """Cheap page count (xref + page-tree walk only)."""
    try:
        return len(PDFDocument(data).pages())
    except Exception:  # noqa: BLE001
        return 0


def split_pdf_pages(
    data: bytes, page_numbers: Optional[List[int]] = None
) -> List[bytes]:
    """Standalone 1-page PDFs, one per (selected) page, in page order.

    Page dicts keep MediaBox/CropBox/Rotate/Resources/Contents/Annots;
    referenced objects (fonts, xobjects, streams) are copied raw.
    """
    doc = PDFDocument(data)
    specs = doc.pages()
    page_nums = {spec["_ref"] for spec in specs}
    return [
        _one_page(doc, spec, page_nums)
        for pn, spec in enumerate(specs, start=1)
        if page_numbers is None or pn in page_numbers
    ]
