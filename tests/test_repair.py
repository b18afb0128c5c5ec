"""Structural repair (reference repair.py:8-76 contract, offline rebuild).

The reference repairs via Ghostscript; this environment has none, so
kernel/pdfrepair.py rebuilds from a tolerant parse. These tests corrupt
synthetic PDFs in the ways crawled documents actually break (smashed xref
offsets, missing startxref, junk prepended, truncated trailer, encryption)
and require the repaired bytes to (a) pass a STRICT offset-driven xref
check and (b) extract byte-identical text to the pristine original.
"""

import io
import random

import pytest

import pdfplumber_spark.api as pdfplumber
from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.pdfrepair import repair_bytes, strict_check
from pdfplumber_spark.repair import repair
from pdfbuild import fine_reals_pdf, parser_buffers
from reforacle import REFERENCE


def _sample_pdf() -> bytes:
    pages = [
        {
            "width": 612, "height": 792,
            "texts": [
                {"x": 72, "top": 72, "size": 12, "text": "Repair me please"},
                {"x": 72, "top": 100, "size": 10, "text": "second line 123"},
            ],
            "rects": [{"x0": 70, "top": 60, "x1": 500, "bottom": 130}],
        },
        {
            "width": 612, "height": 792,
            "texts": [{"x": 72, "top": 72, "size": 12, "text": "page two"}],
            "tagged": True,
        },
    ]
    return make_pdf(pages)


def _texts(data: bytes):
    with pdfplumber.open(data) as pdf:
        return [p.extract_text() for p in pdf.pages]


def test_repaired_pristine_is_strict_and_identical():
    data = _sample_pdf()
    fixed = repair_bytes(data)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)
    # reals with more than six significant digits (MediaBox, /Widths, font
    # descriptor) are written back whole: the parser buffers are equal
    fine = fine_reals_pdf()
    fixed = repair_bytes(fine)
    assert strict_check(fixed)
    assert parser_buffers(fixed) == parser_buffers(fine)


def test_repair_smashed_xref_offsets():
    import re

    data = _sample_pdf()
    # zero every in-use offset in the xref table (classic crawl truncation
    # artifact: table present, offsets wrong)
    i = data.rfind(b"\nxref")
    corrupted = data[:i] + re.sub(
        rb"\d{10} 00000 n", b"0000000000 00000 n", data[i:]
    )
    assert not strict_check(corrupted)
    fixed = repair_bytes(corrupted)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)


def test_repair_missing_startxref_and_trailer():
    data = _sample_pdf()
    corrupted = data[: data.rfind(b"\nxref")]  # drop xref+trailer+startxref
    fixed = repair_bytes(corrupted)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)


def test_repair_junk_prepended_and_interleaved():
    data = _sample_pdf()
    rng = random.Random(7)
    junk = bytes(rng.randrange(256) for _ in range(512))
    # junk before header (breaks every recorded offset) + between objects
    i = data.find(b"2 0 obj")
    corrupted = junk + data[:i] + b"\n%garbage\x00\x01\x02\n" + data[i:]
    fixed = repair_bytes(corrupted)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)


def test_repair_decrypts_with_password():
    from pdfplumber_spark.kernel.pdfcrypt import encrypt_pdf

    data = _sample_pdf()
    enc = encrypt_pdf(data, user_pw="sekrit", owner_pw="owner",
                      method="aes128", seed=b"repair-test")
    fixed = repair_bytes(enc, password="sekrit")
    assert strict_check(fixed)
    assert b"/Encrypt" not in fixed
    # repaired doc opens with NO password (reference pdf.py:81-85 behavior)
    assert _texts(fixed) == _texts(data)
    fine = fine_reals_pdf()
    enc = encrypt_pdf(fine, user_pw="sekrit", method="rc4", seed=b"repair-test")
    assert parser_buffers(repair_bytes(enc, password="sekrit")) == (
        parser_buffers(fine))


def test_repair_public_api_outfile_and_bytesio(tmp_path):
    data = _sample_pdf()
    got = repair(io.BytesIO(data))
    assert isinstance(got, io.BytesIO)
    assert strict_check(got.read())
    out = tmp_path / "fixed.pdf"
    assert repair(data, outfile=out) is None
    assert strict_check(out.read_bytes())


def test_open_repair_true_roundtrip():
    data = _sample_pdf()
    corrupted = data[: data.rfind(b"xref")]
    with pdfplumber.open(corrupted, repair=True) as pdf:
        assert [p.extract_text() for p in pdf.pages] == _texts(data)


def test_repair_unrecoverable_raises():
    with pytest.raises(ValueError):
        repair_bytes(b"not a pdf at all, nothing to salvage here")


@pytest.mark.parametrize("name", [
    "scotus-transcript-p1.pdf",
    "issue-192-example.pdf",
    "pdffill-demo.pdf",
])
def test_repair_real_fixture_preserves_text(name):
    data = open(f"{REFERENCE}/tests/pdfs/{name}", "rb").read()
    fixed = repair_bytes(data)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)


def test_distributed_extract_repair_flag(spark, tmp_path):
    """extract_text(repair=True) recovers corrupted payloads that default
    extraction reports as error rows (junk-prepended + smashed-xref docs);
    default behavior is unchanged (opt-in, like the reference)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdfplumber_spark.plans.extract import extract_text, read_pages

    good = _sample_pdf()
    i = good.rfind(b"\nxref")
    import re as _re

    smashed = good[:i] + _re.sub(
        rb"\d{10} 00000 n", b"0000000000 00000 n", good[i:]
    )
    junked = b"\x00garbage-prefix\x00" + good
    rows = [
        {"url": "synth://ok", "html": good},
        {"url": "synth://smashed", "html": smashed},
        {"url": "synth://junked", "html": junked},
    ]
    p = str(tmp_path / "pages.parquet")
    pq.write_table(pa.Table.from_pylist(rows, schema=pa.schema(
        [("url", pa.string()), ("html", pa.binary())])), p)
    pages = read_pages(spark, p)

    fixed = extract_text(pages, num_partitions=2, repair=True).toPandas()
    ok_by_url = fixed.groupby("url")["status"].apply(lambda s: set(s))
    assert ok_by_url["synth://smashed"] == {"ok"}
    assert ok_by_url["synth://junked"] == {"ok"}
    texts = fixed[fixed.status == "ok"].groupby("url")["text"].apply(
        lambda s: tuple(sorted(x or "" for x in s))
    )
    assert texts["synth://smashed"] == texts["synth://ok"]
    assert texts["synth://junked"] == texts["synth://ok"]


def test_in_stream_false_header_does_not_poison_object(spark=None):
    """Round-3 ADVICE: a binary stream body containing 'N 0 obj' bytes —
    LATER in the file than the real object N — must not override a merely
    offset-smashed object N with garbage. Object 3 is the page content
    stream of _sample_pdf(); the decoy re-defines it as <</Fake true>>."""
    import re

    data = _sample_pdf()
    decoy_body = b"junk 3 0 obj\n<</Fake true>>\nmore junk padding bytes"
    decoy = (
        b"999 0 obj\n<</Length %d>>\nstream\n%s\nendstream\nendobj\n"
        % (len(decoy_body), decoy_body)
    )
    # append the decoy after %%EOF (strict readers ignore; brute scan sees)
    poisoned = data + decoy
    # smash ONLY object 3's xref offset so _correct_xref must re-locate it
    i = poisoned.rfind(b"\nxref")
    table = poisoned[i:]
    entries = list(re.finditer(rb"\d{10} 00000 n \n", table))
    ent3 = entries[2]  # object 3 (entries are 1..N after the free line)
    table = (
        table[: ent3.start()]
        + b"0000000003 00000 n \n"
        + table[ent3.end():]
    )
    poisoned = poisoned[:i] + table

    fixed = repair_bytes(poisoned)
    assert strict_check(fixed)
    assert _texts(fixed) == _texts(data)
    # object 3 must be the real content stream, not the decoy dict (the
    # decoy CONTAINER object 999 is legitimately preserved verbatim, so
    # '/Fake' may appear inside its stream body — just not as object 3)
    import re as _re

    m3 = _re.search(rb"\n3 0 obj\n(.{0,40})", fixed, _re.S)
    assert m3 and b"/Fake" not in m3.group(1)


def test_all_copies_in_stream_still_recovers():
    """Last-resort path: when the ONLY scan hit for an object lies inside a
    stream body (e.g. an embedded PDF-in-PDF fragment), a parseable header
    is still accepted rather than dropping the object number entirely."""
    shard = b"7 0 obj\n<</Marker true>>\nendobj\n"
    container = (
        b"%PDF-1.4\n"
        b"1 0 obj\n<</Type/Catalog/Pages 2 0 R>>\nendobj\n"
        b"2 0 obj\n<</Type/Pages/Kids[3 0 R]/Count 1>>\nendobj\n"
        b"3 0 obj\n<</Type/Page/Parent 2 0 R/MediaBox[0 0 100 100]>>\nendobj\n"
        b"4 0 obj\n<</Length " + str(len(shard)).encode()
        + b">>\nstream\n" + shard + b"\nendstream\nendobj\n"
        b"trailer\n<</Root 1 0 R>>\n"
    )
    fixed = repair_bytes(container)
    assert strict_check(fixed)
    assert b"/Marker" in fixed  # object 7 recovered from inside the stream
