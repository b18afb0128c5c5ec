"""Reference issue-regression expectations (tests/test_issues.py) via the
API facade, where the fixture is parseable offline."""

import re

import pytest

import pdfplumber_spark.api as pdfplumber
from pdfplumber_spark.kernel.pdfparse import normalize_fontname
from reforacle import REFERENCE

PDFS = f"{REFERENCE}/tests/pdfs"


def test_issue_140_cropped_table():
    # test_issues.py:150-155
    with pdfplumber.open(f"{PDFS}/issue-140-example.pdf") as pdf:
        page = pdf.pages[0]
        cropped = page.crop((0, 0, page.width, 122))
        assert len(cropped.extract_table()) == 5


def test_issue_216_no_table_returns_none():
    # test_issues.py:162-170
    with pdfplumber.open(f"{PDFS}/issue-140-example.pdf") as pdf:
        cropped = pdf.pages[0].crop((0, 0, 1, 1))
        assert cropped.extract_table() is None


def test_issue_461_842_fontname_bytes():
    # test_issues.py:199-222
    assert normalize_fontname(
        b"RGJSAP+\xcb\xce\xcc\xe5".decode("latin-1")
    ) == "RGJSAP+SimSun,Regular"
    assert normalize_fontname(
        b"\xcb\xce\xcc\xe5".decode("latin-1")
    ) == "SimSun,Regular"
    for name in ("issue-461-example", "issue-842-example"):
        with pdfplumber.open(f"{PDFS}/{name}.pdf") as pdf:
            page = pdf.pages[0]
            assert page.chars
            assert all(isinstance(c["fontname"], str) for c in page.chars)
            page.dedupe_chars()


def test_issue_598_ligatures():
    # test_issues.py:233-249
    with pdfplumber.open(f"{PDFS}/issue-598-example.pdf") as pdf:
        page = pdf.pages[0]
        a = page.extract_text()
        assert "fiction" in a and "ﬁction" not in a
        b = page.extract_text(expand_ligatures=False)
        assert "ﬁction" in b and "fiction" not in b
        assert page.extract_words()[53]["text"] == "fiction"
        assert page.extract_words(expand_ligatures=False)[53]["text"] == "ﬁction"


def test_issue_683_search_multichar():
    # test_issues.py:251-264 (ligature len > 1 in search)
    with pdfplumber.open(f"{PDFS}/issue-71-duplicate-chars-2.pdf") as pdf:
        pdf.pages[0].search(r"\d+", regex=True)


def test_issue_982_use_text_flow():
    # test_issues.py:267-282
    with pdfplumber.open(f"{PDFS}/issue-982-example.pdf") as pdf:
        page = pdf.pages[0]
        text = re.sub(r"\s+", " ", page.extract_text(use_text_flow=True))
        words = " ".join(
            w["text"] for w in page.extract_words(use_text_flow=True)
        )
        assert text[0:100] == words[0:100]


def test_issue_33_objects():
    with pdfplumber.open(f"{PDFS}/issue-33-lorem-ipsum.pdf") as pdf:
        assert pdf.objects["char"]


def test_issue_53_objects():
    with pdfplumber.open(f"{PDFS}/issue-53-example.pdf") as pdf:
        assert pdf.objects["char"]


def test_extra_attrs():
    # test_issues.py issue-67 family: words split by size via extra_attrs
    with pdfplumber.open(f"{PDFS}/issue-67-example.pdf") as pdf:
        words = pdf.pages[0].extract_words(extra_attrs=["size"])
        assert words
        assert all("size" in w for w in words)


def test_pr_138_encrypted_rc4_v4():
    # test_issues.py:137-148: RC4-128 (V4/StdCF) encrypted doc, empty password
    with pdfplumber.open(f"{PDFS}/pr-138-example.pdf") as pdf:
        page = pdf.pages[0]
        assert len(page.chars) == 5140
        assert "Home Loan Interest Rates" in page.extract_text()


def test_password_protected_rc4_v2():
    # test_basics.py:154-157: RC4 V2/R3 with user password
    with pdfplumber.open(f"{PDFS}/password-example.pdf", password="test") as pdf:
        assert "Backup4all" in pdf.pages[0].extract_text()


def test_dedupe_chars_cjk_goldens():
    # reference tests/test_dedupe_chars.py:23-74 (CID fonts, CJK text)
    with pdfplumber.open(f"{PDFS}/issue-71-duplicate-chars.pdf") as pdf:
        page = pdf.pages[0]
        assert page.extract_text().split("\n")[-1] == (
            "微微软软 培培训训课课程程：： 名名模模意意义义一一些些有有意意义义一一些些"
        )
        assert page.dedupe_chars().extract_text().split("\n")[-1] == (
            "微软 培训课程： 名模意义一些有意义一些"
        )
        w = page.extract_words()[-1]
        wd = page.dedupe_chars().extract_words()[-1]
        assert round(w["x0"], 3) == 440.143
        assert round(w["x1"], 3) == 534.992
        assert round(wd["x1"], 3) == 534.719
        assert w["text"] == "名名模模意意义义一一些些有有意意义义一一些些"
        assert wd["text"] == "名模意义一些有意义一些"


def test_dedupe_chars_accents():
    # reference tests/test_dedupe_chars.py:67-74
    with pdfplumber.open(f"{PDFS}/issue-71-duplicate-chars-2.pdf") as pdf:
        assert (
            pdf.pages[0].dedupe_chars().extract_text(y_tolerance=6).splitlines()[4]
            == "UE 8. Circulation - Métabolismes"
        )


def test_mcid_marked_content():
    # marked-content tracking (page.py:128-176) + the cli.add_text_to_mcids
    # join (cli.py:72-91): mcid -> concatenated text
    from pdfplumber_spark.kernel.pdfparse import pdf_to_frames

    fr = pdf_to_frames(open(f"{PDFS}/mcid_example.pdf", "rb").read(), style=False)
    ch = fr["chars"]
    sub = ch[ch.mcid.notna()]
    grouped = sub.groupby("mcid")["text"].apply("".join)
    assert grouped[0] == "Test of figures"
    assert grouped[2] == "1 ligne"
    assert set(t for t in ch.tag if t is not None) == {"P", "Standard"}


def test_issue_461_and_842_cp936_fontnames():
    # reference tests/test_issues.py:199-222 expectations, verbatim
    from pdfplumber_spark.kernel.pdfparse import normalize_fontname

    assert (
        normalize_fontname(b"RGJSAP+\xcb\xce\xcc\xe5".decode("latin-1"))
        == "RGJSAP+SimSun,Regular"
    )
    assert (
        normalize_fontname(b"\xcb\xce\xcc\xe5".decode("latin-1"))
        == "SimSun,Regular"
    )
    for fix in ("issue-461-example.pdf", "issue-842-example.pdf"):
        with pdfplumber.open(f"{PDFS}/{fix}") as pdf:
            page = pdf.pages[0]
            assert all(isinstance(c["fontname"], str) for c in page.chars)
            page.dedupe_chars()


def test_list_metadata_load():
    # reference tests/test_list_metadata.py:14-17
    with pdfplumber.open(f"{PDFS}/cupertino_usd_4-6-16.pdf") as pdf:
        assert len(pdf.metadata)


def test_ctm_pdffill_demo():
    # reference tests/test_ctm.py:13-37, verbatim expectations
    from pdfplumber_spark.api import CTM

    with pdfplumber.open(f"{PDFS}/pdffill-demo.pdf") as pdf:
        left_r = pdf.pages[3].chars[97]
        right_r = pdf.pages[3].chars[105]
        left_ctm = CTM(*left_r["matrix"])
        right_ctm = CTM(*right_r["matrix"])
        assert round(left_ctm.translation_x) == 126
        assert round(right_ctm.translation_x) == 372
        assert round(left_ctm.translation_y) == 519
        assert round(right_ctm.translation_y) == 562
        assert left_ctm.skew_x == 45
        assert right_ctm.skew_x == -45
        assert left_ctm.skew_y == 45
        assert right_ctm.skew_y == -45
        assert round(left_ctm.scale_x, 3) == 1
        assert round(right_ctm.scale_x, 3) == 1
        assert round(left_ctm.scale_y, 3) == 1
        assert round(right_ctm.scale_y, 3) == 1


def test_issue_14_21_203_objects_nonempty():
    # reference test_issues.py:92-100, 157-160 (incl. image-only pages)
    for fix in ("cupertino_usd_4-6-16.pdf", "150109DSP-Milw-505-90D.pdf",
                "issue-203-decimalize.pdf"):
        with pdfplumber.open(f"{PDFS}/{fix}") as pdf:
            assert len(pdf.objects), fix


def test_pr_88_word_count():
    # reference test_issues.py:117-123
    with pdfplumber.open(f"{PDFS}/pr-88-example.pdf") as pdf:
        assert len(pdf.pages[0].extract_words()) == 25


def test_issue_90_and_pr_136_extract_words():
    # reference test_issues.py:125-135 (no-crash contracts)
    for fix in ("issue-90-example.pdf", "pr-136-example.pdf"):
        with pdfplumber.open(f"{PDFS}/{fix}") as pdf:
            assert pdf.pages[0].extract_words()


def test_issue_297_int_metadata():
    # reference test_issues.py:172-178
    with pdfplumber.open(f"{PDFS}/issue-297-example.pdf") as pdf:
        assert isinstance(pdf.metadata["Copies"], int)


def test_issue_316_invalid_metadata():
    # reference test_issues.py:180-188 (nested metadata decode)
    with pdfplumber.open(f"{PDFS}/issue-316-example.pdf") as pdf:
        assert (
            pdf.metadata["Changes"][0]["CreationDate"]
            == "D:20061207105020Z00'00'"
        )
