"""Standard-security-handler coverage: RC4 V2/R3, AES-128 (V4/R4 AESV2),
AES-256 (V5/R6 AESV3) — encrypted twins must extract byte-identically to
their plaintext originals (reference behavior: pdfminer's handlers via
pdfplumber.open(password=...), reference tests/test_basics.py:154-157 and
tests/test_issues.py:137-148)."""

import pytest

from pdfbuild import fine_reals_pdf, parser_buffers
from pdfplumber_spark import api as pdfplumber
from pdfplumber_spark.kernel.pdfcrypt import encrypt_pdf
from pdfplumber_spark.kernel.pdfgen import make_pdf
from pdfplumber_spark.kernel.pdfparse import pdf_to_frames


def _plain_pdf():
    texts = [
        {"x": 72.0, "top": 72.0 + i * 15, "size": 12,
         "text": f"secret line {i} with some words"}
        for i in range(12)
    ]
    links = [{"x0": 72, "top": 72, "x1": 220, "bottom": 87,
              "uri": "https://example.com/enc"}]
    return make_pdf([{"width": 612, "height": 792, "texts": texts,
                      "links": links}])


PLAIN = _plain_pdf()
F0 = pdf_to_frames(PLAIN)


@pytest.mark.parametrize("method", ["rc4", "aes128", "aes256", "aes256r5"])
@pytest.mark.parametrize("pw", ["", "s3cret"])
def test_roundtrip_byte_identical(method, pw):
    enc = encrypt_pdf(PLAIN, user_pw=pw, method=method)
    f1 = pdf_to_frames(enc, password=pw)
    assert f1["chars"]["text"].tolist() == F0["chars"]["text"].tolist()
    assert f1["chars"]["x0"].tolist() == F0["chars"]["x0"].tolist()
    assert f1["chars"]["fontname"].tolist() == F0["chars"]["fontname"].tolist()
    assert f1["annots"]["uri"].tolist() == F0["annots"]["uri"].tolist()
    # reals with more than six significant digits (MediaBox, /Widths, font
    # descriptor) are written back whole: the parser buffers are equal
    fine = fine_reals_pdf()
    enc = encrypt_pdf(fine, user_pw=pw, method=method)
    assert parser_buffers(enc, password=pw) == parser_buffers(fine)


@pytest.mark.parametrize("method", ["rc4", "aes128", "aes256"])
def test_owner_password_opens(method):
    enc = encrypt_pdf(PLAIN, user_pw="user", owner_pw="boss", method=method)
    f1 = pdf_to_frames(enc, password="boss")
    assert f1["chars"]["text"].tolist() == F0["chars"]["text"].tolist()


@pytest.mark.parametrize("method", ["rc4", "aes128", "aes256"])
def test_wrong_password_raises(method):
    enc = encrypt_pdf(PLAIN, user_pw="right", method=method)
    with pytest.raises(ValueError):
        pdf_to_frames(enc, password="wrong")


def test_api_open_with_password_aes():
    enc = encrypt_pdf(PLAIN, user_pw="k3y", method="aes256")
    with pdfplumber.open(enc, password="k3y") as pdf:
        txt = pdf.pages[0].extract_text()
    with pdfplumber.open(PLAIN) as pdf:
        assert pdf.pages[0].extract_text() == txt
    assert "secret line 0" in txt


def test_plan_error_row_for_wrong_password(spark):
    """Spark plan contract: password-locked payloads become error rows, not
    job failures (crawl reality: most encrypted PDFs use an empty user
    password and extract fine; the locked minority must not kill the job)."""
    from pdfplumber_spark.plans.extract import extract_text

    locked = encrypt_pdf(PLAIN, user_pw="nope", method="aes128")
    open_enc = encrypt_pdf(PLAIN, user_pw="", method="aes256")
    df = spark.createDataFrame(
        [("synth://locked", bytearray(locked)),
         ("synth://open-enc", bytearray(open_enc))],
        "url string, html binary",
    )
    out = {r["url"]: r for r in extract_text(df).collect()}
    assert out["synth://locked"]["status"] == "error"
    assert out["synth://open-enc"]["status"] == "ok"
    with pdfplumber.open(PLAIN) as pdf:
        assert out["synth://open-enc"]["text"] == pdf.pages[0].extract_text()
