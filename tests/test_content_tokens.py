"""The object parser's arrays and the content-stream tokenizer.

Expected values are written by hand from the Lexer's rules: a number token
with a '.', 'e' or 'E' is a float, any other an int, and a token float()
or int() rejects is 0; ``num gen R`` is a reference; names decode ``#xx``
escapes; comments run to the end of the line.
"""

from itertools import islice

import pytest

from pdfplumber_spark.kernel.pdfparse import (
    Lexer, Name, Ref, parse_object, tokenize_content,
)


def parse(src: bytes):
    return parse_object(Lexer(src))


def typed(v):
    """``v`` with the type of every number, list and name spelled out."""
    if isinstance(v, list):
        return [typed(x) for x in v]
    if isinstance(v, Ref):
        return ("R", v.num, v.gen)
    return (type(v).__name__, v)


@pytest.mark.parametrize("src,want", [
    (b"[]", []),
    (b"[ ]", []),
    (b"[1 2 3]", [1, 2, 3]),
    (b"[ 612 792.5 ]", [612, 792.5]),
    (b"[-.5 +3 5. 1e3]", [-0.5, 3, 5.0, 1000.0]),
    (b"[1 %c\n 2]", [1, 2]),
    (b"[1.2.3 4]", [0, 4]),
    (b"[1-2 .]", [0, 0]),
    (b"[1 [2 [3 /N#20x]] (s) <41>]", [1, [2, [3, Name("N x")]], b"s", b"A"]),
])
def test_arrays(src, want):
    assert typed(parse(src)) == typed(want)


def test_array_of_references():
    got = parse(b"[1 0 R 2 0 R 7]")
    assert typed(got) == [("R", 1, 0), ("R", 2, 0), ("int", 7)]


def test_array_ends_where_its_bracket_does():
    lex = Lexer(b"[1 2] 3 [/A 4]<</K [5.5]>>")
    assert parse_object(lex) == [1, 2]
    assert parse_object(lex) == 3
    assert parse_object(lex) == ["A", 4]
    assert parse_object(lex) == {"K": [5.5]}


def test_array_names_decode_escapes_like_top_level_names():
    assert list(tokenize_content(b"[/A#20B] TJ /A#20B")) == [
        ["A B"], ("kw", "TJ"), "A B"]
    (arr, _, name) = tokenize_content(b"[/A#20B] TJ /A#20B")
    assert isinstance(arr[0], Name) and isinstance(name, Name)
    assert parse(b"[/A#20B]") == ["A B"]


@pytest.mark.parametrize("src,want", [
    # whitespace before the closing bracket of a TJ array
    (b"[(a) -20 (b) ] TJ", [[b"a", -20, b"b"], ("kw", "TJ")]),
    (b"[ (a)\n\t-20.5\r\n(b)\n] TJ", [[b"a", -20.5, b"b"], ("kw", "TJ")]),
    # comments between operands, and one ending the stream
    (b"1 %one\n2.5 %two\r\nTd %end", [1, 2.5, ("kw", "Td")]),
    # a hex string after whitespace, at top level and in an array
    (b"  <4142> Tj [ <43> 5 ] TJ",
     [b"AB", ("kw", "Tj"), [b"C", 5], ("kw", "TJ")]),
    # trailing whitespace
    (b"1 0 0 RG \n  \t\x00", [1, 0, 0, ("kw", "RG")]),
    (b"q\n", [("kw", "q")]),
    (b" \n", []),
])
def test_content_tokens(src, want):
    assert typed(list(tokenize_content(src))) == typed(want)


def test_inline_image_between_operators():
    toks = list(tokenize_content(
        b"q BI /W 2 /H 1 /BPC 8 /CS /G ID \x01\x02 EI Q"))
    assert toks[0] == ("kw", "q")
    kind, op, attrs, data = toks[1]
    assert (kind, op) == ("iiop", "INLINE_IMAGE")
    assert attrs == {"Width": 2, "Height": 1, "BitsPerComponent": 8,
                     "ColorSpace": "DeviceGray"}
    assert data == b"\x01\x02"
    assert toks[2:] == [("kw", "Q")]


def test_unterminated_hex_string_ends_the_data():
    """A '<' with no '>' after it reads the rest of the data as hex digits
    and ends the tokens; the lexer must not start over at offset 0, which
    would repeat the stream's tokens forever."""
    assert list(islice(tokenize_content(b"1 <41 Tj"), 10)) == [1, b"A"]
    assert parse(b"[<41") == [b"A"]
    lex = Lexer(b"<414")
    assert (lex.next_token(), lex.next_token()) == (b"A@", None)
