"""The object parser's arrays and the content-stream scanner.

Expected values are written by hand from the Lexer's rules: a number token
with a '.', 'e' or 'E' is a float, any other an int, and a token float()
or int() rejects is 0; ``num gen R`` is a reference; names decode ``#xx``
escapes; comments run to the end of the line.

The scanner, ``content_ops``, pushes operands onto a stack and yields each
operator; :func:`tokens` turns that back into one token list, an operator
as ``("kw", op)``, so the cases read as the token stream they stand for.
"""

from itertools import islice

import pytest

from pdfplumber_spark.kernel.pdfparse import (
    Lexer, Name, Ref, StreamObj, content_ops, parse_object,
)


def tokens(src: bytes, limit: int = 1000) -> list:
    """The operands and operators ``content_ops`` reads from ``src``, in
    order, an operator as ``("kw", op)``; at most ``limit`` operators."""
    stack, out = [], []
    for op in islice(content_ops(src, stack), limit):
        out += stack
        stack.clear()
        out.append(("kw", op.decode("latin-1")))
    return out + stack


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


def test_number_int_rejects_is_0_also_in_a_reference():
    """A number token longer than int() parses (4300 digits on CPython)
    is 0, as the object number of ``num gen R`` too."""
    huge = b"9" * 4400
    assert typed(parse(b"[" + huge + b" 0 R 1]")) == [("R", 0, 0), ("int", 1)]
    got = parse(b"<</A " + huge + b" 0 R/B 2>>")
    assert typed([got["A"], got["B"]]) == [("R", 0, 0), ("int", 2)]


def test_array_ends_where_its_bracket_does():
    lex = Lexer(b"[1 2] 3 [/A 4]<</K [5.5]>>")
    assert parse_object(lex) == [1, 2]
    assert parse_object(lex) == 3
    assert parse_object(lex) == ["A", 4]
    assert parse_object(lex) == {"K": [5.5]}


def test_array_names_decode_escapes_like_top_level_names():
    assert tokens(b"[/A#20B] TJ /A#20B") == [["A B"], ("kw", "TJ"), "A B"]
    (arr, _, name) = tokens(b"[/A#20B] TJ /A#20B")
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
    assert typed(tokens(src)) == typed(want)


KW = lambda op: ("kw", op)  # noqa: E731 - an operator token


@pytest.mark.parametrize("src,want", [
    # operators glued to the delimiter before them
    (b"(a)Tj", [b"a", KW("Tj")]),
    (b"/F1 12Tf", [Name("F1"), 12, KW("Tf")]),
    (b"[(a)-20(b)]TJ", [[b"a", -20, b"b"], KW("TJ")]),
    # numbers: a '.' makes a float, a sign is optional, a second '.'
    # starts the next number, and a lone '.' is an operator
    (b"5. -.5 +3 1.2.3 Td", [5.0, -0.5, 3, 1.2, 0.3, KW("Td")]),
    (b"1.2.3.4 -3-4 .5. Td", [1.2, 0.3, 0.4, -3, -4, 0.5, KW("."), KW("Td")]),
    (b"1 0 0 1 2 3 cm", [1, 0, 0, 1, 2, 3, KW("cm")]),
    # empty, nested and escaped strings, a line continuation
    (b"() Tj (a(b)c) Tj (a\\)b\\n\\101) Tj",
     [b"", KW("Tj"), b"a(b)c", KW("Tj"), b"a)b\nA", KW("Tj")]),
    (b"(\\\n) Tj", [b"", KW("Tj")]),
    # a hex string over several lines, with an odd digit count
    (b"<41\n42 4\r\n3> Tj", [b"ABC", KW("Tj")]),
    (b"<4142 4> Tj", [b"AB@", KW("Tj")]),
    # a dict before BDC, an array before d, a trailing name for scn
    (b"/P <</MCID 3>>BDC", [Name("P"), {"MCID": 3}, KW("BDC")]),
    (b"/Span<</ActualText(x)/MCID 0>> BDC",
     [Name("Span"), {"ActualText": b"x", "MCID": 0}, KW("BDC")]),
    (b"[3 2] 0 d", [[3, 2], 0, KW("d")]),
    (b"/P0 scn 0.5 /P1 scn", [Name("P0"), KW("scn"), 0.5, Name("P1"), KW("scn")]),
    # NUL is whitespace; comments inside a TJ array; a comment ending the
    # stream with no newline after it
    (b"1\x002\x00Td", [1, 2, KW("Td")]),
    (b"[(a) %c\n -20 (b)%d\r] TJ", [[b"a", -20, b"b"], KW("TJ")]),
    (b"q %end", [KW("q")]),
    # a stray ] > } ) or { is skipped; a second ] closes nothing
    (b"1 ] 2 > 3 } 4 ) 5 { Td", [1, 2, 3, 4, 5, KW("Td")]),
    (b"[(a)] ]TJ", [[b"a"], KW("TJ")]),
    # inside an array an operator is a keyword token, and nested arrays
    # and dicts go through the object parser
    (b"[(a) Tj 1.5] TJ", [[b"a", KW("Tj"), 1.5], KW("TJ")]),
    (b"[1 true 2] 0 d", [[1, KW("true"), 2], 0, KW("d")]),
    (b"[(a) [1 2] <</A 1>>] TJ", [[b"a", [1, 2], {"A": 1}], KW("TJ")]),
])
def test_token_rules(src, want):
    assert typed(tokens(src)) == typed(want)


def test_inline_image_between_operators():
    toks = tokens(b"q BI /W 2 /H 1 /BPC 8 /CS /G ID \x01\x02 EI Q")
    assert toks[0] == ("kw", "q")
    img, op = toks[1:3]
    assert op == ("kw", "BI") and isinstance(img, StreamObj)
    assert img.attrs == {"Width": 2, "Height": 1, "BitsPerComponent": 8,
                         "ColorSpace": "DeviceGray"}
    assert img.raw == b"\x01\x02"
    assert toks[3:] == [("kw", "Q")]


def test_malformed_inline_image_is_skipped_to_its_ei():
    assert tokens(b"1 BI /W /X ID EI 2 Td") == [1, 2, ("kw", "Td")]


def test_unterminated_hex_string_ends_the_data():
    """A '<' with no '>' after it reads the rest of the data as hex digits
    and ends the tokens; the lexer must not start over at offset 0, which
    would repeat the stream's tokens forever."""
    assert tokens(b"1 <41 Tj", limit=10) == [1, b"A"]
    assert parse(b"[<41") == [b"A"]
    lex = Lexer(b"<414")
    assert (lex.next_token(), lex.next_token()) == (b"A@", None)
