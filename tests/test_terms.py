"""Property-based tests (hypothesis) for the term layer: encode/decode
round-trips and N3/N-Triples escaping (SURVEY.md §5.2 'property-based')."""

from __future__ import annotations

import datetime

from hypothesis import given, settings
from hypothesis import strategies as st

from sparkdon import terms
from sparkdon.algebra import Parser, tokenize, unescape_string

simple_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=80)


@given(st.one_of(
    st.integers(min_value=-2**62, max_value=2**62),
    st.booleans(),
    simple_text,
    st.datetimes(min_value=datetime.datetime(1900, 1, 1),
                 max_value=datetime.datetime(2100, 1, 1)),
))
@settings(max_examples=200)
def test_python_term_roundtrip(value):
    kind, lex, dt, lang = terms.python_to_term(value)
    back = terms.to_python(kind, lex, dt, lang)
    assert back == value


@given(st.floats(allow_nan=False, allow_infinity=False))
@settings(max_examples=200)
def test_float_roundtrip(value):
    kind, lex, dt, lang = terms.python_to_term(value)
    back = terms.to_python(kind, lex, dt, lang)
    assert back == value  # repr() round-trips doubles exactly


@given(simple_text, st.one_of(st.none(), st.sampled_from(["en", "de", "zh-CN"])))
@settings(max_examples=200)
def test_literal_n3_parses_back(lex, lang):
    lit = terms.Literal(lex, lang=lang)
    n3 = lit.n3()
    # tokenizes as a single STRING (+ optional LANGTAG) and unescapes back
    toks = tokenize(n3)
    assert toks[0].kind == "STRING"
    assert unescape_string(toks[0].text) == lex


@given(st.integers(min_value=-10**15, max_value=10**15))
@settings(max_examples=100)
def test_integer_literal_parses_as_term(n):
    p = Parser(f"SELECT ?s {{ ?s ?p {n} }}")
    q = p.parse_query()
    tp = q.where.elements[0]
    assert isinstance(tp.o, terms.Literal)
    assert tp.o.datatype == terms.XSD + "integer"
    assert int(tp.o.lex) == n


@given(simple_text)
@settings(max_examples=200)
def test_sparql_string_literal_roundtrip(s):
    lit = terms.Literal(s)
    sparql = f"SELECT ?x {{ ?x ?p {lit.n3()} }}"
    q = Parser(sparql).parse_query()
    tp = q.where.elements[0]
    assert isinstance(tp.o, terms.Literal)
    assert tp.o.lex == s


def test_prefixed_names_take_the_sparql_character_classes():
    """PN_PREFIX / PN_LOCAL take SPARQL 1.1's PN_CHARS_BASE and PN_CHARS
    (§19.8), so non-ASCII prefixes, local parts and variable names
    parse; a local part never ends in ``.``, ``%HH`` and ``\\``-escapes
    are local characters, and a character outside the classes (× is
    U+00D7, which PN_CHARS_BASE skips) is still rejected."""
    import pytest

    from sparkdon.errors import SparqlSyntaxError

    def values(text):
        q = Parser("PREFIX : <http://e/>\nPREFIX größe: <http://g/>\n"
                   + text).parse_query()
        return [row[0] for row in q.where.elements[0].rows]

    assert values("SELECT ?x { VALUES ?x { :Zürich } }") == [
        terms.IRI("http://e/Zürich")]
    assert values("SELECT ?x { VALUES ?x { größe:東京 größe:a·b‿c } }") == [
        terms.IRI("http://g/東京"), terms.IRI("http://g/a·b‿c")]
    assert values("SELECT ?x { VALUES ?x { :a.b :c%20d :e\\-f :1:2 } }") == [
        terms.IRI("http://e/a.b"), terms.IRI("http://e/c%20d"),
        terms.IRI("http://e/e-f"), terms.IRI("http://e/1:2")]
    q = Parser("SELECT ?straße { ?straße ?p ?o }").parse_query()
    assert q.projections[0][0].name == "straße"
    assert [t.text for t in tokenize(":a.")] == [":a", ".", ""]
    for bad in (":a×b", "?straße×", ":a%2"):
        with pytest.raises(SparqlSyntaxError, match="unexpected character"):
            tokenize(bad)
