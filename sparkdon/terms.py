"""RDF term model — Python-side term classes and Spark-side term encoding.

Reference semantics: gastrodon delegates terms to rdflib's ``URIRef`` /
``BNode`` / ``Literal`` (gastrodon/__init__.py:21) and decodes SPARQL-JSON
terms in ``_jsonToNode`` (gastrodon/__init__.py:651-662); Python values are
round-tripped via ``to_python`` (gastrodon/__init__.py:262-293) and
``_toRDF`` (gastrodon/__init__.py:807-809).

Spark encoding (SURVEY.md §1.4): a term is a struct
``struct<kind: string, lex: string, dt: string, lang: string>`` where
``kind`` is ``iri`` | ``bnode`` | ``lit`` (NULL column value = unbound
variable).  Triple tables flatten this into sibling columns
``s_kind, s, p, o_kind, o, o_dt, o_lang`` (FIXTURES.md §A) — the predicate
is always an IRI so it needs no kind/dt/lang.

The SPARQL total order (unbound < bnode < IRI < literal; numeric literals
by value, others lexically) is exposed as :func:`sort_key` — a pure Column
expression so ORDER BY stays inside whole-stage codegen.
"""

from __future__ import annotations

import datetime
import decimal
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS = "http://www.w3.org/2000/01/rdf-schema#"
OWL = "http://www.w3.org/2002/07/owl#"

XSD_INTEGER = XSD + "integer"
XSD_DECIMAL = XSD + "decimal"
XSD_DOUBLE = XSD + "double"
XSD_FLOAT = XSD + "float"
XSD_BOOLEAN = XSD + "boolean"
XSD_STRING = XSD + "string"
XSD_DATETIME = XSD + "dateTime"
XSD_DATE = XSD + "date"

#: datatype IRIs whose literals compare numerically
NUMERIC_DATATYPES = frozenset(
    XSD + local
    for local in (
        "integer", "decimal", "double", "float", "long", "int", "short",
        "byte", "nonNegativeInteger", "positiveInteger", "negativeInteger",
        "nonPositiveInteger", "unsignedLong", "unsignedInt", "unsignedShort",
        "unsignedByte",
    )
)

KIND_IRI = "iri"
KIND_BNODE = "bnode"
KIND_LIT = "lit"


class IRI(str):
    """An IRI as a ``str`` subclass (mirrors ``GastrodonURI``,
    gastrodon/__init__.py:54-75: display-friendly string that still
    round-trips to the full IRI)."""

    __slots__ = ()

    def n3(self) -> str:
        return f"<{self}>"

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"IRI({str.__repr__(self)})"


class BNode(str):
    """A blank-node label as a ``str`` subclass."""

    __slots__ = ()

    def n3(self) -> str:
        return f"_:{self}"

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"BNode({str.__repr__(self)})"


class Literal:
    """An RDF literal: lexical form + optional datatype IRI + language tag."""

    __slots__ = ("lex", "datatype", "lang")

    def __init__(self, lex: str, datatype: str | None = None, lang: str | None = None):
        self.lex = str(lex)
        self.datatype = datatype
        self.lang = lang

    def __eq__(self, other: object) -> bool:
        return (
            isinstance(other, Literal)
            and self.lex == other.lex
            and self.datatype == other.datatype
            and self.lang == other.lang
        )

    def __hash__(self) -> int:
        return hash((self.lex, self.datatype, self.lang))

    def n3(self) -> str:
        out = '"' + self.lex.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n") + '"'
        if self.lang:
            return out + "@" + self.lang
        if self.datatype and self.datatype != XSD_STRING:
            return out + "^^<" + self.datatype + ">"
        return out

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return f"Literal({self.lex!r}, datatype={self.datatype!r}, lang={self.lang!r})"


def term_struct_type() -> T.StructType:
    """The Spark struct type for a single term-valued binding column."""
    return T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("lex", T.StringType()),
            T.StructField("dt", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )


#: Flattened triple-table schema (FIXTURES.md §A).
TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("s_kind", T.StringType(), False),
        T.StructField("s", T.StringType(), False),
        T.StructField("p", T.StringType(), False),
        T.StructField("o_kind", T.StringType(), False),
        T.StructField("o", T.StringType(), False),
        T.StructField("o_dt", T.StringType(), True),
        T.StructField("o_lang", T.StringType(), True),
    ]
)

#: named-graph quad layout: the triple columns plus the graph IRI.  The
#: named store holds ONLY named-graph rows (the default graph lives in
#: its own triple frame), so ``g`` is non-null by construction.
QUAD_SCHEMA = T.StructType(
    list(TRIPLE_SCHEMA.fields) + [T.StructField("g", T.StringType(), False)]
)


def named_or_empty(spark, named):
    """The named-graph quad store, or an empty one for a dataset that has
    none (``named`` None: GRAPH matches nothing)."""
    return named if named is not None else spark.createDataFrame([], QUAD_SCHEMA)


def make_term(kind: Column | str, lex: Column, dt: Column | None = None,
              lang: Column | None = None) -> Column:
    """Build a term struct Column from components."""
    if isinstance(kind, str):
        kind = F.lit(kind)
    dt = dt if dt is not None else F.lit(None).cast("string")
    lang = lang if lang is not None else F.lit(None).cast("string")
    return F.struct(
        kind.alias("kind"), lex.alias("lex"), dt.alias("dt"), lang.alias("lang")
    )


def iri_term(lex: Column | str) -> Column:
    if isinstance(lex, str):
        lex = F.lit(lex)
    return make_term(KIND_IRI, lex)


def lit_term(lex: Column, dt: Column | str | None = None, lang: Column | str | None = None) -> Column:
    if isinstance(dt, str):
        dt = F.lit(dt)
    if isinstance(lang, str):
        lang = F.lit(lang)
    return make_term(KIND_LIT, lex.cast("string"), dt, lang)


def numeric_value(term: Column) -> Column:
    """Numeric value of a term, NULL when not a numeric literal.

    Kept as a derived expression (not a stored column) so binding structs
    stay canonical for join equality; Catalyst folds the IN-set into a
    hash-set membership test.
    """
    # try_cast: Spark 4 runs ANSI mode by default, and Catalyst may evaluate
    # the cast on rows the when-guard would reject (union-branch pruning,
    # common-subexpression reuse) — a plain cast then throws on IRI lexforms.
    return F.when(
        (term["kind"] == KIND_LIT) & term["dt"].isin(*NUMERIC_DATATYPES),
        term["lex"].try_cast("double"),
    )


def sort_key(term: Column) -> Column:
    """SPARQL total-order sort key (SURVEY.md §4.2 item 2).

    unbound < bnode < IRI < literal; numeric literals order by value before
    non-numeric literals order lexically.  Struct columns compare
    field-by-field in Spark, so ``orderBy(sort_key(c))`` yields the total
    order with one expression — no UDF, stays in codegen.
    """
    rank = (
        F.when(term.isNull(), F.lit(0))
        .when(term["kind"] == KIND_BNODE, F.lit(1))
        .when(term["kind"] == KIND_IRI, F.lit(2))
        .otherwise(F.lit(3))
    )
    num = numeric_value(term)
    return F.struct(
        rank.alias("rank"),
        # numeric literals (num not null) sort before non-numeric ones
        F.when(num.isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("isnum"),
        F.coalesce(num, F.lit(0.0)).alias("num"),
        F.coalesce(term["lex"], F.lit("")).alias("lex"),
        F.coalesce(term["lang"], F.lit("")).alias("lang"),
        F.coalesce(term["dt"], F.lit("")).alias("dt"),
    )


def to_python(kind: str | None, lex: str | None, dt: str | None, lang: str | None) -> Any:
    """Decode a term-struct row into a Python value.

    Mirrors gastrodon ``to_python`` (gastrodon/__init__.py:262-293): IRIs
    come back as :class:`IRI` strings, numeric literals as int/float,
    booleans as bool, other literals as plain strings.
    """
    if kind is None:
        return None
    if kind == KIND_IRI:
        return IRI(lex)
    if kind == KIND_BNODE:
        return BNode(lex)
    if lang:
        return lex
    if dt is None or dt == XSD_STRING:
        return lex
    if dt == XSD_INTEGER or dt in NUMERIC_DATATYPES and dt not in (XSD_DOUBLE, XSD_FLOAT, XSD_DECIMAL):
        try:
            return int(lex)
        except ValueError:
            return lex
    if dt in (XSD_DOUBLE, XSD_FLOAT):
        try:
            return float(lex)
        except ValueError:
            return lex
    if dt == XSD_DECIMAL:
        try:
            return decimal.Decimal(lex)
        except decimal.InvalidOperation:
            return lex
    if dt == XSD_BOOLEAN:
        return lex in ("true", "1")
    if dt == XSD_DATETIME:
        try:
            return datetime.datetime.fromisoformat(lex)
        except ValueError:
            return lex
    if dt == XSD_DATE:
        try:
            return datetime.date.fromisoformat(lex)
        except ValueError:
            return lex
    return lex


def python_to_term(value: Any) -> tuple[str, str, str | None, str | None]:
    """Encode a Python value as (kind, lex, dt, lang).

    Mirrors rdflib's ``_castPythonToLiteral`` usage at
    gastrodon/__init__.py:807-809 for the types the reference supports
    (int/float/bool/str/datetime/decimal, plus IRIs/BNodes).
    """
    if isinstance(value, IRI):
        return (KIND_IRI, str(value), None, None)
    if isinstance(value, BNode):
        return (KIND_BNODE, str(value), None, None)
    if isinstance(value, Literal):
        return (KIND_LIT, value.lex, value.datatype, value.lang)
    if isinstance(value, bool):
        return (KIND_LIT, "true" if value else "false", XSD_BOOLEAN, None)
    if isinstance(value, int):
        return (KIND_LIT, str(value), XSD_INTEGER, None)
    if isinstance(value, float):
        return (KIND_LIT, repr(value), XSD_DOUBLE, None)
    if isinstance(value, decimal.Decimal):
        return (KIND_LIT, str(value), XSD_DECIMAL, None)
    if isinstance(value, datetime.datetime):
        return (KIND_LIT, value.isoformat(), XSD_DATETIME, None)
    if isinstance(value, datetime.date):
        return (KIND_LIT, value.isoformat(), XSD_DATE, None)
    if isinstance(value, str):
        return (KIND_LIT, value, None, None)
    raise TypeError(f"cannot convert {type(value).__name__} to an RDF term")


def n3(value: Any) -> str:
    """N3/Turtle serialization of a Python value (used by ``?_x``
    substitution — gastrodon/__init__.py:348-369)."""
    if isinstance(value, (IRI, BNode, Literal)):
        return value.n3()
    kind, lex, dt, lang = python_to_term(value)
    if kind == KIND_IRI:
        return f"<{lex}>"
    if kind == KIND_BNODE:
        return f"_:{lex}"
    return Literal(lex, dt, lang).n3()
