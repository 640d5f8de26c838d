"""Basic graph patterns compiled to one Spark SQL statement
(compile.py ``Compiler.compile_bgp``): constants travel only as named
parameters, temp views never outlive a compile, SQL term ids equal
``term_id``, and the job counts and partition pruning of the Column
compiler they replaced are unchanged."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from sparkdon.session import LocalEndpoint, inline
from sparkdon.terms import IRI
from tests.conftest import spark_jobs
from tests.test_engine import LOOKUP_TTL, LOOKUPS, _customer, _lookup_endpoint, _rows

XSD_INT = "http://www.w3.org/2001/XMLSchema#integer"

#: literal and IRI constants that mean something to SQL or to the
#: ``str.format`` pass over the statement text
TRICKY_TTL = r"""
@prefix : <http://example.com/> .
:q1 :v "it's" .
:q2 :v "back\\slash" .
:q3 :v "{brace} }{" .
:q4 :v ":name and :c0" .
:q5 :v "what? ?" .
:q6 :v "a -- comment" .
:q7 :v "Zürich ✓ 東京" .
:q8 :v "chat"@fr .
:q8 :v "chat" .
:q9 :v "7"^^<http://www.w3.org/2001/XMLSchema#integer> .
:q9 :v "7" .
<http://example.com/it's?x=:c0--ü> :v "iri" .
:r1 <http://example.com/p'?:c0--> :q2 .
"""


@pytest.fixture(scope="module")
def tricky(spark):
    return inline(TRICKY_TTL, spark)


def _subjects(e, q, bindings=None):
    return sorted(r.v_s.lex for r in e.select_raw(q, bindings).collect())


def test_constants_with_sql_metacharacters_match_exactly(tricky):
    ex = "http://example.com/"
    cases = [
        ("SELECT ?s { ?s :v \"it's\" }", [ex + "q1"]),
        ("SELECT ?s { ?s :v 'back\\\\slash' }", [ex + "q2"]),
        ("SELECT ?s { ?s :v \"{brace} }{\" }", [ex + "q3"]),
        ("SELECT ?s { ?s :v \":name and :c0\" }", [ex + "q4"]),
        ("SELECT ?s { ?s :v \"what? ?\" }", [ex + "q5"]),
        ("SELECT ?s { ?s :v \"a -- comment\" }", [ex + "q6"]),
        ("SELECT ?s { ?s :v \"Zürich ✓ 東京\" }", [ex + "q7"]),
        ("SELECT ?s { ?s :v \"chat\"@fr }", [ex + "q8"]),
        ("SELECT ?s { ?s :v \"chat\" }", [ex + "q8"]),
        ("SELECT ?s { ?s :v \"chat\"@de }", []),
        ("SELECT ?s { ?s :v 7 }", [ex + "q9"]),
        ("SELECT ?s { ?s :v \"7\"^^xsd:integer . ?s :v \"7\" }", [ex + "q9"]),
        ("SELECT ?s { ?s :v \"iri\" }", [ex + "it's?x=:c0--ü"]),
        ("SELECT ?s { ?s <http://example.com/p'?:c0--> :q2 }", [ex + "r1"]),
        ("SELECT ?s { ?s ?p :q2 }", [ex + "r1"]),
    ]
    for q, expected in cases:
        assert _subjects(tricky, q) == expected, q
    # the same constants arriving through ?_x substitution
    assert _subjects(tricky, "SELECT ?s { ?s :v ?_v }",
                     {"v": "{brace} }{"}) == [ex + "q3"]
    assert _subjects(tricky, "SELECT ?s { ?_o :v ?v . ?s :v ?v }",
                     {"o": IRI(ex + "it's?x=:c0--ü")}) == [
        ex + "it's?x=:c0--ü"]
    rows = tricky.select_raw("SELECT ?p ?o { :r1 ?p ?o }").collect()
    assert [(r.v_p.lex, tuple(r.v_o)) for r in rows] == [
        (ex + "p'?:c0--", ("iri", ex + "q2", None, None))]
    rows = tricky.select_raw("SELECT ?o { :q9 :v ?o }").collect()
    assert sorted((tuple(r.v_o) for r in rows), key=repr) == [
        ("lit", "7", XSD_INT, None), ("lit", "7", None, None)]


def test_constants_reach_spark_only_as_parameters(spark, tricky, monkeypatch):
    """Every statement the compiler sends has ``args``, and no constant
    of the query appears in its text."""
    session_cls = type(spark)
    sent = []
    sql = session_cls.sql

    def recording(self, text, args=None, **kwargs):
        sent.append((text, args))
        return sql(self, text, args, **kwargs)

    monkeypatch.setattr(session_cls, "sql", recording)
    constants = ["it's", "{brace} }{", ":name and :c0", "a -- comment",
                 "Zürich ✓ 東京", "http://example.com/v", "fr"]
    for c in constants[:5]:
        tricky.select_raw("SELECT ?s { ?s :v ?_c }", {"c": c})
    tricky.select_raw('SELECT ?s { ?s :v "chat"@fr }')
    assert len(sent) == 6
    for text, args in sent:
        assert isinstance(args, dict) and args
        assert not any(c in text for c in constants), text
    assert set(constants) <= {v for _t, a in sent for v in a.values()}


def _temp_views(spark):
    return [t.name for t in spark.catalog.listTables() if t.isTemporary]


def test_no_temp_view_outlives_a_compile(spark, tricky):
    before = _temp_views(spark)
    tricky.select_raw("SELECT ?s ?o { ?s :v ?o . ?s :v \"it's\" }").collect()
    e = _lookup_endpoint(spark, use_ids=True)
    assert _rows(e.select(LOOKUPS["geo"], _customer(1))) == [
        repr({"nname": "FRANCE", "rname": "EUROPE"})]
    # a source frame without ``o_lang``: analysis fails inside the
    # statement, after its temp view was made
    broken = LocalEndpoint(spark, tricky.graph.drop("o_lang"))
    with pytest.raises(Exception, match="o_lang"):
        broken.select_raw("SELECT ?o { ?s ?p ?o }")
    with pytest.raises(Exception, match="literal subject"):
        tricky.select_raw('SELECT ?o { "x" ?p ?o }')
    assert _temp_views(spark) == before


def test_sql_term_ids_equal_term_id(spark):
    """``term_id_sql`` and ``term_id`` give the same bits on s, p, o and
    g, including NULL datatypes and language tags."""
    from pyspark.sql import functions as F

    from sparkdon.compile import _SLOT_SQL
    from sparkdon.operators.dictionary import term_id
    from sparkdon.terms import QUAD_SCHEMA, local_frame

    quads = local_frame(spark, [
        ("iri", "urn:s", "urn:p", "lit", "x", None, "en", "urn:g"),
        ("bnode", "b0", "urn:p", "lit", "7", XSD_INT, None, "urn:g2"),
        ("iri", "urn:s'", "urn:p", "iri", "urn:o", None, None, "urn:g"),
        ("iri", "urn:ü", "urn:p", "lit", "", None, None, "urn:g"),
    ], QUAD_SCHEMA)
    null = F.lit(None).cast("string")
    cols = {"s": term_id(F.col("s_kind"), F.col("s"), null, null),
            "p": term_id(F.lit("iri"), F.col("p"), null, null),
            "o": term_id(F.col("o_kind"), F.col("o"), F.col("o_dt"),
                         F.col("o_lang")),
            "g": term_id(F.lit("iri"), F.col("g"), null, null)}
    got = quads.select(
        *[F.expr(_SLOT_SQL[k][1]).alias(f"sql_{k}") for k in cols],
        *[c.alias(f"col_{k}") for k, c in cols.items()]).collect()
    assert len(got) == 4
    for r in got:
        for k in cols:
            assert r[f"sql_{k}"] == r[f"col_{k}"], k
    assert len({r.sql_s for r in got}) == 4


@pytest.fixture(scope="module")
def parquet_lookup(spark, tmp_path_factory):
    from sparkdon.io import read_triple_store, write_triple_store

    store = str(tmp_path_factory.mktemp("lookup") / "store")
    write_triple_store(inline(LOOKUP_TTL, spark).graph, store)
    e = LocalEndpoint(spark, read_triple_store(spark, store))
    e.bind("p", "urn:p:")
    return e


def test_lookup_jobs_on_a_parquet_store(spark, parquet_lookup):
    """On the predicate-partitioned parquet store the lookups run the
    jobs they ran before the SQL compiler: attrs 3, geo 4, orders 2,
    the status ASK 1 and the anchored path 2."""
    e = parquet_lookup
    expected = {"attrs": (3, [{"name": "Customer#1", "bal": 12.5,
                               "seg": "BUILDING"}]),
                "geo": (4, [{"nname": "FRANCE", "rname": "EUROPE"}]),
                "orders": (2, [{"o": "urn:g:orders:7", "price": 99.5},
                               {"o": "urn:g:orders:8", "price": 12.0}]),
                "path": (2, [{"r": "urn:g:nation:3"},
                             {"r": "urn:g:region:1"}])}
    for name, (jobs, rows) in expected.items():
        q, b = LOOKUPS[name], _customer(1)
        e.select(q, b)  # warm
        pdf, n = spark_jobs(spark, lambda: e.select(q, b))
        got = sorted((({k: (float(v) if k in ("bal", "price") else str(v))
                        for k, v in r.items()}) for r in pdf.to_dict("records")),
                     key=repr)
        assert got == sorted(rows, key=repr), name
        assert n == jobs, f"{name}: {n} jobs"
    status = "ASK { ?_o p:o_orderstatus ?_st }"
    for st, answer in (("F", True), ("O", False)):
        b = {"o": IRI("urn:g:orders:7"), "st": st}
        e.ask(status, b)
        got, n = spark_jobs(spark, lambda: e.ask(status, b))
        assert got is answer
        assert n == 1, f"status: {n} jobs"


def test_explain_keeps_the_predicate_partition_filter(parquet_lookup):
    plan = parquet_lookup.explain(LOOKUPS["attrs"], _customer(1),
                                  mode="formatted")
    assert "PartitionFilters: [isnotnull(p" in plan
    assert "(p#" in plan and "= urn:p:c_name)" in plan


def _sql_calls(tree):
    return [n for n in ast.walk(tree) if isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute) and n.func.attr == "sql"]


def _interpolated_term_data(node) -> bool:
    """Does an interpolated expression read a term's text (``.lex``,
    ``.datatype``, ``.lang``, ``str(...)``/``repr(...)``) other than
    through the ``param`` helper?"""
    if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
            and node.func.id == "param"):
        return False
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute) and n.attr in ("lex", "datatype", "lang"):
            return True
        if (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
                and n.func.id in ("str", "repr", "format")):
            return True
    return False


def test_spark_sql_takes_query_constants_only_through_args():
    """Guard against SQL injection (SPARQL text comes from untrusted
    HTTP clients): every ``.sql(`` call in sparkdon/ passes ``args``,
    takes its text from a variable, and the function building that text
    interpolates no term text except through ``param`` (a named
    parameter); no ``%``/``.format`` formatting builds it either."""
    import sparkdon

    root = Path(sparkdon.__file__).parent
    calls, bad = 0, []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text())
        funcs = [f for f in ast.walk(tree)
                 if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for call in _sql_calls(tree):
            calls += 1
            where = f"{path.name}:{call.lineno}"
            if "args" not in {k.arg for k in call.keywords}:
                bad.append(f"{where}: no args=")
            if not call.args or not isinstance(call.args[0], ast.Name):
                bad.append(f"{where}: text is not a variable")
            owner = [f for f in funcs if call in list(ast.walk(f))][-1]
            for n in ast.walk(owner):
                if isinstance(n, ast.FormattedValue) and \
                        _interpolated_term_data(n.value):
                    bad.append(f"{path.name}:{n.lineno}: term text in SQL")
                if isinstance(n, ast.BinOp) and isinstance(n.op, ast.Mod) \
                        and isinstance(n.left, ast.Constant):
                    bad.append(f"{path.name}:{n.lineno}: %-formatting")
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) \
                        and n.func.attr == "format":
                    bad.append(f"{path.name}:{n.lineno}: .format")
    assert calls >= 1
    assert bad == []
