"""End-to-end engine tests over the reference's fixture shapes
(FIXTURES.md §A; semantic traps from SURVEY.md §7.3)."""

from __future__ import annotations

import collections

import pytest

from sparkdon.session import LocalEndpoint, inline, member, one
from tests.conftest import BOROS_TTL, LAURIE_TTL, RACES_TTL, SCHEMA_TTL, SEQ11_TTL


@pytest.fixture(scope="module")
def boros(spark):
    return inline(BOROS_TTL, spark)


@pytest.fixture(scope="module")
def schema(spark):
    return inline(SCHEMA_TTL, spark)


def test_inline_counts_triples(spark, boros):
    # 5 boro triples + 3 labels + 2 types
    assert boros.count() == 10


def test_duplicate_triple_idempotence(spark):
    # RDFContainers#cell15-16: three identical triples collapse to one
    e = inline(
        """@prefix : <http://example.com/> .
        :New_York_City :boro :Manhattan .
        :New_York_City :boro :Manhattan .
        :New_York_City :boro :Manhattan .""",
        spark,
    )
    assert e.count() == 1


def test_census_group_count_order(boros):
    # DBpedia_Schema_Queries#cell10 shape
    df = boros.select(
        "SELECT ?p (COUNT(*) AS ?cnt) { ?s ?p ?o } GROUP BY ?p ORDER BY DESC(?cnt)"
    )
    assert df.index.name == "p"
    assert list(df["cnt"]) == sorted(df["cnt"], reverse=True)
    assert df.loc[":boro", "cnt"] == 5


def test_filter_lang(boros):
    df = boros.select("SELECT ?s ?l { ?s rdfs:label ?l . FILTER(LANG(?l)='en') }")
    assert set(df["s"]) == {":Manhattan", ":Brooklyn"}


def test_optional_keeps_unmatched(boros):
    df = boros.select(
        "SELECT ?b ?l { :New_York_City :boro ?b . "
        "OPTIONAL { ?b rdfs:label ?l . FILTER(LANG(?l)='en') } }"
    )
    assert len(df) == 5
    got = dict(zip(df["b"], df["l"]))
    assert got[":Manhattan"] == "Manhattan"
    assert got[":Queens"] is None


def test_not_exists(boros):
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER NOT EXISTS { ?b rdfs:label ?l } }"
    )
    assert set(df["b"]) == {":Queens", ":The_Bronx", ":Staten_Island"}


def test_exists(boros):
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . FILTER EXISTS { ?b rdfs:label ?l } }"
    )
    assert set(df["b"]) == {":Manhattan", ":Brooklyn"}


def test_exists_in_conjunction_splits(boros):
    """r16: FILTER(a && EXISTS{…}) is valid SPARQL (§17.4.1.4 EXISTS is
    an expression) — apply_filter splits EXISTS-carrying conjunctions
    into sequential filters (equivalent under §17.2 ternary logic:
    survive iff every conjunct EBVs true)."""
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER(?b != :Manhattan && EXISTS { ?b rdfs:label ?l }) }")
    assert set(df["b"]) == {":Brooklyn"}
    # nested both ways round, with NOT EXISTS, and three-way
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER(NOT EXISTS { ?b rdfs:label ?l } && ?b != :Queens "
        "&& NOT EXISTS { ?b a :Borough }) }")
    assert set(df["b"]) == {":The_Bronx", ":Staten_Island"}


def test_optional_exists_filter_scopes_to_merged_solution(boros):
    """r16: a top-level [NOT] EXISTS filter in an OPTIONAL group whose
    correlation runs through a LEFT-side var belongs to the LeftJoin
    condition (spec §18.2.2.2 / substitute semantics §18.6) — evaluated
    per MERGED row, with a failing condition turning the row left-only,
    never dropping it.  Previously it was evaluated as a right-side
    pre-filter with the left var unbound (matching everything)."""
    df = boros.select(
        "SELECT ?b ?l { :New_York_City :boro ?b . "
        "OPTIONAL { ?b rdfs:label ?l . FILTER EXISTS { ?b a :Borough } } }")
    # Manhattan is a Borough: both labels survive; Brooklyn has a label
    # but is NOT a Borough: condition false -> left-only row
    assert len(df) == 6
    got = sorted(zip(df["b"], [l if l is not None else None for l in df["l"]]))
    assert got.count((":Manhattan", "Manhattan")) == 1
    assert (":Brooklyn", None) in got
    assert (":Brooklyn", "Brooklyn") not in got

    df = boros.select(
        "SELECT ?b ?l { :New_York_City :boro ?b . "
        "OPTIONAL { ?b rdfs:label ?l . "
        "FILTER NOT EXISTS { ?b a :Borough } } }")
    got = set(zip(df["b"], [l if l is not None else None for l in df["l"]]))
    assert (":Brooklyn", "Brooklyn") in got       # not a Borough: kept
    assert (":Manhattan", None) in got            # a Borough: left-only
    assert len(df) == 5

    # conjunction of a plain left-referencing condition and EXISTS
    df = boros.select(
        "SELECT ?b ?l { :New_York_City :boro ?b . "
        "OPTIONAL { ?b rdfs:label ?l . "
        "FILTER(LANG(?l)='en' && EXISTS { ?b a :Borough }) } }")
    got = set(zip(df["b"], [l if l is not None else None for l in df["l"]]))
    assert got == {(":Manhattan", "Manhattan"), (":Brooklyn", None),
                   (":Queens", None), (":The_Bronx", None),
                   (":Staten_Island", None)}


def test_exists_in_disjunction_and_if(boros):
    """r16 (late): EXISTS in NON-conjunctive expression positions
    (||, !, IF — §17.4.1.4 treats EXISTS as an ordinary expression)
    evaluates via per-row boolean flag columns
    (_filter_with_exists_flags): each EXISTS branch is a semi-join
    membership reported back on a pinned row id, so bag duplicates and
    null-tolerant compat all behave exactly as the top-level form."""
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER(?b = :Queens || EXISTS { ?b rdfs:label ?l }) }")
    assert set(df["b"]) == {":Queens", ":Manhattan", ":Brooklyn"}
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER(!EXISTS { ?b rdfs:label ?l } || ?b = :Manhattan) }")
    assert set(df["b"]) == {":Manhattan", ":Queens", ":The_Bronx",
                            ":Staten_Island"}
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b . "
        "FILTER(IF(EXISTS { ?b a :Borough }, "
        "?b = :Queens, ?b = :Brooklyn)) }")
    assert set(df["b"]) == {":Queens", ":Brooklyn"}


def test_exists_in_select_bind_orderby(boros):
    """r16 (late): EXISTS as an ordinary expression (§17.4.1.4) in
    SELECT projections, BIND, and ORDER BY — same flag-column
    machinery as the FILTER ||/!/IF path."""
    df = boros.select(
        "SELECT ?b (EXISTS { ?b a :Borough } AS ?f) "
        "{ :New_York_City :boro ?b }")
    got = dict(zip(df["b"], df["f"]))
    assert got[":Queens"] is True and got[":Manhattan"] is True
    assert got[":Brooklyn"] is False

    df = boros.select(
        "SELECT ?b ?f { :New_York_City :boro ?b . "
        "BIND(!EXISTS { ?b rdfs:label ?l } AS ?f) }")
    got = dict(zip(df["b"], df["f"]))
    assert got[":Manhattan"] is False and got[":Queens"] is True

    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b } "
        "ORDER BY DESC(EXISTS { ?b rdfs:label ?l }) ?b")
    assert list(df["b"])[:2] == [":Brooklyn", ":Manhattan"]
    # bare-constraint grammar form parses too
    df = boros.select(
        "SELECT ?b { :New_York_City :boro ?b } "
        "ORDER BY EXISTS { ?b rdfs:label ?l } ?b")
    assert list(df["b"])[-2:] == [":Brooklyn", ":Manhattan"]
    # projectionless SELECT * path
    rows = boros.select_raw(
        "SELECT * { ?x :boro ?b } "
        "ORDER BY DESC(EXISTS { ?b rdfs:label ?l }) ?b").collect()
    got = [r["v_b"]["lex"].rsplit("/", 1)[-1] for r in rows]
    assert got[:2] == ["Brooklyn", "Manhattan"]


def test_exists_in_aggregate_projection_raises(boros):
    """EXISTS inside an aggregate query's projections stays the loud
    boundary."""
    import pytest

    from sparkdon.errors import QueryExecutionError

    with pytest.raises(QueryExecutionError, match="EXISTS"):
        boros.select(
            "SELECT ?b (EXISTS { ?b a :Borough } AS ?f) (COUNT(*) AS ?c) "
            "{ :New_York_City :boro ?b } GROUP BY ?b")


def test_minus(boros):
    df = boros.select("SELECT ?b { :New_York_City :boro ?b MINUS { ?b a :Borough } }")
    assert set(df["b"]) == {":Brooklyn", ":The_Bronx", ":Staten_Island"}


def test_minus_no_shared_vars_is_noop(boros):
    # SPARQL MINUS with disjoint variable domains removes nothing (J4 trap)
    df = boros.select("SELECT ?b { :New_York_City :boro ?b MINUS { ?x a :Borough } }")
    assert len(df) == 5


def test_union_bag_semantics(boros):
    # UNION keeps duplicates (bag), one row per branch match
    df = boros.select(
        "SELECT ?s { { ?s a :Borough } UNION { ?s rdfs:label ?l . FILTER(LANG(?l)='en') } }"
    )
    assert sorted(df["s"]) == [":Brooklyn", ":Manhattan", ":Manhattan", ":Queens"]


def test_values_join(boros):
    df = boros.select(
        "SELECT ?b { VALUES (?b) { (:Manhattan) (:Queens) (:Nowhere) } "
        ":New_York_City :boro ?b }"
    )
    assert set(df["b"]) == {":Manhattan", ":Queens"}


def test_distinct_and_subquery(boros):
    df = boros.select(
        "SELECT (COUNT(*) AS ?n) { { SELECT DISTINCT ?p { ?s ?p ?o } } }"
    )
    assert one(df) == 3  # :boro, rdfs:label, rdf:type


def test_aggregate_subquery_filter(boros):
    # A6: aggregate subquery + outer FILTER (HAVING emulation)
    df = boros.select(
        "SELECT ?p ?cnt { { SELECT ?p (COUNT(*) AS ?cnt) { ?s ?p ?o } GROUP BY ?p } "
        "FILTER(?cnt > 2) }"
    )
    assert dict(zip(df["p"], df["cnt"])) == {":boro": 5, "rdfs:label": 3}


def test_bind_and_numeric_order(spark):
    e = inline(SEQ11_TTL, spark)
    df = e.select(
        "SELECT ?n ?v { :seq ?p ?v . "
        "FILTER(STRSTARTS(STR(?p), 'http://www.w3.org/1999/02/22-rdf-syntax-ns#_')) "
        "BIND(xsd:integer(SUBSTR(STR(?p), 45)) AS ?n) } ORDER BY ?n"
    )
    # numeric order defeats the lexical _10 < _2 trap (RDFContainers#cell50-52)
    assert list(df["n"]) == list(range(1, 12))
    assert list(df["v"])[:3] == ["one", "two", "three"]


def test_seq_decollect(spark):
    e = inline(SEQ11_TTL, spark)
    goes_to_eleven = e.decollect(":seq")
    # the reference's only inline assert, ported verbatim
    # (RDFContainers#cell48: [0]=="one", [1]=="two", [10]=="eleven",
    # len truthy) plus [9]=="ten" — the index where lexical _10 < _2
    # ordering would first corrupt the list
    assert goes_to_eleven[0] == "one"
    assert goes_to_eleven[1] == "two"
    assert goes_to_eleven[9] == "ten"
    assert goes_to_eleven[10] == "eleven"
    assert len(goes_to_eleven) == 11


def test_bag_decollect(spark):
    e = inline(LAURIE_TTL, spark)
    c = e.decollect(":bag")
    assert isinstance(c, collections.Counter)
    assert c["the"] == 3 and c["this"] == 2 and c["year"] == 1


def test_property_path_star_anchored(schema):
    df = schema.select("SELECT ?x { :Dog rdfs:subClassOf* ?x }")
    assert set(df["x"]) == {":Dog", ":Mammal", ":Animal", ":Thing"}


def test_property_path_plus_reverse(schema):
    df = schema.select("SELECT ?x { ?x rdfs:subClassOf+ :Animal }")
    assert set(df["x"]) == {":Mammal", ":Dog", ":Cat", ":Reptile"}


def test_property_path_sequence_and_inverse(schema):
    df = schema.select("SELECT ?l { ?x rdfs:subClassOf/rdfs:label ?l . FILTER(LANG(?l)='de') }")
    # Dog,Cat -> Mammal has no label; Mammal -> Animal no label; only labels on Dog/Cat
    assert set(df["l"]) == set()
    # ^p swaps the pair: (?x ^subClassOf :Animal) ⇔ (:Animal subClassOf ?x)
    df = schema.select("SELECT ?x { ?x ^rdfs:subClassOf :Animal }")
    assert set(df["x"]) == {":Thing"}
    df = schema.select("SELECT ?x { :Animal ^rdfs:subClassOf ?x }")
    assert set(df["x"]) == {":Mammal", ":Reptile"}


def test_filter_in(schema):
    df = schema.select(
        "SELECT ?s ?t { ?s a ?t . FILTER (?t IN (owl:DatatypeProperty, owl:ObjectProperty)) }"
    )
    assert set(df["s"]) == {":name", ":owns"}


def test_union_inside_minus(schema):
    # DBpedia_Schema_Queries#cell124 shape: MINUS over a UNION
    df = schema.select(
        "SELECT ?s { ?s a ?t MINUS { { ?s a owl:DatatypeProperty } UNION { ?s a owl:ObjectProperty } } }"
    )
    assert set(df["s"]) == {":Dog", ":Cat", ":Mammal"}


def test_construct(boros):
    g = boros.construct(
        "CONSTRUCT { ?b a :NamedThing } WHERE { ?b rdfs:label ?l }"
    )
    assert g.count() == 2  # Manhattan, Brooklyn (distinct)


def test_update_insert_where(spark):
    e = inline(BOROS_TTL, spark)
    n0 = e.count()
    e.update("INSERT { ?b a :Labeled } WHERE { ?b rdfs:label ?l }")
    assert e.count() == n0 + 2
    # idempotent (set semantics)
    e.update("INSERT { ?b a :Labeled } WHERE { ?b rdfs:label ?l }")
    assert e.count() == n0 + 2


def test_update_delete_where(spark):
    e = inline(BOROS_TTL, spark)
    e.update("DELETE { ?s ?p ?o } WHERE { ?s ?p ?o . FILTER(?o = :Manhattan) }")
    df = e.select("SELECT ?b { :New_York_City :boro ?b }")
    assert ":Manhattan" not in set(df["b"])


def test_update_to_fixpoint_transitive(spark):
    e = inline(SCHEMA_TTL, spark)
    e.update_to_fixpoint(
        "INSERT { ?a rdfs:subClassOf ?c } WHERE { ?a rdfs:subClassOf ?b . ?b rdfs:subClassOf ?c }"
    )
    df = e.select("SELECT ?x { :Dog rdfs:subClassOf ?x }")
    assert set(df["x"]) == {":Mammal", ":Animal", ":Thing"}


def test_update_to_fixpoint_on_written_graph_skips_the_seed_copy(spark):
    """After a write the graph is already a checkpointed snapshot, so
    the rule fixpoint starts from it as is instead of copying it before
    round one: fewer Spark jobs than the 35 this rule ran with that
    copy, the same closure, and a rule that derives nothing hands the
    checkpointed store back untouched (a scan-backed one is copied)."""
    from sparkdon import paths
    from tests.conftest import spark_jobs

    jobs_with_seed_copy = 35
    e = inline("""@prefix : <http://example.com/> .
    :a :q :b . :b :q :c . :c :q :d .""", spark)
    e.update("INSERT DATA { :z :r :y }")
    _, jobs = spark_jobs(spark, lambda: e.update_to_fixpoint(
        "INSERT { ?x :q ?z } WHERE { ?x :q ?y . ?y :q ?z }"))
    df = e.select("SELECT ?s ?o { ?s :q ?o }")
    assert set(map(tuple, df.itertuples(index=False, name=None))) == {
        (":a", ":b"), (":b", ":c"), (":c", ":d"),
        (":a", ":c"), (":b", ":d"), (":a", ":d")}
    assert e.count() == 7
    assert jobs < jobs_with_seed_copy

    def nothing(current):
        return current.limit(0)

    assert paths.fixpoint_union(e.graph, nothing) is e.graph
    scan = e.graph.filter("p != 'urn:none'")
    assert paths.fixpoint_union(scan, nothing) is not scan


def test_update_to_fixpoint_seminaive_matches_full_rederivation(spark):
    """r17 semi-naive rewrite (VERDICT r16 #4): for an eligible
    conjunctive rule the delta-driven rounds must land the EXACT same
    fixpoint as the full re-derivation, on a graph with branches,
    cycles and a filter-constrained rule."""
    import sparkdon.session as session_mod

    ttl = """@prefix : <http://example.com/> .
    :a :next :b . :b :next :c . :c :next :d . :d :next :e .
    :e :next :a .  :b :next :x . :x :next :y .
    """
    rule = ("INSERT { ?s :next ?o2 } "
            "WHERE { ?s :next ?o . ?o :next ?o2 . FILTER(?s != ?o2) }")

    e1 = inline(ttl, spark)
    e1.update_to_fixpoint(rule)
    got = {tuple(r) for r in e1.graph.collect()}

    # force the pre-r17 full re-derivation and compare
    orig = session_mod._seminaive_body_atoms
    session_mod._seminaive_body_atoms = lambda *a, **k: []
    try:
        e2 = inline(ttl, spark)
        e2.update_to_fixpoint(rule)
        ref = {tuple(r) for r in e2.graph.collect()}
    finally:
        session_mod._seminaive_body_atoms = orig
    assert got == ref and len(got) > 7  # derived edges actually appeared

    # ineligible shapes decline semi-naive: path predicate, EXISTS
    # filter, OPTIONAL body, bnode template
    from sparkdon.algebra import parse_update
    for q in (
        "INSERT { ?a :r ?b } WHERE { ?a :next+ ?b }",
        "INSERT { ?a :r ?b } WHERE { ?a :next ?b . "
        " FILTER(EXISTS { ?b :next ?c }) }",
        "INSERT { ?a :r ?b } WHERE { ?a :next ?b . "
        " OPTIONAL { ?b :next ?c } }",
        "INSERT { ?a :r [] } WHERE { ?a :next ?b }",
    ):
        (u,) = parse_update(q, {"": "http://example.com/"})
        assert session_mod._seminaive_body_atoms(
            u.where, u.insert_template) == []


def test_peel_through_bnodes(spark):
    e = inline(
        """@prefix : <http://example.com/> .
        :thing :part [ :name "a" ; :sub [ :name "b" ] ] ; :label "top" .
        :other :part [ :name "c" ] .""",
        spark,
    )
    peeled = e.peel(":thing")
    assert peeled.count() == 5  # 2 root facts + bnode1's 2 + bnode2's 1
    assert ":other" not in {r["s"] for r in peeled.graph.collect()}


def test_one_and_member(boros):
    df = boros.select("SELECT ?l { :Brooklyn rdfs:label ?l }")
    assert one(df) == "Brooklyn"
    with pytest.raises(Exception):
        one(boros.select("SELECT ?b { :New_York_City :boro ?b }"))
    assert str(member(0)).endswith("#_1")
    assert str(member(10)).endswith("#_11")


def test_all_uri_and_namespaces(boros):
    uris = boros.all_uri()
    assert "http://example.com/Manhattan" in uris
    assert "http://www.w3.org/2000/01/rdf-schema#label" in uris
    ns = boros.namespaces()
    assert ns.loc["rdf", "uri"].startswith("http://www.w3.org/1999/")


def test_substitution_binding_kwarg(boros):
    df = boros.select(
        "SELECT ?p ?o { ?_target ?p ?o }", bindings={"target": ":Brooklyn"}
    )
    assert len(df) == 1


def test_substitution_caller_frame(boros):
    city = ":New_York_City"  # noqa: F841 — harvested from the caller frame
    df = boros.select("SELECT ?b { ?_city :boro ?b }")
    assert len(df) == 5


def test_literal_object_constant(spark):
    e = inline(
        """@prefix : <http://example.com/> .
        :a :value 3 . :b :value 4 . :c :value 3 .""",
        spark,
    )
    df = e.select("SELECT ?s { ?s ?p 3 }")
    assert set(df["s"]) == {":a", ":c"}


def test_numeric_filter_comparison(spark):
    e = inline(
        """@prefix : <http://example.com/> .
        :a :value 3 . :b :value 10 . :c :value 7 .""",
        spark,
    )
    df = e.select("SELECT ?s { ?s :value ?v . FILTER(?v > 5) }")
    assert set(df["s"]) == {":b", ":c"}


def test_blank_node_pattern(spark):
    e = inline(
        """@prefix : <http://example.com/> .
        :s :p1 [ :p2 :horse ] .""",
        spark,
    )
    df = e.select("SELECT ?h { ?s ?a [ ?b ?h ] . FILTER(?h = :horse) }")
    assert len(df) == 1


def test_races_grouped_count(spark):
    e = inline(RACES_TTL, spark)
    df = e.select(
        "SELECT ?race (COUNT(*) AS ?entrants) { "
        ":tioga_downs_2017_08_14 ?m ?race . "
        "FILTER(STRSTARTS(STR(?m), 'http://www.w3.org/1999/02/22-rdf-syntax-ns#_')) "
        "?race ?m2 ?h . "
        "FILTER(STRSTARTS(STR(?m2), 'http://www.w3.org/1999/02/22-rdf-syntax-ns#_')) "
        "} GROUP BY ?race"
    )
    got = dict(zip(df.index, df["entrants"]))
    assert got == {":race_1": 3, ":race_2": 4, ":race_3": 2}


def test_ttl_roundtrip(spark, boros):
    text = boros.ttl()
    again = inline(text, spark)
    assert again.count() == boros.count()


def test_base_relative_iri(spark):
    e = inline(
        """@prefix : <http://example.com/> .
        :x :p :y .""",
        spark,
    )
    e.base_uri = "http://example.com/"
    df = e.select("SELECT ?o { <x> :p ?o }")
    assert len(df) == 1


def test_update_delete_where_shorthand(spark):
    """DELETE WHERE { P }: the quad pattern is both template and WHERE
    clause (SPARQL 1.1 Update §3.1.3.2)."""
    e = inline(BOROS_TTL, spark)
    n0 = e.count()
    labels = e.select("SELECT (COUNT(*) AS ?n) { ?s rdfs:label ?l }")
    n_lab = int(labels["n"].iloc[0])
    assert n_lab > 0
    e.update("DELETE WHERE { ?s rdfs:label ?l }")
    assert e.count() == n0 - n_lab
    left = e.select("SELECT (COUNT(*) AS ?n) { ?s rdfs:label ?l }")
    assert int(left["n"].iloc[0]) == 0


def test_update_clear(spark):
    """CLEAR DEFAULT / CLEAR ALL empty the default graph; later inserts
    still work.  CLEAR GRAPH of an absent graph fails per SPARQL 1.1
    Update §3.2.3 (no named store here)."""
    import pytest as _pytest

    e = inline(BOROS_TTL, spark)
    assert e.count() > 0
    e.update("CLEAR DEFAULT")
    assert e.count() == 0
    e.update("INSERT DATA { :a :b :c }")
    assert e.count() == 1
    e.update("CLEAR SILENT ALL")
    assert e.count() == 0
    with _pytest.raises(Exception, match="no such named graph"):
        e.update("CLEAR GRAPH <http://example.com/g>")


def test_update_clear_silent_absent_graph_noop(spark):
    """SPARQL 1.1 Update §3.2.3: SILENT suppresses the absent-graph
    failure — CLEAR GRAPH <missing> no-ops, the store is untouched, and
    ;-sequences keep applying after the silent no-op.  CLEAR NAMED on a
    store with no named graphs succeeds (nothing to drop)."""
    e = inline(BOROS_TTL, spark)
    n0 = e.count()
    assert n0 > 0
    e.update("CLEAR SILENT GRAPH <http://example.com/g>")
    assert e.count() == n0
    e.update("CLEAR NAMED")
    assert e.count() == n0
    e.update("CLEAR SILENT GRAPH <http://example.com/g> ; "
             "INSERT DATA { :a :b :c }")
    assert e.count() == n0 + 1


def test_update_delete_rejects_blank_nodes(spark):
    """Blank nodes are forbidden in every delete position (§3.1.2 /
    §3.1.3 / §3.1.3.2) — they could never match by name, so accepting
    one silently deletes nothing.  INSERT DATA keeps accepting bnodes
    (there they mint fresh nodes)."""
    import pytest as _pytest

    e = inline(BOROS_TTL, spark)
    for op in (
        "DELETE WHERE { _:b :v ?w }",
        "DELETE DATA { _:b :v 1 }",
        "DELETE { _:b :v ?w } WHERE { ?s :v ?w }",
    ):
        with _pytest.raises(Exception, match="blank nodes"):
            e.update(op)
    n0 = e.count()
    e.update("INSERT DATA { _:fresh :v 1 }")
    assert e.count() == n0 + 1


def test_update_operation_sequence(spark):
    """Multiple ';'-separated operations apply in order, each seeing
    its predecessors' effects (SPARQL 1.1 Update request sequences)."""
    e = inline(BOROS_TTL, spark)
    e.update("""
        CLEAR DEFAULT ;
        INSERT DATA { :x :v 1 } ;
        INSERT { :x :doubled ?w } WHERE { :x :v ?w } ;
        DELETE WHERE { :x :v ?w } ;
    """)
    assert e.count() == 1
    df = e.select("SELECT ?w { :x :doubled ?w }")
    assert list(df["w"]) == [1]
