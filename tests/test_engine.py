"""End-to-end engine tests over the reference's fixture shapes
(FIXTURES.md §A; semantic traps from SURVEY.md §7.3)."""

from __future__ import annotations

import collections

import pytest

from sparkdon.session import LocalEndpoint, inline, member, one
from sparkdon.terms import IRI
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
    checkpointed store back untouched (a scan-backed or local one is
    copied)."""
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
    # a never-written inline() graph is a LocalRelation of driver rows:
    # not a checkpoint, so it is copied
    local = inline("@prefix : <http://example.com/> . :a :q :b .", spark).graph
    assert not paths._is_checkpoint(local)
    assert paths.fixpoint_union(local, nothing) is not local


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


#: a two-customer slice of the benchmark graph's lookup shapes
LOOKUP_TTL = """
@prefix p: <urn:p:> .
<urn:g:customer:1> p:c_name "Customer#1" ; p:c_acctbal 12.5 ; p:c_mktsegment "BUILDING" ;
    p:c_nationkey <urn:g:nation:3> ; p:locatedIn <urn:g:nation:3> .
<urn:g:customer:2> p:c_name "Customer#2" ; p:c_acctbal -7.25 ; p:c_mktsegment "MACHINERY" ;
    p:c_nationkey <urn:g:nation:4> ; p:locatedIn <urn:g:nation:4> .
<urn:g:nation:3> p:n_name "FRANCE" ; p:n_regionkey <urn:g:region:1> ; p:locatedIn <urn:g:region:1> .
<urn:g:nation:4> p:n_name "JAPAN" ; p:n_regionkey <urn:g:region:2> ; p:locatedIn <urn:g:region:2> .
<urn:g:region:1> p:r_name "EUROPE" .
<urn:g:region:2> p:r_name "ASIA" .
<urn:g:orders:7> p:o_custkey <urn:g:customer:1> ; p:o_totalprice 99.5 ; p:o_orderstatus "F" .
<urn:g:orders:8> p:o_custkey <urn:g:customer:1> ; p:o_totalprice 12.0 ; p:o_orderstatus "O" .
<urn:g:orders:9> p:o_custkey <urn:g:customer:2> ; p:o_totalprice 40.0 ; p:o_orderstatus "P" .
"""

#: the SELECT lookup templates of the benchmark (perfbench/workloads.py)
LOOKUPS = {
    "attrs": "SELECT ?name ?bal ?seg WHERE { ?_c p:c_name ?name ; "
             "p:c_acctbal ?bal ; p:c_mktsegment ?seg }",
    "orders": "SELECT ?o ?price WHERE { ?o p:o_custkey ?_c ; p:o_totalprice ?price }",
    "geo": "SELECT ?nname ?rname WHERE { ?_c p:c_nationkey ?n . ?n p:n_name ?nname ; "
           "p:n_regionkey ?r . ?r p:r_name ?rname }",
    "path": "SELECT ?r WHERE { ?_c p:locatedIn+ ?r }",
}


def _lookup_endpoint(spark, use_ids=False):
    e = inline(LOOKUP_TTL, spark)
    e.bind("p", "urn:p:")
    e.use_ids = use_ids
    return e


def _customer(i):
    return {"c": IRI(f"urn:g:customer:{i}")}


def _rows(df):
    return sorted(map(repr, df.to_dict("records")))


def test_pattern_compile_round_trips(spark):
    """A selective lookup compiles in a few dozen py4j round trips: its
    basic graph pattern is one ``spark.sql`` statement whose constants
    are named parameters, and its plain variables project by name.
    Building every scan, join and projection one Column call at a time
    cost 297 / 148 / 244 round trips for these compiles (and 2,115 /
    1,323 / 2,557 before the scan Columns were shared)."""
    import gc

    from tests.conftest import py4j_round_trips

    e = _lookup_endpoint(spark)
    for name in ("attrs", "orders", "geo"):
        q, b = LOOKUPS[name], _customer(1)
        e.select_raw(q, b)  # warm: the parse cache
        gc.collect()  # release earlier proxies before counting
        _, n = py4j_round_trips(lambda: e.select_raw(q, b))
        assert n <= 60, f"{name}: {n} round trips to compile"


def test_scan_columns_shared_across_threads(spark):
    """The scan Columns are shared state: four threads start from an
    empty cache and compile and run different lookups on one endpoint;
    every answer equals the single-threaded one.  The set is rebuilt
    only when the SparkContext changes."""
    import sys
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from sparkdon import terms

    e = _lookup_endpoint(spark)
    work = [(LOOKUPS[name], _customer(1 + i % 2))
            for i, name in enumerate(("attrs", "orders", "geo", "path"))]
    expected = [_rows(e.select(q, b)) for q, b in work]
    assert all(expected)
    terms._scan = (None, None)
    barrier = threading.Barrier(len(work))

    def run(i):
        q, b = work[i]
        barrier.wait(timeout=60)
        return [_rows(e.select(q, b)) for _ in range(2)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(len(work)) as pool:
            got = list(pool.map(run, range(len(work)), timeout=300))
    finally:
        sys.setswitchinterval(interval)
    assert got == [[rows, rows] for rows in expected]

    cols = terms.scan_columns()
    assert terms.scan_columns() is cols
    terms._scan = (object(), cols)  # as if built for another context
    assert terms.scan_columns() is not cols


def test_scan_columns_keep_join_only_vars_as_ids(spark, tmp_path):
    """``use_ids`` still carries the join-only ``?n`` and ``?r`` of the
    geo lookup as ``xxhash64`` term ids through the physical plan, with
    the same answers.  The graph is a parquet store, as the benchmark's
    is: over an ``inline()`` graph, a ``LocalRelation``, Catalyst folds
    the id projections into the relation while it optimizes."""
    from sparkdon.io import read_triple_store, write_triple_store

    store = str(tmp_path / "store")
    write_triple_store(_lookup_endpoint(spark).graph, store)
    graph = read_triple_store(spark, store)

    def endpoint(use_ids):
        e = LocalEndpoint(spark, graph, use_ids=use_ids)
        e.bind("p", "urn:p:")
        return e

    off, on = endpoint(False), endpoint(True)
    q, b = LOOKUPS["geo"], _customer(2)
    assert "xxhash64" in on.explain(q, b, mode="simple")
    assert "xxhash64" not in off.explain(q, b, mode="extended")
    assert _rows(on.select(q, b)) == _rows(off.select(q, b)) == [
        repr({"nname": "JAPAN", "rname": "ASIA"})]


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def _is_local(df):
    plan = _analyzed(df)
    return "LocalRelation" in plan and "LogicalRDD" not in plan


def test_driver_frames_are_local_relations(spark, monkeypatch):
    """Every engine frame built from driver rows is an Arrow-built
    ``LocalRelation``, not a ``LogicalRDD`` over pickled Python rows:
    the driver-tier closure, VALUES, INSERT DATA, ``inline()``, ``peel``,
    DESCRIBE constants and the empty named store."""
    from sparkdon import paths
    from sparkdon.terms import named_or_empty

    e = inline(BOROS_TTL, spark)
    assert _is_local(e.graph)
    assert _is_local(named_or_empty(spark, None))
    assert _is_local(e.select_raw("SELECT ?x { VALUES ?x { :a :b } }"))

    pairs = [(("iri", "urn:a", None, None), ("iri", "urn:b", None, None))]
    closure = paths._driver_closure(spark, pairs, [IRI("urn:a")],
                                    forward=True, include_zero=False)
    assert _is_local(closure)
    assert closure.collect()[0]["node"]["lex"] == "urn:b"

    inserted = []
    commit = e._commit

    def recording_commit(*args, **kwargs):
        inserted.append(kwargs.get("insert"))
        return commit(*args, **kwargs)

    monkeypatch.setattr(e, "_commit", recording_commit)
    e.update("INSERT DATA { :Queens :near :Brooklyn }")
    assert inserted and _is_local(inserted[0])

    starts = []
    cbd = e._cbd

    def recording_cbd(nodes, *args, **kwargs):
        starts.append(nodes)
        return cbd(nodes, *args, **kwargs)

    monkeypatch.setattr(e, "_cbd", recording_cbd)
    assert e.peel(":Manhattan").count() == 3
    assert e.describe("DESCRIBE :Queens").count() == 2
    assert len(starts) == 2 and all(_is_local(f) for f in starts)


def test_large_driver_built_store_is_checkpointed(spark, monkeypatch):
    """A parsed store of ``STORE_CHECKPOINT_ROWS`` distinct rows or more
    is checkpointed once, as a written snapshot is, so no query over it
    walks a ``LocalRelation`` of every row; a smaller one stays a
    ``LocalRelation``.  Neither starts a Python worker."""
    from sparkdon import io, paths

    monkeypatch.setattr(io, "STORE_CHECKPOINT_ROWS", 3)
    small = inline("@prefix : <http://example.com/> . "
                   ":a :p :b . :a :p :b . :b :p :c .", spark)
    big = inline("@prefix : <http://example.com/> . "
                 ":a :p :b . :b :p :c . :c :p :d .", spark)
    assert _is_local(small.graph) and not paths._is_checkpoint(small.graph)
    assert paths._is_checkpoint(big.graph)
    lineage = big.graph._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage
    assert sorted(r.v_o.lex for r in big.select_raw(
        "SELECT ?o { :a :p+ ?o }").collect()) == [
        "http://example.com/b", "http://example.com/c", "http://example.com/d"]


def test_driver_frames_keep_term_fidelity(spark):
    """VALUES rows and INSERT/DELETE DATA triples survive the Arrow
    trip exactly: UNDEF, language tags, datatypes, blank nodes and
    non-ASCII lexical forms; duplicate inserted triples collapse."""
    e = inline("@prefix : <http://example.com/> . :s :p :o .", spark)
    rows = e.select_raw("""
        SELECT ?x ?y { VALUES (?x ?y) {
            (UNDEF "Манхэттен"@ru)
            (_:b1 "7"^^xsd:integer)
            (<http://example.com/Zürich> "naïve ✓") } }""").collect()
    got = [(None if r.v_x is None else tuple(r.v_x), tuple(r.v_y))
           for r in rows]
    assert sorted(got, key=repr) == sorted([
        (None, ("lit", "Манхэттен", None, "ru")),
        (("bnode", "b1", None, None),
         ("lit", "7", "http://www.w3.org/2001/XMLSchema#integer", None)),
        (("iri", "http://example.com/Zürich", None, None),
         ("lit", "naïve ✓", None, None)),
    ], key=repr)
    # VALUES without variables: an Arrow batch without columns carries
    # no row count, so the two empty solutions must survive another way
    assert e.select("SELECT (COUNT(*) AS ?n) { VALUES () { () () } }")[
        "n"].tolist() == [2]

    e.update("""INSERT DATA { :s :label "Köln"@de . :s :label "Köln"@de .
                              :s :n 3 . :s :n 3 . :s :q "ß" } """)
    assert e.count() == 4
    assert sorted(tuple(r) for r in e.graph.collect()) == sorted([
        ("iri", "http://example.com/s", "http://example.com/p",
         "iri", "http://example.com/o", None, None),
        ("iri", "http://example.com/s", "http://example.com/label",
         "lit", "Köln", None, "de"),
        ("iri", "http://example.com/s", "http://example.com/n",
         "lit", "3", "http://www.w3.org/2001/XMLSchema#integer", None),
        ("iri", "http://example.com/s", "http://example.com/q",
         "lit", "ß", None, None),
    ])
    e.update('DELETE DATA { :s :label "Köln"@de . :s :n 3 }')
    assert sorted(tuple(r)[2:5] for r in e.graph.collect()) == [
        ("http://example.com/p", "iri", "http://example.com/o"),
        ("http://example.com/q", "lit", "ß"),
    ]


def test_ask_runs_one_job(spark):
    """ASK tests emptiness with ``isEmpty`` (one job, none over a local
    frame) instead of ``limit(1).count()``, whose single-partition
    Exchange ran as a second job; over an ``inline()`` graph no
    distinct aggregate or Python worker adds jobs either."""
    from tests.conftest import spark_jobs

    e = inline(BOROS_TTL, spark)
    assert e.named is None
    for q, expected in (("ASK { GRAPH ?g { ?s ?p ?o } }", False),
                        ("ASK { :Queens a :Borough }", True),
                        ("ASK { :Queens a :City }", False)):
        e.ask(q)  # warm the parse cache
        answer, jobs = spark_jobs(spark, lambda: e.ask(q))
        assert answer is expected
        assert jobs <= 1, f"{q}: {jobs} jobs"


def test_driver_tier_path_lineage_has_no_python_worker(spark):
    """An anchored closure over an ``inline()`` graph runs in the JVM
    alone: neither the graph nor the driver tier's result frame is a
    pickled Python RDD, so the lineage holds no ``PythonRDD``."""
    e = inline("""@prefix : <http://example.com/> .
    :a :p :b . :b :p :c . :c :p :a .""", spark)
    df = e.select_raw("SELECT ?o { :a :p+ ?o }")
    assert sorted(r.v_o.lex for r in df.collect()) == [
        "http://example.com/a", "http://example.com/b", "http://example.com/c"]
    lineage = df._jdf.queryExecution().toRdd().toDebugString()
    assert "PythonRDD" not in lineage


def test_local_frame_over_the_local_relation_threshold(spark):
    """Rows over ``spark.sql.execution.arrow.localRelationThreshold``
    become a JVM Arrow RDD: still no Python worker in the lineage, and
    not taken for a checkpoint by the path loops."""
    from sparkdon import paths
    from sparkdon.terms import TRIPLE_SCHEMA, local_frame

    key = "spark.sql.execution.arrow.localRelationThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        rows = [("iri", f"urn:s{i}", "urn:p", "lit", "é" * 20, None, None)
                for i in range(200)]
        df = local_frame(spark, rows, TRIPLE_SCHEMA)
    finally:
        spark.conf.set(key, old)
    assert "LogicalRDD" in _analyzed(df)
    assert not paths._is_checkpoint(df)
    assert "PythonRDD" not in df._jdf.queryExecution().toRdd().toDebugString()
    assert sorted(map(tuple, df.collect())) == sorted(rows)


#: engine modules whose frames of driver rows must go through
#: ``terms.local_frame``
_LOCAL_FRAME_MODULES = ("terms", "paths", "io", "compile", "session",
                        "graphstore", "remote")


def test_engine_builds_driver_frames_only_through_local_frame():
    """No engine module calls ``createDataFrame`` outside
    ``terms.local_frame``: a ``createDataFrame(list)`` frame would start
    Python workers on every job over it."""
    import ast
    from pathlib import Path

    import sparkdon

    root = Path(sparkdon.__file__).parent
    stray = []
    for mod in _LOCAL_FRAME_MODULES:
        tree = ast.parse((root / f"{mod}.py").read_text())
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed.update(id(n) for n in ast.walk(node))
        stray += [f"{mod}.py:{n.lineno}" for n in ast.walk(tree)
                  if isinstance(n, ast.Call)
                  and isinstance(n.func, ast.Attribute)
                  and n.func.attr == "createDataFrame"
                  and id(n) not in allowed]
    assert stray == []


def test_expression_errors_leave_bind_unbound_over_a_local_graph(spark):
    """Over an ``inline()`` graph, a ``LocalRelation``, Catalyst may
    evaluate a BIND over every row before the group's FILTER removes
    any: a cast, division or SUBSTR bound the expression cannot take is
    a SPARQL error that leaves the variable unbound, never a failed
    query."""
    e = inline('@prefix : <http://example.com/> . '
               ':a :d 2 . :b :d 0 . :c :d "x" .', spark)

    def answers(q):
        return sorted((r.v_s.lex[-1], r.v_q and r.v_q.lex)
                      for r in e.select_raw(q).collect())

    assert answers("SELECT ?s ?q { ?s :d ?d FILTER(?d != 0) "
                   "BIND(6/?d AS ?q) }") == [("a", "3"), ("c", None)]
    assert answers("SELECT ?s ?q { ?s :d ?d "
                   "BIND(xsd:integer(STR(?d)) AS ?q) }") == [
        ("a", "2"), ("b", "0"), ("c", None)]
    # a string operand is a type error under SPARQL: "x" + 1 is unbound
    assert ("c", None) in answers("SELECT ?s ?q { ?s :d ?d "
                                  "BIND(STR(?d) + 1 AS ?q) }")
    assert answers("SELECT ?s ?q { ?s :d ?d "
                   "BIND(xsd:double(?d) AS ?q) }") == [
        ("a", "2"), ("b", "0"), ("c", None)]
    assert answers("SELECT ?s ?q { ?s :d ?d FILTER(?d = 2) "
                   "BIND(SUBSTR('abc', ?d * 1e30) AS ?q) }") == [("a", None)]


def test_plain_strings_are_not_numbers(spark):
    """A simple literal is not a number: in arithmetic, a numeric
    function or a SUBSTR position it is a SPARQL type error, so
    ``BIND(STR(?n) + 1 AS ?q)`` with ``?n`` = 6 leaves ``?q`` unbound
    (it bound 7), ``ISNUMERIC(STR(?n))`` is false, and two numeric-
    looking strings compare as strings."""
    e = inline('@prefix : <http://example.com/> . :a :n 6 .', spark)

    def bound(expr):
        rows = e.select_raw(
            f"SELECT ?q {{ :a :n ?n BIND({expr} AS ?q) }}").collect()
        assert len(rows) == 1
        return None if rows[0].v_q is None else rows[0].v_q.lex

    assert bound("?n + 1") == "7"
    assert bound("xsd:integer(STR(?n)) + 1") == "7"
    for expr in ("STR(?n) + 1", "1 * STR(?n)", "-STR(?n)", "ABS(STR(?n))",
                 "CEIL(STR(?n))", "FLOOR(STR(?n))", "ROUND(STR(?n))",
                 "SUBSTR('abcdefg', STR(?n))", "STR(?n) / 2"):
        assert bound(expr) is None, expr
    assert bound("ISNUMERIC(STR(?n))") == "false"
    assert bound("COALESCE(STR(?n) + 1, 0)") == "0"
    assert bound("STR(10) < STR(?n)") == "true"
    assert e.select("SELECT ?q { :a :n ?n BIND(STR(?n) + 1 AS ?q) "
                    "FILTER(!BOUND(?q)) }")["q"].tolist() == [None]


def test_booleans_are_not_numbers(spark):
    """xsd:boolean is no numeric type: arithmetic and numeric functions
    on a comparison's result are SPARQL type errors that leave the BIND
    unbound (``(?n < 7) + 1`` bound 2), and ``ISNUMERIC`` of a boolean
    is false; booleans still order under ``<``."""
    e = inline('@prefix : <http://example.com/> . :a :n 6 .', spark)

    def bound(expr):
        rows = e.select_raw(
            f"SELECT ?q {{ :a :n ?n BIND({expr} AS ?q) }}").collect()
        assert len(rows) == 1
        return None if rows[0].v_q is None else rows[0].v_q.lex

    for expr in ("(?n < 7) + 1", "1 * (?n < 7)", "-(?n < 7)",
                 "(?n < 7) / 1", "ABS(?n < 7)", "ROUND(?n > 7)"):
        assert bound(expr) is None, expr
    assert bound("ISNUMERIC(?n < 7)") == "false"
    assert bound("ISNUMERIC(?n)") == "true"
    assert bound("(?n > 7) < (?n < 7)") == "true"


def test_sum_and_avg_follow_the_spec_on_empty_and_non_numeric_groups(spark):
    """SUM/AVG over no solutions are "0"^^xsd:integer (SPARQL 1.1
    §18.5.1.3/§18.5.1.4); a group with no numeric value leaves the
    result unbound (the engine built a literal with no lexical form,
    which select() failed to decode)."""
    e = inline('@prefix : <http://example.com/> . '
               ':a :m :b . :a :n 6 , 4 .', spark)

    def answer(q):
        return [tuple(r) for r in e.select(q).itertuples(index=False)]

    for agg in ("SUM", "AVG"):
        assert answer(f"SELECT ({agg}(?x) AS ?s) {{ :a :m ?x }}") == [(None,)]
        assert answer(f"SELECT ({agg}(?x) AS ?s) {{ :a :nothing ?x }}") == [(0,)]
        raw = e.select_raw(
            f"SELECT ({agg}(?x) AS ?s) {{ :a :nothing ?x }}").collect()
        assert [(r.v_s.lex, r.v_s.dt) for r in raw] == [
            ("0", "http://www.w3.org/2001/XMLSchema#integer")]
    assert answer("SELECT (SUM(?x) AS ?s) { :a :n ?x }") == [(10.0,)]
    assert answer("SELECT (SUM(?x < 5) AS ?s) { :a :n ?x }") == [(None,)]
    assert answer("SELECT (AVG(?x) AS ?s) { :a :n ?x }") == [(5.0,)]
    rows = e.select_raw("SELECT ?p (SUM(?x) AS ?s) { :a ?p ?x } "
                        "GROUP BY ?p").collect()
    assert sorted((r.v_p.lex, r.v_s and r.v_s.lex) for r in rows) == [
        ("http://example.com/m", None), ("http://example.com/n", "10")]
    # a grouped query over no solutions has no groups at all
    assert answer("SELECT ?p (SUM(?x) AS ?s) { :a :nothing ?x ; ?p ?x } "
                  "GROUP BY ?p") == []


def test_values_take_non_ascii_prefixed_names(spark):
    e = inline('@prefix : <http://example.com/> . :Zürich :in :Schweiz .',
               spark)
    rows = e.select_raw(
        "SELECT ?x ?c { VALUES ?x { :Zürich } ?x :in ?c }").collect()
    assert [(r.v_x.lex, r.v_c.lex) for r in rows] == [
        ("http://example.com/Zürich", "http://example.com/Schweiz")]
