"""Named graphs: GRAPH patterns, FROM / FROM NAMED datasets, TriG and
N-Quads I/O, and graph-targeted updates (SPARQL 1.1 §13, Update §3.1-3.2).

The reference delegates storage to rdflib, whose ConjunctiveGraph/Dataset
carries named contexts — so a reference user with named graphs expects
GRAPH to work.  Engine-side this is a quad store (terms.QUAD_SCHEMA) the
compiler slices per active graph; no reference code is used.
"""

from __future__ import annotations

import threading
import urllib.parse
import urllib.request

import pytest

from sparkdon.errors import SparkdonError
from sparkdon.session import LocalEndpoint, from_nquads, inline, inline_trig

TRIG = """
@prefix : <http://ex.com/> .
:alice :knows :bob .
:alice :age 19 .
GRAPH :g1 {
  :bob :age 42 .
  :bob :knows :carol .
}
:g2 {
  :carol :age 30 .
  :carol :level :bob .
}
"""


@pytest.fixture()
def ep(spark):
    return inline_trig(TRIG, spark)


def rows(pdf):
    return sorted(map(tuple, pdf.itertuples(index=False, name=None)))


def test_trig_parse_splits_default_and_named(ep):
    assert ep.graph.count() == 2
    assert ep.named.count() == 4
    assert sorted(r["g"] for r in ep.named.select("g").distinct().collect()) == [
        "http://ex.com/g1", "http://ex.com/g2"]


def test_graph_constant_slices_one_graph(ep):
    pdf = ep.select("SELECT ?x WHERE { GRAPH :g1 { :bob :age ?x } }")
    assert rows(pdf) == [(42,)]
    # the other graph's :age triple must not leak in
    pdf = ep.select("SELECT ?s WHERE { GRAPH :g1 { ?s :age ?o } }")
    assert rows(pdf) == [(":bob",)]


def test_graph_variable_binds_graph_name(ep):
    pdf = ep.select(
        "SELECT ?g ?s ?a WHERE { GRAPH ?g { ?s :age ?a } } ORDER BY ?a")
    assert rows(pdf) == [
        (":g2", ":carol", 30), (":g1", ":bob", 42)] or rows(pdf) == [
        (":g1", ":bob", 42), (":g2", ":carol", 30)]


def test_default_graph_does_not_see_named(ep):
    # SPARQL default: non-GRAPH patterns match ONLY the default graph
    pdf = ep.select("SELECT ?s ?a WHERE { ?s :age ?a }")
    assert rows(pdf) == [(":alice", 19)]


def test_union_default_mode_sees_all_contexts(spark):
    e = inline_trig(TRIG, spark, union_default=True)
    pdf = e.select("SELECT ?s ?a WHERE { ?s :age ?a }")
    assert len(pdf) == 3  # alice + bob + carol


def test_union_default_view_is_built_once_per_snapshot(spark):
    """The merged default graph is materialized once per (graph, named)
    snapshot pair: the second query's plan holds no shuffle, and a
    write swaps in a fresh view that sees the new triple."""
    e = inline_trig(TRIG, spark, union_default=True)
    e.explain("SELECT ?s WHERE { ?s ?p ?o }")
    assert "Exchange" not in e.explain("SELECT ?s WHERE { ?s ?p ?o }")
    e.update("INSERT DATA { :dave :age 7 }")
    pdf = e.select("SELECT ?s ?a WHERE { ?s :age ?a }")
    assert len(pdf) == 4 and ":dave" in set(pdf["s"])


def test_join_across_default_and_graph(ep):
    pdf = ep.select(
        "SELECT ?w WHERE { :alice :knows ?p . GRAPH ?g { ?p :knows ?w } }")
    assert rows(pdf) == [(":carol",)]


def test_graph_var_shared_across_patterns_stays_within_one_graph(ep):
    # both patterns must match in the SAME named graph: :bob's age is in
    # g1 but :carol's in g2, so requiring both under one ?g yields nothing
    pdf = ep.select(
        "SELECT ?g WHERE { GRAPH ?g { :bob :age ?x . :carol :age ?y } }")
    assert len(pdf) == 0
    pdf = ep.select(
        "SELECT ?g WHERE { GRAPH ?g { :bob :age ?x . :bob :knows ?w } }")
    assert rows(pdf) == [(":g1",)]


def test_graph_var_repeated_in_pattern_position(ep):
    # ?g as graph AND object: only g2 holds a triple whose object is a
    # node that... none match :g2 itself; plant one to be sure the
    # equality wiring holds
    e = ep
    e.update("INSERT DATA { GRAPH :g9 { :x :inside :g9 } }")
    pdf = e.select("SELECT ?g WHERE { GRAPH ?g { ?s :inside ?g } }")
    assert rows(pdf) == [(":g9",)]


def test_empty_graph_body_iterates_graph_names(ep):
    pdf = ep.select("SELECT ?g WHERE { GRAPH ?g { } }")
    assert rows(pdf) == [(":g1",), (":g2",)]


def test_optional_and_filter_inside_graph(ep):
    pdf = ep.select(
        "SELECT ?s ?w WHERE { GRAPH :g1 { ?s :age ?a . "
        "OPTIONAL { ?s :knows ?w } FILTER(?a > 40) } }")
    assert rows(pdf) == [(":bob", ":carol")]


def test_path_inside_constant_graph(ep):
    pdf = ep.select(
        "SELECT ?y WHERE { GRAPH :g1 { :bob :knows+ ?y } }")
    assert rows(pdf) == [(":carol",)]


def test_path_plus_inside_variable_graph(ep):
    # round 10: graph-tagged closure — the anchored BFS runs once over
    # every named graph, binding ?g from the tag
    pdf = ep.select(
        "SELECT ?g ?y WHERE { GRAPH ?g { :bob :knows+ ?y } }")
    assert rows(pdf) == [(":g1", ":carol")]


def test_path_star_unanchored_inside_variable_graph(ep):
    # zero-length arm enumerates each graph's own node domain; the
    # one-step arm stays within its graph
    pdf = ep.select(
        "SELECT ?g ?x ?y WHERE { GRAPH ?g { ?x :knows* ?y } "
        "FILTER(?x != ?y) }")
    assert rows(pdf) == [(":g1", ":bob", ":carol")]


def test_path_seq_with_consts_inside_variable_graph(ep):
    # composite (non-closure) path + constant endpoints: post-untag
    # filters; :bob :knows/:age? — build an explicit two-step chain
    pdf = ep.select(
        "SELECT ?g ?a WHERE { GRAPH ?g { :bob :knows/^:level ?c . "
        "?c :age ?a } }")
    assert rows(pdf) == []
    pdf = ep.select(
        "SELECT ?g ?v WHERE { GRAPH ?g { :carol ^:knows/:age ?v } }")
    assert rows(pdf) == [(":g1", 42)]


def test_path_in_graph_var_joins_with_graph_name(ep):
    # the decoded ?g joins like any shared variable across patterns —
    # the plain pattern must land in the SAME graph as the closure
    pdf = ep.select(
        "SELECT ?g ?s ?y WHERE { GRAPH ?g { :bob :knows+ ?y . ?s ?p ?y } }")
    assert rows(pdf) == [(":g1", ":bob", ":carol")]
    # cross-graph: ?y's own triples are in :g2, not :g1 => empty
    pdf = ep.select(
        "SELECT ?g ?y WHERE { GRAPH ?g { :bob :knows+ ?y . ?y ?p ?o } }")
    assert rows(pdf) == []


def test_path_in_graph_var_literal_lex_with_spaces(spark):
    from sparkdon.session import inline_trig

    ep2 = inline_trig("""
@prefix : <http://ex.com/> .
GRAPH :ga { :n1 :next :n2 . :n2 :label "two words here" . }
GRAPH :gb { :n1 :next :n3 . }
""", spark)
    # closure whose endpoints include a literal containing spaces: the
    # first-space untag must recover the full lexical
    pdf = ep2.select(
        "SELECT ?g ?v WHERE { GRAPH ?g { :n1 (:next|:label)+ ?v } }")
    got = rows(pdf)
    assert (":ga", "two words here") in got
    assert (":ga", ":n2") in got and (":gb", ":n3") in got
    assert len(got) == 3


def test_from_builds_default_from_named_graphs(ep):
    pdf = ep.select("SELECT ?s FROM :g1 WHERE { ?s :age ?a }")
    assert rows(pdf) == [(":bob",)]
    # merge of two graphs
    pdf = ep.select("SELECT ?s FROM :g1 FROM :g2 WHERE { ?s :age ?a }")
    assert rows(pdf) == [(":bob",), (":carol",)]
    # with a dataset clause the store's own default graph is replaced
    pdf = ep.select("SELECT ?s FROM :g1 WHERE { ?s :knows ?o }")
    assert rows(pdf) == [(":bob",)]


def test_from_named_restricts_graph_iteration(ep):
    pdf = ep.select(
        "SELECT ?g FROM NAMED :g2 WHERE { GRAPH ?g { ?s :age ?a } }")
    assert rows(pdf) == [(":g2",)]
    # FROM without FROM NAMED empties the named set
    pdf = ep.select(
        "SELECT ?g FROM :g1 WHERE { GRAPH ?g { ?s ?p ?o } }")
    assert len(pdf) == 0


def test_graph_on_endpoint_without_named_store(spark):
    e = inline("@prefix : <http://ex.com/> . :a :b :c .", spark)
    assert len(e.select("SELECT ?g WHERE { GRAPH ?g { ?s ?p ?o } }")) == 0
    assert len(e.select("SELECT ?s FROM :g1 WHERE { ?s ?p ?o }")) == 0


def test_construct_and_ask_with_graph(ep):
    assert ep.ask("ASK { GRAPH :g1 { :bob :knows :carol } }")
    assert not ep.ask("ASK { GRAPH :g2 { :bob :knows :carol } }")
    out = ep.construct(
        "CONSTRUCT { ?s :aged ?a } WHERE { GRAPH ?g { ?s :age ?a } }")
    assert out.graph.count() == 2


def test_use_ids_endpoint_handles_graph_patterns(spark, ep):
    e = LocalEndpoint(spark, ep.graph, prefixes=ep.prefixes,
                      named=ep.named, use_ids=True)
    pdf = e.select(
        "SELECT ?w WHERE { :alice :knows ?p . GRAPH ?g { ?p :knows ?w } }")
    assert rows(pdf) == [(":carol",)]


def test_quad_insert_delete_and_clear(spark):
    e = inline_trig(TRIG, spark)
    e.update("INSERT DATA { GRAPH :g3 { :dan :age 7 . :dan :knows :bob } }")
    assert e.named.filter("g = 'http://ex.com/g3'").count() == 2
    e.update("DELETE DATA { GRAPH :g3 { :dan :knows :bob } }")
    assert e.named.filter("g = 'http://ex.com/g3'").count() == 1
    e.update("CLEAR GRAPH :g3")
    assert e.named.filter("g = 'http://ex.com/g3'").count() == 0
    with pytest.raises(SparkdonError, match="no such named graph"):
        e.update("CLEAR GRAPH :g3")
    e.update("CLEAR SILENT GRAPH :g3")  # no-op
    e.update("CLEAR NAMED")
    assert e.named is None
    assert e.graph.count() == 2  # default graph untouched
    e2 = inline_trig(TRIG, spark)
    e2.update("CLEAR ALL")
    assert e2.named is None and e2.graph.count() == 0


def test_mixed_quad_data_block(spark):
    e = inline("@prefix : <http://ex.com/> .", spark)
    e.update("INSERT DATA { :a :p 1 . GRAPH :g { :a :p 2 } :b :p 3 }")
    assert e.graph.count() == 2
    assert e.named.count() == 1


def test_nquads_roundtrip(spark, tmp_path, ep):
    from pyspark.sql import functions as F

    from sparkdon.io import read_nquads, write_nquads

    quads = ep.graph.withColumn("g", F.lit(None).cast("string")).unionByName(
        ep.named)
    path = str(tmp_path / "out.nq")
    write_nquads(quads, path)
    back = read_nquads(spark, path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, quads.collect()))
    e2 = from_nquads(path, spark, prefixes={"": "http://ex.com/"})
    assert e2.graph.count() == 2 and e2.named.count() == 4
    pdf = e2.select("SELECT ?x WHERE { GRAPH :g1 { :bob :age ?x } }")
    assert rows(pdf) == [(42,)]


def test_graph_inside_exists_filter(ep):
    pdf = ep.select(
        "SELECT ?p WHERE { :alice :knows ?p "
        "FILTER EXISTS { GRAPH ?g { ?p :age ?a } } }")
    assert rows(pdf) == [(":bob",)]


def test_describe_honors_from_dataset(ep):
    # round-10 fix: DESCRIBE used a dataset-blind compiler for its WHERE
    # clause and CBD'd over the store default graph; FROM must scope both
    desc = ep.describe(
        "DESCRIBE ?s FROM <http://ex.com/g1> WHERE { ?s :age ?a }")
    got = sorted((r["s"], r["p"], r["o"]) for r in desc.graph.collect())
    assert got == [
        ("http://ex.com/bob", "http://ex.com/age", "42"),
        ("http://ex.com/bob", "http://ex.com/knows", "http://ex.com/carol"),
    ]


def test_update_with_graph_modifies_named(ep):
    # WITH <g>: WHERE matches against g as default graph AND the
    # templates modify g (§3.1.3)
    ep.update("WITH :g1 INSERT { ?s :flag ?s } WHERE { ?s :age ?a }")
    pdf = ep.select("SELECT ?s WHERE { GRAPH :g1 { ?s :flag ?s } }")
    assert rows(pdf) == [(":bob",)]
    # the default graph is untouched
    assert rows(ep.select("SELECT ?s WHERE { ?s :flag ?s }")) == []
    ep.update("WITH :g1 DELETE { ?s :flag ?s } WHERE { ?s :flag ?s }")
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g1 { ?s :flag ?s } }")) == []


def test_update_using_matches_other_graph(ep):
    # USING :g2 scopes the WHERE; templates (no WITH) hit the default
    ep.update("INSERT { ?s :copied ?a } USING :g2 WHERE { ?s :age ?a }")
    pdf = ep.select("SELECT ?s ?a WHERE { ?s :copied ?a }")
    assert rows(pdf) == [(":carol", 30)]


def test_update_using_overrides_with_for_matching(ep):
    # match in g2 (USING wins), modify g1 (WITH names the target)
    ep.update("WITH :g1 INSERT { ?s :mirrored ?a } USING :g2 "
              "WHERE { ?s :age ?a }")
    pdf = ep.select("SELECT ?g ?s WHERE { GRAPH ?g { ?s :mirrored ?a } }")
    assert rows(pdf) == [(":g1", ":carol")]


def test_update_using_named_scopes_graph_patterns(ep):
    ep.update("INSERT { ?s :seen ?g } USING NAMED :g2 "
              "WHERE { GRAPH ?g { ?s :age ?a } }")
    pdf = ep.select("SELECT ?s ?g WHERE { ?s :seen ?g }")
    assert rows(pdf) == [(":carol", ":g2")]


def test_with_rejected_on_data_and_delete_where(ep):
    import pytest as _pytest

    with _pytest.raises(Exception, match="WITH"):
        ep.update("WITH :g1 INSERT DATA { :x :y :z }")
    with _pytest.raises(Exception, match="WITH"):
        ep.update("WITH :g1 DELETE WHERE { ?s :age ?a }")


def test_copy_add_move_drop_create(ep):
    # COPY replaces the destination entirely
    ep.update("COPY :g2 TO :g1")
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g1 { ?s :age ?a } }")) == [(":carol",)]
    # ADD merges (default graph into a named one)
    ep.update("ADD DEFAULT TO :g1")
    pdf = ep.select("SELECT ?s WHERE { GRAPH :g1 { ?s ?p ?o } } ")
    assert (":alice",) in rows(pdf) and (":carol",) in rows(pdf)
    # MOVE empties the source
    ep.update("MOVE :g1 TO :g3")
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g1 { ?s ?p ?o } }")) == []
    assert (":carol",) in rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g3 { ?s ?p ?o } }"))
    # MOVE a named graph onto the default graph
    ep.update("MOVE :g3 TO DEFAULT")
    assert (":carol",) in rows(ep.select("SELECT ?s WHERE { ?s :age ?a }"))
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g3 { ?s ?p ?o } }")) == []
    # DROP == CLEAR on a store without empty graphs; CREATE is a no-op
    ep.update("DROP SILENT GRAPH :g3 ; CREATE GRAPH :gnew ; DROP SILENT GRAPH :gnew")
    # absent source fails without SILENT, no-ops with it
    import pytest as _pytest
    with _pytest.raises(Exception, match="no such named graph"):
        ep.update("COPY :gmissing TO :g1")
    before = ep.graph.count()
    ep.update("ADD SILENT :gmissing TO DEFAULT")
    assert ep.graph.count() == before
    # same source and destination is the spec no-op
    ep.update("COPY :g2 TO :g2")
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :g2 { ?s :age ?a } }")) == [(":carol",)]


def test_load_file_and_http(ep, spark, tmp_path):
    # file:// Turtle into a named graph
    ttl = tmp_path / "doc.ttl"
    ttl.write_text("@prefix : <http://ex.com/> .\n:dave :age 55 .\n")
    ep.update(f"LOAD <file://{ttl}> INTO GRAPH :gload")
    assert rows(ep.select(
        "SELECT ?s WHERE { GRAPH :gload { ?s :age 55 } }")) == [(":dave",)]
    # file:// RDF/XML into the default graph (format from extension)
    from sparkdon.rdfxml import serialize_rdfxml
    xml = tmp_path / "doc.rdf"
    xml.write_text(serialize_rdfxml(
        [("iri", "http://ex.com/erin", "http://ex.com/age", "lit", "61",
          "http://www.w3.org/2001/XMLSchema#integer", None)]))
    before = ep.graph.count()
    ep.update(f"LOAD <file://{xml}>")
    assert ep.graph.count() == before + 1
    # http:// — our own Graph Store server serves application/n-triples
    from sparkdon.graphstore import GraphStoreServer
    with GraphStoreServer(ep) as srv:
        ep.update(f"LOAD <{srv.url}?default> INTO GRAPH :ghttp")
    assert (":erin",) in rows(ep.select(
        "SELECT ?s WHERE { GRAPH :ghttp { ?s :age ?a } }"))
    # failures: 404 raises, SILENT no-ops
    import pytest as _pytest
    with _pytest.raises(Exception, match="LOAD"):
        ep.update(f"LOAD <file://{tmp_path}/missing.ttl>")
    ep.update(f"LOAD SILENT <file://{tmp_path}/missing.ttl>")


def test_bare_with_keeps_named_graphs_visible(ep):
    # review fix: WITH swaps only the DEFAULT graph for matching; a
    # GRAPH clause inside the WHERE still sees the named store
    ep.update("WITH :g1 INSERT { ?s :from2 ?a } "
              "WHERE { GRAPH :g2 { ?s :age ?a } }")
    pdf = ep.select("SELECT ?g ?s WHERE { GRAPH ?g { ?s :from2 ?a } }")
    assert rows(pdf) == [(":g1", ":carol")]


def test_with_before_management_op_is_syntax_error(ep):
    import pytest as _pytest

    for bad in ("WITH :g1 DROP ALL", "WITH :g1 CLEAR DEFAULT",
                "WITH :g1 COPY :g2 TO :g3", "WITH :g1 LOAD <urn:doc>"):
        with _pytest.raises(Exception, match="WITH applies only"):
            ep.update(bad)


def test_load_resolves_relative_iris(ep, tmp_path):
    doc = tmp_path / "rel.ttl"
    doc.write_text("@prefix : <http://ex.com/> .\n<thing> :age 9 .\n")
    ep.update(f"LOAD <file://{doc}> INTO GRAPH :grel")
    pdf = ep.select("SELECT ?s WHERE { GRAPH :grel { ?s :age 9 } }")
    # RFC 3986: <thing> resolves as a SIBLING of rel.ttl
    assert rows(pdf) == [(f"file://{tmp_path}/thing",)]


def test_concurrent_updates_keep_every_write(spark):
    """Two writers released together by a barrier, four rounds each:
    the write lock serializes their read-modify-commit, so no round's
    snapshot swap drops the other writer's triple."""
    e = inline("<urn:g:a> <urn:p:n> 1 .", spark)
    barrier = threading.Barrier(2, timeout=300)

    def write(i: int) -> None:
        for r in range(4):
            barrier.wait()
            e.update(f'INSERT DATA {{ <urn:g:w{i}> <urn:p:round> "{r}" }}')

    threads = [threading.Thread(target=write, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert e.graph.filter("p = 'urn:p:round'").count() == 8


def test_union_default_view_under_concurrent_reads_and_writes(spark):
    """Readers build and reuse the cached union view without the write
    lock while a writer commits: no read fails, and the first read after
    the last commit sees every write (a view reused across snapshots
    would miss some)."""
    e = inline_trig(TRIG, spark, union_default=True)
    errors = []
    done = threading.Event()

    def read() -> None:
        try:
            while not done.is_set():
                e.select("SELECT ?s WHERE { ?s :age ?a }")
        except Exception as exc:  # reported by the main thread
            errors.append(exc)

    readers = [threading.Thread(target=read) for _ in range(3)]
    for t in readers:
        t.start()
    try:
        for i in range(3):
            e.update(f"INSERT DATA {{ :w{i} :age {i} }}")
    finally:
        done.set()
        for t in readers:
            t.join(timeout=600)
    assert not any(t.is_alive() for t in readers)
    assert errors == []
    assert len(e.select("SELECT ?s WHERE { ?s :age ?a }")) == 6


def test_graph_store_post_and_sparql_update_share_the_write_lock(spark):
    """A Graph Store Protocol POST and a SPARQL protocol INSERT DATA into
    the same named graph, sent together: both go through the endpoint's
    one write path, so both triples survive."""
    from sparkdon.graphstore import GraphStoreServer
    from sparkdon.protocol import SparqlProtocolServer

    g = "urn:g:shared"
    e = inline("<urn:g:a> <urn:p:n> 1 .", spark)
    barrier = threading.Barrier(2, timeout=300)
    gsp = GraphStoreServer(e).start()
    sparql = SparqlProtocolServer(e).start()
    posts = [
        urllib.request.Request(
            gsp.url + "?" + urllib.parse.urlencode({"graph": g}),
            data=b"<urn:s:gsp> <urn:p:q> 1 .",
            headers={"Content-Type": "application/n-triples"}, method="POST"),
        urllib.request.Request(
            sparql.url,
            data=f"INSERT DATA {{ GRAPH <{g}> {{ <urn:s:sparql> <urn:p:q> 2 }} }}"
            .encode(),
            headers={"Content-Type": "application/sparql-update"},
            method="POST"),
    ]
    status: list[int] = []

    def send(r) -> None:
        barrier.wait()
        with urllib.request.urlopen(r, timeout=300) as resp:
            status.append(resp.status)

    try:
        threads = [threading.Thread(target=send, args=(r,)) for r in posts]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=600)
        assert not any(t.is_alive() for t in threads)
    finally:
        gsp.stop()
        sparql.stop()
    assert len(status) == 2
    got = {r["s"] for r in e.named_graph(g).select("s").collect()}
    assert got == {"urn:s:gsp", "urn:s:sparql"}
