"""Remote SPARQL source (S3) tests against a local mock SPARQL-protocol
server (canned application/sparql-results+json responses)."""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest


class MockSparqlHandler(BaseHTTPRequestHandler):
    #: 30 rows of (s, label, n) — sliced by LIMIT/OFFSET for pagination tests
    ROWS = [
        {
            "s": {"type": "uri", "value": f"http://ex.com/item{i}"},
            "label": (
                {"type": "literal", "value": f"Item {i}", "xml:lang": "en"}
                if i % 3 != 0 else None  # unbound every 3rd row
            ),
            "n": {"type": "typed-literal",
                  "datatype": "http://www.w3.org/2001/XMLSchema#integer",
                  "value": str(i)},
        }
        for i in range(30)
    ]

    #: served for CONSTRUCT queries (the protocol answers with ?s ?p ?o
    #: bindings) — covers IRI / lang-literal / typed-literal / bnode
    #: objects plus a duplicate row (graph set semantics)
    SPO_ROWS = [
        {"s": {"type": "uri", "value": "http://ex.com/a"},
         "p": {"type": "uri", "value": "http://ex.com/knows"},
         "o": {"type": "uri", "value": "http://ex.com/b"}},
        {"s": {"type": "uri", "value": "http://ex.com/a"},
         "p": {"type": "uri", "value": "http://ex.com/tag"},
         "o": {"type": "literal", "value": "hi", "xml:lang": "en"}},
        {"s": {"type": "bnode", "value": "b0"},
         "p": {"type": "uri", "value": "http://ex.com/n"},
         "o": {"type": "typed-literal",
               "datatype": "http://www.w3.org/2001/XMLSchema#integer",
               "value": "42"}},
        {"s": {"type": "uri", "value": "http://ex.com/a"},
         "p": {"type": "uri", "value": "http://ex.com/knows"},
         "o": {"type": "uri", "value": "http://ex.com/b"}},
    ]

    def do_POST(self):
        length = int(self.headers["Content-Length"])
        params = urllib.parse.parse_qs(self.rfile.read(length).decode())
        query = params.get("query", params.get("update", [""]))[0]
        self.server.queries.append(query)
        if "update" in params:
            self.send_response(200)
            self.end_headers()
            return
        if "boom" in query:
            self.send_error(500, "mock explosion")
            return
        if "CONSTRUCT" in query.upper():
            doc = {
                "head": {"vars": ["s", "p", "o"]},
                "results": {"bindings": self.SPO_ROWS},
            }
            body = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/sparql-results+json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        rows = self.ROWS
        # honor pushed-down equality filters (the shape the sparql data
        # source emits): ... STR(?var) = "value" ...
        import re as _re

        for var, val in _re.findall(r'STR\(\?(\w+)\) = "([^"]*)"', query):
            rows = [r for r in rows
                    if r.get(var) is not None and r[var]["value"] == val]
        # honor a re-emitted COUNT(*) aggregation (round 9 pushdown):
        # SELECT [?g...] (COUNT(*) AS ?alias) ... [GROUP BY ?g...]
        m_cnt = _re.search(r"\(COUNT\(\*\) AS \?(\w+)\)", query)
        if m_cnt:
            alias = m_cnt.group(1)
            m_grp = _re.search(r"GROUP BY ((?:\?\w+\s*)+)", query)
            gvars = (_re.findall(r"\?(\w+)", m_grp.group(1))
                     if m_grp else [])
            groups: dict = {}
            for r in rows:
                key = tuple(
                    r[g]["value"] if r.get(g) is not None else None
                    for g in gvars)
                groups[key] = groups.get(key, 0) + 1
            agg_vars = gvars + [alias]
            rows = [
                {**{g: ({"type": "literal", "value": k[i]}
                        if k[i] is not None else None)
                    for i, g in enumerate(gvars)},
                 alias: {"type": "typed-literal",
                         "datatype":
                             "http://www.w3.org/2001/XMLSchema#integer",
                         "value": str(c)}}
                for k, c in sorted(groups.items(),
                                   key=lambda kv: [x or "" for x in kv[0]])
            ]
            limit = offset = None
            for tok, val in zip(query.split(), query.split()[1:]):
                if tok.upper() == "LIMIT":
                    limit = int(val)
                if tok.upper() == "OFFSET":
                    offset = int(val)
            if offset:
                rows = rows[offset:]
            if limit is not None:
                rows = rows[:limit]
            doc = {
                "head": {"vars": agg_vars},
                "results": {"bindings": [
                    {k: v for k, v in r.items() if v is not None}
                    for r in rows
                ]},
            }
            body = json.dumps(doc).encode()
            self.send_response(200)
            self.send_header("Content-Type",
                             "application/sparql-results+json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return
        limit = offset = None
        for tok, val in zip(query.split(), query.split()[1:]):
            if tok.upper() == "LIMIT":
                limit = int(val)
            if tok.upper() == "OFFSET":
                offset = int(val)
        if offset:
            rows = rows[offset:]
        if limit is not None:
            rows = rows[:limit]
        doc = {
            "head": {"vars": ["s", "label", "n"]},
            "results": {"bindings": [
                {k: v for k, v in r.items() if v is not None} for r in rows
            ]},
        }
        body = json.dumps(doc).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/sparql-results+json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture(scope="module")
def mock_server():
    server = HTTPServer(("127.0.0.1", 0), MockSparqlHandler)
    server.queries = []
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_port}/sparql", server
    server.shutdown()


def test_remote_select_decodes_terms(mock_server):
    from sparkdon.remote import RemoteEndpoint

    url, server = mock_server
    e = RemoteEndpoint(url, spark=None, prefixes={"ex": "http://ex.com/"})
    df = e.select("SELECT ?s ?label ?n { ?s rdfs:label ?label } LIMIT 5")
    assert list(df.columns) == ["s", "label", "n"]
    assert df["s"][1] == "ex:item1"  # IRI shortened to QName
    assert df["s"][1].to_uri() == "http://ex.com/item1"
    assert df["label"][0] is None  # unbound variable survives as None
    assert df["label"][1] == "Item 1"
    assert list(df["n"]) == list(range(5))  # typed-literal -> int column, LIMIT honored


def test_remote_prefix_injection(mock_server):
    from sparkdon.remote import RemoteEndpoint

    url, server = mock_server
    e = RemoteEndpoint(url, spark=None, prefixes={"ex": "http://ex.com/",
                                                  "unused": "http://nope/"})
    server.queries.clear()
    e.select("SELECT ?s ?label ?n { ?s ex:p ?label }")
    sent = server.queries[-1]
    assert "PREFIX ex: <http://ex.com/>" in sent
    assert "unused" not in sent  # only textually-used prefixes injected


def test_remote_http_error_is_friendly(mock_server):
    from sparkdon.errors import QueryExecutionError
    from sparkdon.remote import RemoteEndpoint

    url, _ = mock_server
    e = RemoteEndpoint(url, spark=None)
    with pytest.raises(QueryExecutionError, match="HTTP 500"):
        e.select("SELECT ?s { ?s ?p ?boom }")


def test_remote_to_spark_partitioned_fetch(spark, mock_server):
    from sparkdon.remote import RemoteEndpoint

    url, server = mock_server
    e = RemoteEndpoint(url, spark=spark)
    server.queries.clear()
    df = e.to_spark("SELECT ?s ?label ?n { ?s ?p ?o }", partitions=3, page_size=7)
    rows = df.collect()
    assert len(rows) == 30
    assert {r["n"] for r in rows} == {str(i) for i in range(30)}
    # executors issued striped LIMIT/OFFSET requests
    paged = [q for q in server.queries if "OFFSET" in q or "LIMIT 7" in q]
    assert len(paged) >= 3


def test_remote_construct_reassembles_graph(spark, mock_server):
    """Remote CONSTRUCT = SELECT-reassembly into a LocalEndpoint
    (reference _construct, gastrodon/__init__.py:766-775): IRI, bnode,
    lang-literal, and typed-literal terms all round-trip, and the
    duplicate row collapses (graph set semantics)."""
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import LocalEndpoint, one

    ep = RemoteEndpoint(url=mock_server[0], spark=spark,
                        prefixes={"ex": "http://ex.com/"})
    local = ep.construct("CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o }")
    assert isinstance(local, LocalEndpoint)
    assert local.count() == 3  # 4 rows, one duplicate

    df = local.select("SELECT ?x { ex:a ex:knows ?x }")
    assert list(df["x"]) == ["ex:b"]
    df = local.select("SELECT ?l { ex:a ex:tag ?l . FILTER(LANG(?l)='en') }")
    assert list(df["l"]) == ["hi"]
    df = local.select("SELECT ?n { ?b ex:n ?n . FILTER(isBlank(?b)) }")
    assert one(df) == 42


def test_sparql_datasource_reads_and_pushes_filters(spark, mock_server):
    """Python Data Source: format('sparql') plans LIMIT/OFFSET stripe
    partitions and pushes supported filters into the remote query as
    SPARQL FILTER clauses."""
    from sparkdon.sources.sparql_source import SparqlDataSource

    url, server = mock_server
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(SparqlDataSource)
    except Exception as e:  # already registered from a prior test run
        if "already" not in str(e).lower():
            raise
    server.queries.clear()
    df = (
        spark.read.format("sparql")
        .option("url", url)
        .option("query", "SELECT ?s ?label ?n WHERE { ?s ?p ?o }")
        .option("partitions", "2")
        .option("pagesize", "8")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["s", "label", "n"]
    rows = df.collect()
    assert len(rows) == 30
    assert {r["n"] for r in rows} == {str(i) for i in range(30)}

    # pushdown: equality filter reaches the endpoint as FILTER(STR(?n)=...)
    server.queries.clear()
    got = df.filter(df["n"] == "7").collect()
    assert [r["n"] for r in got] == ["7"]
    sent = "\n".join(server.queries)
    assert 'STR(?n) = "7"' in sent  # the equality reached the endpoint


def test_sparql_datasource_limit_reemission(spark, mock_server):
    """option('limit', n): the cap rides into every remote request, the
    fetch collapses to one partition, and at most n rows cross the
    wire (round 9 — SURVEY §4.2 item 5 LIMIT re-emission)."""
    from sparkdon.sources.sparql_source import SparqlDataSource

    url, server = mock_server
    try:
        spark.dataSource.register(SparqlDataSource)
    except Exception as e:
        if "already" not in str(e).lower():
            raise
    server.queries.clear()
    df = (
        spark.read.format("sparql")
        .option("url", url)
        .option("query", "SELECT ?s ?label ?n WHERE { ?s ?p ?o }")
        .option("partitions", "4")
        .option("pagesize", "8")
        .option("limit", "5")
        .load()
    )
    rows = df.collect()
    assert len(rows) == 5
    data_queries = [q for q in server.queries if "LIMIT 1" != q[-7:]]
    fetches = [q for q in data_queries if "OFFSET" in q or "LIMIT 5" in q]
    # single partition, one request, cap re-emitted
    assert any("LIMIT 5" in q for q in fetches), fetches
    # no request ever asked for more than the cap
    import re as _re
    for q in fetches:
        m = _re.search(r"LIMIT (\d+)", q)
        assert m and int(m.group(1)) <= 5, q


def test_sparql_datasource_aggregate_reemission(spark, mock_server):
    """option('aggregate','count') + option('groupby','label'): the
    endpoint receives SELECT ?label (COUNT(*) AS ?cnt) ... GROUP BY
    ?label and Spark sees only group-cardinality rows."""
    from sparkdon.sources.sparql_source import SparqlDataSource

    url, server = mock_server
    try:
        spark.dataSource.register(SparqlDataSource)
    except Exception as e:
        if "already" not in str(e).lower():
            raise
    # global count
    server.queries.clear()
    df = (
        spark.read.format("sparql")
        .option("url", url)
        .option("query", "SELECT ?s ?label ?n WHERE { ?s ?p ?o }")
        .option("aggregate", "count")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["cnt"]
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["cnt"] == "30"
    sent = "\n".join(server.queries)
    assert "(COUNT(*) AS ?cnt)" in sent

    # grouped count (labels: 20 bound over 20 distinct values, 10 unbound)
    server.queries.clear()
    df = (
        spark.read.format("sparql")
        .option("url", url)
        .option("query", "SELECT ?s ?label ?n WHERE { ?s ?p ?o }")
        .option("aggregate", "count")
        .option("groupby", "label")
        .load()
    )
    assert [f.name for f in df.schema.fields] == ["label", "cnt"]
    got = {r["label"]: r["cnt"] for r in df.collect()}
    # every 3rd of 30 rows is unbound -> one None group of 10, 20 singletons
    assert got[None] == "10"
    assert sum(int(v) for v in got.values()) == 30
    sent = "\n".join(server.queries)
    assert "GROUP BY ?label" in sent
    assert "(COUNT(*) AS ?cnt)" in sent

    # composes with filter pushdown: the FILTER lands INSIDE the wrap
    server.queries.clear()
    df2 = (
        spark.read.format("sparql")
        .option("url", url)
        .option("query", "SELECT ?s ?label ?n WHERE { ?s ?p ?o }")
        .option("aggregate", "count")
        .option("groupby", "n")
        .load()
    ).filter("n = '7'")
    # Catalyst pushes the filter on the RESULT columns; n is a group key
    # so the endpoint-side pre-group filter is equivalent
    out = df2.collect()
    assert [(r["n"], r["cnt"]) for r in out] == [("7", "1")]


def test_remote_update_bnode_virtuoso_quirk(mock_server):
    """A BNode substituted into a remote update must serialize as an IRI
    of its label (Virtuoso nodeID round-trip) — `_:label` would mint a
    fresh server-side bnode instead of referencing the stored one
    (reference RemoteEndpoint._bnode_to_sparql,
    gastrodon/__init__.py:667-668)."""
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.terms import BNode

    url, server = mock_server
    e = RemoteEndpoint(url, spark=None, prefixes={"ex": "http://ex.com/"})
    server.queries.clear()
    node = BNode("nodeID://b10023")
    e.update("DELETE WHERE { ?_node ?p ?o }", bindings={"node": node})
    sent = server.queries[-1]
    assert "<nodeID://b10023>" in sent
    assert "_:" not in sent


def test_local_bnode_substitution_stays_n3(spark):
    """LocalEndpoint keeps the standard `_:label` serialization — the
    IRI form is the remote (Virtuoso) override only."""
    from sparkdon.session import LocalEndpoint
    from sparkdon.io import triples_df
    from sparkdon.terms import BNode

    e = LocalEndpoint(spark, triples_df(spark, []))
    out = e._substitute_arguments(
        "SELECT ?p { ?_node ?p ?o }", {"node": BNode("b7")})
    assert "_:b7" in out


def test_remote_peel_matches_local_peel(spark):
    """Round 10 (VERDICT r9 item 5): RemoteEndpoint.peel over the
    in-repo SPARQL-protocol server must copy the same subgraph as the
    local peel on the same fixture — bnode closure included — with
    prefixes rebound to exactly the used namespaces (reference
    RemoteEndpoint.peel, gastrodon/__init__.py:688-743)."""
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import canonicalize_bnodes, inline

    local = inline(
        """@prefix : <http://example.com/> .
        @prefix dc: <http://purl.org/dc/terms/> .
        :thing :part [ :name "a" ; :sub [ :name "b" ; :sub [ :name "c" ] ] ] ;
               dc:title "top" .
        :other :part [ :name "d" ] .""",
        spark,
    )
    want = sorted(map(tuple, canonicalize_bnodes(local.peel(":thing").graph)
                      .select("s_kind", "s", "p", "o_kind", "o").collect()))
    assert len(want) == 7  # 2 root facts + bnode chain of 5

    with SparqlProtocolServer(local) as srv:
        remote = RemoteEndpoint(srv.url, spark, prefixes=dict(local.prefixes))
        peeled = remote.peel(":thing")
        got = sorted(map(tuple, canonicalize_bnodes(peeled.graph)
                         .select("s_kind", "s", "p", "o_kind", "o").collect()))
        assert got == want
        # prefixes rebound to used namespaces only: example.com and
        # dc survive, xsd (never used by the peeled subgraph) is dropped
        assert any(ns.startswith("http://example.com/")
                   for ns in peeled.prefixes.values())
        assert "http://purl.org/dc/terms/" in peeled.prefixes.values()
        assert "http://www.w3.org/2001/XMLSchema#" not in peeled.prefixes.values()
        assert set(peeled.prefixes.items()) <= set(local.prefixes.items())


def test_remote_decollect_matches_local(spark):
    """Remote decollect (Seq ordering incl. the _10-before-_2 numeric
    trap, and Bag → Counter) must equal the local decollect through the
    protocol server."""
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import inline

    words = "one two three four five six seven eight nine ten eleven".split()
    ttl = ("@prefix : <http://example.com/> .\n"
           "@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .\n"
           ":seq a rdf:Seq")
    for i, w in enumerate(words):
        ttl += f' ; rdf:_{i + 1} "{w}"'
    ttl += " .\n:bag a rdf:Bag ; rdf:_1 \"x\" ; rdf:_2 \"x\" ; rdf:_3 \"y\" ."
    local = inline(ttl, spark)

    with SparqlProtocolServer(local) as srv:
        remote = RemoteEndpoint(srv.url, spark, prefixes=dict(local.prefixes))
        assert remote.decollect(":seq") == local.decollect(":seq") == words
        assert remote.decollect(":bag") == local.decollect(":bag")


def test_remote_peel_virtuoso_strategy_bnode_free(spark):
    """The reference-parity 'virtuoso' walk (per-bnode queries through
    the nodeID IRI quirk) — exercised on a bnode-free subgraph, where it
    must agree with the portable path strategy and the local peel.  (The
    bnode recursion itself needs Virtuoso's addressing, which no
    standards-only server — ours included — can serve; the quirk's
    serialization is covered by test_remote_update_bnode_virtuoso_quirk.)"""
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import inline

    local = inline(
        """@prefix : <http://example.com/> .
        :thing :label "top" ; :link :other .
        :other :label "elsewhere" .""",
        spark,
    )
    want = sorted(map(tuple, local.peel(":thing").graph
                      .select("s", "p", "o").collect()))
    with SparqlProtocolServer(local) as srv:
        remote = RemoteEndpoint(srv.url, spark, prefixes=dict(local.prefixes))
        for strategy in ("path", "virtuoso"):
            got = sorted(map(tuple, remote.peel(":thing", strategy=strategy)
                             .graph.select("s", "p", "o").collect()))
            assert got == want, strategy


def test_remote_peel_mixed_plain_and_tagged_literals(spark):
    """Regression (r10 review): the peeled row set mixes None and str in
    the dt/lang slots when the same lexical form appears both plain and
    lang-tagged — the final deterministic ordering must not TypeError on
    None-vs-str tuple comparison."""
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import inline

    local = inline(
        """@prefix : <http://example.com/> .
        :rome :label "Rome" ; :label "Rome"@en ;
              :pop "2873000"^^<http://www.w3.org/2001/XMLSchema#integer> .""",
        spark,
    )
    with SparqlProtocolServer(local) as srv:
        remote = RemoteEndpoint(srv.url, spark, prefixes=dict(local.prefixes))
        peeled = remote.peel(":rome")
        rows = peeled.graph.select("o", "o_dt", "o_lang").collect()
        assert len(rows) == 3
        assert {(r.o, r.o_lang) for r in rows if r.o == "Rome"} == {
            ("Rome", None), ("Rome", "en")}


def test_remote_peel_bnode_root_path_strategy_rejected(spark):
    """Regression (r10 review): a blank-node root cannot be named in
    portable SPARQL — the path strategy must refuse loudly instead of
    silently matching nothing."""
    import pytest as _pytest

    from sparkdon.remote import QueryExecutionError, RemoteEndpoint
    from sparkdon.terms import BNode

    remote = RemoteEndpoint("http://unused.invalid/sparql", spark)
    with _pytest.raises(QueryExecutionError, match="virtuoso"):
        remote.peel(BNode("b7"))


# -- XML results fallback (round 10) ------------------------------------

def test_parse_xml_results_roundtrip(spark):
    # the protocol server's own XML serializer feeds the client parser:
    # both halves in-repo, cross-checked against the JSON path
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import _parse_xml_results
    from sparkdon.session import inline

    ep = inline("""
@prefix : <http://ex.com/> .
:a :p "plain" , "tagged"@fr , 7 ; :q :b ; :r _:bn .
""", spark)
    srv = SparqlProtocolServer(ep)
    q = "SELECT ?s ?p ?o WHERE { ?s ?p ?o }"
    doc = _parse_xml_results(srv._select_xml(q))
    jdoc = srv._select_document(q)
    assert doc["head"]["vars"] == jdoc["head"]["vars"]
    key = lambda b: sorted((k, tuple(sorted(v.items())))
                           for k, v in b.items())
    assert sorted(map(key, doc["results"]["bindings"])) == sorted(
        map(key, jdoc["results"]["bindings"]))


class XmlOnlyHandler(BaseHTTPRequestHandler):
    """An endpoint that ignores Accept and serves only XML results: one
    ?x = 42 solution, whatever the query."""

    XML = ('<?xml version="1.0"?>'
           '<sparql xmlns="http://www.w3.org/2005/sparql-results#">'
           '<head><variable name="x"/></head><results>'
           '<result><binding name="x">'
           '<literal datatype="http://www.w3.org/2001/XMLSchema#integer">'
           '42</literal></binding></result>'
           '</results></sparql>')

    def do_POST(self):
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        body = self.XML.encode()
        self.send_response(200)
        self.send_header("Content-Type",
                         "application/sparql-results+xml")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):
        pass


def test_fetch_bindings_from_xml_only_endpoint(spark):
    # an endpoint that ignores Accept and serves only XML results
    from http.server import ThreadingHTTPServer

    from sparkdon.remote import fetch_bindings

    srv = ThreadingHTTPServer(("127.0.0.1", 0), XmlOnlyHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_address[1]}/sparql"
        doc = fetch_bindings(url, "SELECT ?x WHERE {}")
        assert doc["head"]["vars"] == ["x"]
        b = doc["results"]["bindings"][0]["x"]
        assert b == {"type": "literal", "value": "42",
                     "datatype": "http://www.w3.org/2001/XMLSchema#integer"}
    finally:
        srv.shutdown()
        srv.server_close()


def test_parse_xml_ask_result():
    from sparkdon.remote import _parse_xml_results

    doc = _parse_xml_results(
        '<?xml version="1.0"?><sparql xmlns='
        '"http://www.w3.org/2005/sparql-results#">'
        "<head/><boolean>true</boolean></sparql>")
    assert doc == {"head": {}, "boolean": True}


# -- one protocol client ---------------------------------------------------

def _serve(handler):
    server = HTTPServer(("127.0.0.1", 0), handler)
    server.queries = []
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def _register_sparql_source(spark):
    from sparkdon.sources.sparql_source import SparqlDataSource

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SparqlDataSource)


class AuthRecordingHandler(MockSparqlHandler):
    def do_POST(self):
        self.server.auth.append(self.headers.get("Authorization"))
        super().do_POST()


@pytest.fixture
def auth_server():
    server = _serve(AuthRecordingHandler)
    server.auth = []
    yield f"http://127.0.0.1:{server.server_port}/sparql", server
    server.shutdown()
    server.server_close()


def test_remote_update_sends_credentials(auth_server):
    import base64

    from sparkdon.remote import RemoteEndpoint

    url, server = auth_server
    RemoteEndpoint(url, spark=None, user="u", passwd="p").update(
        "INSERT DATA { <http://ex.com/a> <http://ex.com/p> 1 }")
    assert server.queries[-1].startswith("INSERT DATA")
    assert server.auth == ["Basic " + base64.b64encode(b"u:p").decode()]


def test_remote_to_spark_sends_credentials(spark, auth_server):
    """The data source carries the endpoint's credentials to the schema
    probe and to every executor page."""
    import base64

    from sparkdon.remote import RemoteEndpoint

    url, server = auth_server
    df = RemoteEndpoint(url, spark, user="u", passwd="p").to_spark(
        "SELECT ?s ?label ?n { ?s ?p ?o }", partitions=2, page_size=20)
    assert len(df.collect()) == 30
    assert len(server.auth) >= 3
    assert set(server.auth) == {"Basic " + base64.b64encode(b"u:p").decode()}


def test_remote_update_unreachable_is_query_execution_error():
    import socket

    from sparkdon.errors import QueryExecutionError
    from sparkdon.remote import RemoteEndpoint

    with socket.socket() as s:  # a port nobody listens on once closed
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    e = RemoteEndpoint(f"http://127.0.0.1:{port}/sparql", spark=None)
    with pytest.raises(QueryExecutionError, match="cannot reach"):
        e.update("INSERT DATA { <http://ex.com/a> <http://ex.com/p> 1 }")


def test_remote_to_spark_keeps_the_query_limit(spark):
    """to_spark reads through the data source, whose schema probe and
    stripes wrap the query as a subselect: a query with its own LIMIT
    returns its rows (a " LIMIT 1" suffix probe made it a syntax
    error, HTTP 400)."""
    from sparkdon.protocol import SparqlProtocolServer
    from sparkdon.remote import RemoteEndpoint
    from sparkdon.session import inline

    local = inline("@prefix : <http://example.com/> . "
                   + " ".join(f":s{i} :p {i} ." for i in range(6)), spark)
    with SparqlProtocolServer(local) as srv:
        remote = RemoteEndpoint(srv.url, spark, prefixes=dict(local.prefixes))
        df = remote.to_spark("SELECT ?s ?o { ?s :p ?o } ORDER BY ?o LIMIT 3",
                             partitions=2, page_size=2)
        assert [f.name for f in df.schema.fields] == ["s", "o"]
        assert sorted((r["s"], r["o"]) for r in df.collect()) == [
            ("http://example.com/s0", "0"), ("http://example.com/s1", "1"),
            ("http://example.com/s2", "2")]


def test_remote_to_spark_stripes_are_ordered(spark, mock_server):
    """Every LIMIT/OFFSET stripe carries an ORDER BY, so the pages of
    independent requests partition one deterministic sequence."""
    from sparkdon.remote import RemoteEndpoint

    url, server = mock_server
    server.queries.clear()
    df = RemoteEndpoint(url, spark=spark).to_spark(
        "SELECT ?s ?label ?n { ?s ?p ?o }", partitions=3, page_size=7)
    assert len(df.collect()) == 30
    stripes = [q for q in server.queries if "OFFSET" in q]
    assert len(stripes) >= 3
    assert all("ORDER BY ?s ?label ?n" in q for q in stripes), stripes


def test_sparql_datasource_reads_xml_only_endpoint(spark):
    _register_sparql_source(spark)
    server = _serve(XmlOnlyHandler)
    try:
        url = f"http://127.0.0.1:{server.server_port}/sparql"
        df = (spark.read.format("sparql").option("url", url)
              .option("query", "SELECT ?x WHERE { ?x ?p ?o }")
              .option("partitions", "1").load())
        assert [f.name for f in df.schema.fields] == ["x"]
        assert [tuple(r) for r in df.collect()] == [("42",)]
    finally:
        server.shutdown()
        server.server_close()


def test_sparql_datasource_maps_http_errors(spark, mock_server):
    """An endpoint failure surfaces as the client's QueryExecutionError
    text, from the schema probe and from an executor read alike."""
    _register_sparql_source(spark)
    url, _ = mock_server
    reader = (spark.read.format("sparql").option("url", url)
              .option("query", "SELECT ?s { ?s ?p ?boom }"))
    with pytest.raises(Exception, match="HTTP 500"):
        reader.load()
    with pytest.raises(Exception, match="HTTP 500"):
        reader.schema("s string").load().collect()


def test_only_the_client_module_speaks_http():
    """urllib.request appears only in the SPARQL-protocol client, the
    LOAD document fetch and the Graph Store client, and only the client
    builds an Authorization header: a second protocol client cannot
    creep back in."""
    import ast
    from pathlib import Path

    import sparkdon

    allowed = {"sparql_client.py": None, "session.py": "_apply_load",
               "graphstore.py": "RemoteGraphStore"}
    root = Path(sparkdon.__file__).parent
    stray = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text())
        inside = set()
        scope = allowed.get(rel)
        for node in ast.walk(tree):
            if (isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    and node.name == scope):
                inside.update(id(n) for n in ast.walk(node))
        for node in ast.walk(tree):
            uses_request = (
                isinstance(node, ast.Import)
                and any(a.name == "urllib.request" for a in node.names)
                or isinstance(node, ast.ImportFrom)
                and (node.module == "urllib.request"
                     or node.module == "urllib"
                     and any(a.name == "request" for a in node.names))
                or isinstance(node, ast.Attribute) and node.attr == "request"
                and isinstance(node.value, ast.Name)
                and node.value.id == "urllib")
            builds_auth = (isinstance(node, ast.Constant)
                           and node.value == "Authorization")
            if builds_auth and rel != "sparql_client.py":
                stray.append(f"{rel}:{node.lineno} Authorization")
            if uses_request and not (
                    rel in allowed and (scope is None or id(node) in inside)):
                stray.append(f"{rel}:{node.lineno} urllib.request")
    assert stray == []
