"""SPARQL 1.1 Protocol direct-POST bodies + content negotiation
(round-6: VERDICT task 6).

protocol.py now accepts `application/sparql-query` and
`application/sparql-update` POST bodies per spec section 2.1.3/2.2.2,
answers 415 for unknown body types and 406 for an Accept header that
excludes the one serialization produced.  remote.fetch_bindings grows
the matching raw_post client mode, driven through a real SERVICE loop.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from sparkdon.protocol import SparqlProtocolServer
from sparkdon.session import inline

EX = "PREFIX : <http://example.com/>\n"

TTL = """
@prefix : <http://example.com/> .
:Manhattan :pop 1694251 .
:Brooklyn :pop 2736074 .
"""

LOCAL_TTL = """
@prefix : <http://example.com/> .
:NYC :boro :Manhattan , :Brooklyn .
"""


@pytest.fixture(scope="module")
def served(spark):
    srv = SparqlProtocolServer(inline(TTL, spark)).start()
    yield srv
    srv.stop()


def post(url, body: str, ctype: str, accept: str | None = None):
    headers = {"Content-Type": ctype}
    if accept:
        headers["Accept"] = accept
    req = urllib.request.Request(url, data=body.encode(), headers=headers)
    return urllib.request.urlopen(req)


def test_direct_post_query(served):
    q = EX + "SELECT ?s ?pop WHERE { ?s :pop ?pop } ORDER BY ?s"
    resp = post(served.url, q, "application/sparql-query")
    assert resp.status == 200
    assert resp.headers["Content-Type"] == "application/sparql-results+json"
    doc = json.loads(resp.read())
    assert [b["pop"]["value"] for b in doc["results"]["bindings"]] == [
        "2736074", "1694251"]


def test_direct_post_query_with_charset_param(served):
    q = EX + "ASK { :Manhattan :pop 1694251 }"
    doc = json.loads(post(served.url, q,
                          "application/sparql-query; charset=UTF-8").read())
    assert doc["boolean"] is True


def test_direct_post_update(spark):
    ep = inline(TTL, spark)
    with SparqlProtocolServer(ep) as srv:
        n0 = ep.select_raw("SELECT * WHERE { ?s ?p ?o }").count()
        upd = EX + "INSERT DATA { :Queens :pop 2405464 }"
        resp = post(srv.url, upd, "application/sparql-update")
        assert resp.status == 204
        assert ep.select_raw("SELECT * WHERE { ?s ?p ?o }").count() == n0 + 1
        # and the update body is NOT treated as a query
        assert srv.queries[-1] == upd


def test_unsupported_content_type_415(served):
    with pytest.raises(urllib.error.HTTPError) as ei:
        post(served.url, "{}", "application/json")
    assert ei.value.code == 415


def test_accept_negotiation(served):
    q = EX + "ASK { :Manhattan :pop 1694251 }"
    # explicit acceptable types succeed
    for accept in ("application/sparql-results+json", "application/json",
                   "text/html, */*;q=0.1"):
        assert post(served.url, q, "application/sparql-query",
                    accept=accept).status == 200
    # a client that cannot take any produced serialization gets 406
    # (text/csv and application/xml stopped being 406s in round 7 —
    # both are now served)
    with pytest.raises(urllib.error.HTTPError) as ei:
        post(served.url, q, "application/sparql-query",
             accept="image/png")
    assert ei.value.code == 406


def test_form_encoded_post_still_works(served):
    q = EX + "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"
    req = urllib.request.Request(
        served.url, data=urllib.parse.urlencode({"query": q}).encode())
    doc = json.loads(urllib.request.urlopen(req).read())
    assert doc["results"]["bindings"][0]["n"]["value"] == "2"


def test_service_loop_via_raw_post(spark, served, monkeypatch):
    """Drive a real SERVICE federation round-trip with the direct-POST
    client mode: the local engine ships its bound-join query as an
    application/sparql-query body."""
    import sparkdon.remote as remote

    orig = remote.fetch_bindings
    monkeypatch.setattr(
        remote, "fetch_bindings",
        lambda url, sparql, **kw: orig(url, sparql, raw_post=True, **kw))
    local = inline(LOCAL_TTL, spark)
    pdf = local.select(
        EX + "SELECT ?b ?pop WHERE { :NYC :boro ?b ."
        f"  SERVICE <{served.url}> {{ ?b :pop ?pop }} }} ORDER BY ?b")
    assert list(pdf["pop"]) == [2736074, 1694251]


def test_construct_over_protocol(served):
    q = EX + "CONSTRUCT { ?s :population ?pop } WHERE { ?s :pop ?pop }"
    resp = post(served.url, q, "application/sparql-query")
    assert resp.status == 200
    assert resp.headers["Content-Type"] == "application/n-triples"
    text = resp.read().decode()
    lines = sorted(l for l in text.splitlines() if l)
    assert lines == [
        "<http://example.com/Brooklyn> <http://example.com/population> "
        '"2736074"^^<http://www.w3.org/2001/XMLSchema#integer> .',
        "<http://example.com/Manhattan> <http://example.com/population> "
        '"1694251"^^<http://www.w3.org/2001/XMLSchema#integer> .',
    ]


def test_describe_over_protocol(served):
    q = EX + "DESCRIBE <http://example.com/Manhattan>"
    text = post(served.url, q, "application/sparql-query").read().decode()
    assert "<http://example.com/Manhattan> <http://example.com/pop>" in text
    assert "Brooklyn" not in text


def test_construct_accept_negotiation(served):
    q = EX + "CONSTRUCT { ?s :p ?pop } WHERE { ?s :pop ?pop }"
    assert post(served.url, q, "application/sparql-query",
                accept="application/n-triples").status == 200
    with pytest.raises(urllib.error.HTTPError) as ei:
        post(served.url, q, "application/sparql-query",
             accept="application/sparql-results+json")
    assert ei.value.code == 406


def test_concurrent_queries(served):
    """The threaded server claim: parallel clients against one endpoint
    (Spark sessions accept concurrent job submission)."""
    import concurrent.futures

    q = EX + "SELECT (COUNT(*) AS ?n) WHERE { ?s ?p ?o }"

    def one_call(_):
        doc = json.loads(post(served.url, q, "application/sparql-query").read())
        return doc["results"]["bindings"][0]["n"]["value"]

    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        got = list(ex.map(one_call, range(16)))
    assert got == ["2"] * 16


def test_malformed_body_is_400_not_thread_death(served):
    """Invalid UTF-8 POST body must answer 400, not kill the handler."""
    req = urllib.request.Request(
        served.url, data=b"\xff\xfe\xfd",
        headers={"Content-Type": "application/sparql-query"})
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req)
    assert ei.value.code == 400
    # the server thread survives and keeps answering
    q = EX + "ASK { :Manhattan :pop 1694251 }"
    assert post(served.url, q, "application/sparql-query").status == 200


# -- CSV / TSV result serializations (round 7) ---------------------------

def get(url, query: str, accept: str):
    req = urllib.request.Request(
        url + "?" + urllib.parse.urlencode({"query": query}),
        headers={"Accept": accept})
    return urllib.request.urlopen(req)


def test_select_csv_via_get(served):
    q = EX + "SELECT ?s ?pop WHERE { ?s :pop ?pop } ORDER BY ?s"
    resp = get(served.url, q, "text/csv")
    assert resp.status == 200
    assert resp.headers["Content-Type"].startswith("text/csv")
    lines = resp.read().decode().strip().split("\r\n")
    assert lines[0] == "s,pop"
    assert lines[1] == "http://example.com/Brooklyn,2736074"
    assert lines[2] == "http://example.com/Manhattan,1694251"


def test_select_tsv_via_direct_post(served):
    q = EX + "SELECT ?s ?pop WHERE { ?s :pop ?pop } ORDER BY ?s"
    resp = post(served.url, q, "application/sparql-query",
                accept="text/tab-separated-values")
    assert resp.status == 200
    assert resp.headers["Content-Type"].startswith("text/tab-separated-values")
    lines = resp.read().decode().strip().split("\n")
    assert lines[0] == "?s\t?pop"
    assert lines[1] == ("<http://example.com/Brooklyn>\t"
                        '"2736074"^^<http://www.w3.org/2001/XMLSchema#integer>')


def test_csv_escaping_and_unbound(spark):
    ttl = '''@prefix : <http://example.com/> .
    :a :label "has, comma and \\"quote\\"" .
    :b :other "plain" .'''
    with SparqlProtocolServer(inline(ttl, spark)) as srv:
        q = EX + ("SELECT ?s ?v WHERE { ?s ?p ?o . "
                  "OPTIONAL { ?s :label ?v } } ORDER BY ?s")
        lines = get(srv.url, q, "text/csv").read().decode().split("\r\n")
        assert lines[1] == 'http://example.com/a,"has, comma and ""quote"""'
        assert lines[2] == "http://example.com/b,"  # unbound -> empty


def test_tsv_lang_tag_and_bnode(spark):
    ttl = '''@prefix : <http://example.com/> .
    :a :label "bonjour"@fr ; :child [ :name "kid" ] .'''
    with SparqlProtocolServer(inline(ttl, spark)) as srv:
        q = EX + "SELECT ?v WHERE { :a :label ?v }"
        body = get(srv.url, q, "text/tab-separated-values").read().decode()
        assert body.splitlines()[1] == '"bonjour"@fr'
        q2 = EX + "SELECT ?c WHERE { :a :child ?c }"
        body2 = get(srv.url, q2, "text/tab-separated-values").read().decode()
        assert body2.splitlines()[1].startswith("_:")


def test_ask_csv_tsv(served):
    q = EX + "ASK { ?s :pop ?pop }"
    body = get(served.url, q, "text/csv").read().decode()
    assert body == "_askResult\r\ntrue\r\n"
    body = get(served.url, q, "text/tab-separated-values").read().decode()
    assert body == "?_askResult\ntrue\n"


def test_accept_order_and_406_still_work(served):
    q = EX + "SELECT ?s WHERE { ?s :pop ?pop }"
    # client preference order wins: csv listed first -> csv served
    resp = get(served.url, q, "text/csv, application/sparql-results+json")
    assert resp.headers["Content-Type"].startswith("text/csv")
    # json first -> json
    resp = get(served.url, q, "application/sparql-results+json, text/csv")
    assert resp.headers["Content-Type"].startswith(
        "application/sparql-results+json")
    # nothing producible -> 406
    with pytest.raises(urllib.error.HTTPError) as e:
        get(served.url, q, "image/png")
    assert e.value.code == 406


# -- XML result serialization (round 7) ----------------------------------

def test_select_xml_via_get(served):
    q = EX + "SELECT ?s ?pop WHERE { ?s :pop ?pop } ORDER BY ?s"
    resp = get(served.url, q, "application/sparql-results+xml")
    assert resp.status == 200
    assert resp.headers["Content-Type"].startswith(
        "application/sparql-results+xml")
    import xml.etree.ElementTree as ET

    ns = "{http://www.w3.org/2005/sparql-results#}"
    root = ET.fromstring(resp.read().decode())
    assert [v.get("name") for v in root.find(f"{ns}head")] == ["s", "pop"]
    results = root.find(f"{ns}results").findall(f"{ns}result")
    assert len(results) == 2
    b0 = {b.get("name"): b[0] for b in results[0]}
    assert b0["s"].tag == f"{ns}uri"
    assert b0["s"].text == "http://example.com/Brooklyn"
    assert b0["pop"].tag == f"{ns}literal"
    assert b0["pop"].get("datatype") == (
        "http://www.w3.org/2001/XMLSchema#integer")
    assert b0["pop"].text == "2736074"


def test_ask_xml_and_escaping(served, spark):
    q = EX + "ASK { ?s :pop ?pop }"
    body = get(served.url, q, "application/sparql-results+xml").read().decode()
    assert "<boolean>true</boolean>" in body
    # literal with markup-significant characters round-trips escaped
    ttl = '''@prefix : <http://example.com/> .
    :a :label "a <b> & \\"c\\"" ; :tag "salut"@fr .'''
    with SparqlProtocolServer(inline(ttl, spark)) as srv:
        import xml.etree.ElementTree as ET

        ns = "{http://www.w3.org/2005/sparql-results#}"
        q2 = EX + "SELECT ?v ?t WHERE { :a :label ?v ; :tag ?t }"
        root = ET.fromstring(
            get(srv.url, q2, "application/xml").read().decode())
        b = {x.get("name"): x[0]
             for x in root.find(f"{ns}results").find(f"{ns}result")}
        assert b["v"].text == 'a <b> & "c"'
        assert b["t"].get(
            "{http://www.w3.org/XML/1998/namespace}lang") == "fr"


# -- §2.1.4 protocol dataset parameters (round 10) ---------------------

DS_TRIG = """
@prefix : <http://ex.com/> .
:alice :age 19 .
GRAPH :g1 { :bob :age 42 . :bob :likes :carol . }
GRAPH :g2 { :carol :age 30 . }
"""

DSQ = "PREFIX : <http://ex.com/>\n"


@pytest.fixture(scope="module")
def ds_served(spark):
    from sparkdon.session import inline_trig

    srv = SparqlProtocolServer(inline_trig(DS_TRIG, spark)).start()
    yield srv
    srv.stop()


def get_json(url, query, **extra):
    params = [("query", query)] + [
        (k, v) for k, vs in extra.items() for v in vs]
    resp = urllib.request.urlopen(url + "?" + urllib.parse.urlencode(params))
    return resp, json.loads(resp.read())


def test_default_graph_uri_selects_one_graph(ds_served):
    q = DSQ + "SELECT ?s WHERE { ?s :age ?a } ORDER BY ?s"
    _, doc = get_json(ds_served.url, q)
    # no dataset params: the store's default graph (alice only)
    assert [b["s"]["value"] for b in doc["results"]["bindings"]] == [
        "http://ex.com/alice"]
    _, doc = get_json(ds_served.url, q,
                      **{"default-graph-uri": ["http://ex.com/g1"]})
    assert [b["s"]["value"] for b in doc["results"]["bindings"]] == [
        "http://ex.com/bob"]


def test_default_graph_uri_repeats_merge(ds_served):
    q = DSQ + "SELECT ?s WHERE { ?s :age ?a } ORDER BY ?s"
    _, doc = get_json(ds_served.url, q, **{
        "default-graph-uri": ["http://ex.com/g1", "http://ex.com/g2"]})
    assert [b["s"]["value"] for b in doc["results"]["bindings"]] == [
        "http://ex.com/bob", "http://ex.com/carol"]


def test_named_graph_uri_scopes_graph_iteration(ds_served):
    q = DSQ + "SELECT ?g ?s WHERE { GRAPH ?g { ?s :age ?a } } ORDER BY ?g"
    _, doc = get_json(ds_served.url, q,
                      **{"named-graph-uri": ["http://ex.com/g2"]})
    got = [(b["g"]["value"], b["s"]["value"])
           for b in doc["results"]["bindings"]]
    assert got == [("http://ex.com/g2", "http://ex.com/carol")]
    # named-graph-uri only => protocol dataset has an EMPTY default graph
    q2 = DSQ + "SELECT ?s WHERE { ?s :age ?a }"
    _, doc = get_json(ds_served.url, q2,
                      **{"named-graph-uri": ["http://ex.com/g1"]})
    assert doc["results"]["bindings"] == []


def test_protocol_dataset_overrides_query_from(ds_served):
    # §2.1.4: the protocol dataset takes precedence over FROM in the text
    q = DSQ + "SELECT ?s FROM <http://ex.com/g2> WHERE { ?s :age ?a }"
    _, doc = get_json(ds_served.url, q,
                      **{"default-graph-uri": ["http://ex.com/g1"]})
    assert [b["s"]["value"] for b in doc["results"]["bindings"]] == [
        "http://ex.com/bob"]


def test_ask_and_construct_with_dataset(ds_served):
    ask = DSQ + "ASK { :bob :age 42 }"
    _, doc = get_json(ds_served.url, ask)
    assert doc["boolean"] is False
    _, doc = get_json(ds_served.url, ask,
                      **{"default-graph-uri": ["http://ex.com/g1"]})
    assert doc["boolean"] is True
    con = DSQ + "CONSTRUCT { ?s :aged ?a } WHERE { ?s :age ?a }"
    params = [("query", con), ("default-graph-uri", "http://ex.com/g2")]
    resp = urllib.request.urlopen(
        ds_served.url + "?" + urllib.parse.urlencode(params))
    body = resp.read().decode()
    assert "http://ex.com/carol" in body and "http://ex.com/bob" not in body


def test_describe_with_dataset_param(ds_served):
    q = DSQ + "DESCRIBE :bob"
    params = [("query", q), ("default-graph-uri", "http://ex.com/g1")]
    body = urllib.request.urlopen(
        ds_served.url + "?" + urllib.parse.urlencode(params)).read().decode()
    assert "http://ex.com/likes" in body
    # without the param, :bob has no triples in the store default graph
    params = [("query", q)]
    body = urllib.request.urlopen(
        ds_served.url + "?" + urllib.parse.urlencode(params)).read().decode()
    assert body.strip() == ""


def test_update_with_using_graph_uri_is_400(ds_served):
    body = urllib.parse.urlencode([
        ("update", DSQ + "INSERT { :x :y :z } WHERE {}"),
        ("using-graph-uri", "http://ex.com/g1")]).encode()
    with pytest.raises(urllib.error.HTTPError) as exc:
        urllib.request.urlopen(urllib.request.Request(
            ds_served.url, data=body,
            headers={"Content-Type": "application/x-www-form-urlencoded"}))
    assert exc.value.code == 400


def test_remote_client_dataset_params_loop(spark, ds_served):
    # client half of §2.1.4 against our own server: default_graph (str
    # parity with the reference) + named_graphs list
    from sparkdon.remote import RemoteEndpoint

    ep = RemoteEndpoint(ds_served.url, spark,
                        prefixes={"": "http://ex.com/"},
                        default_graph="http://ex.com/g1")
    pdf = ep.select("SELECT ?s WHERE { ?s :age ?a }")
    assert [str(v) for v in pdf["s"]] == [":bob"]
    ep2 = RemoteEndpoint(ds_served.url, spark,
                         prefixes={"": "http://ex.com/"},
                         default_graph=["http://ex.com/g1",
                                        "http://ex.com/g2"],
                         named_graphs=["http://ex.com/g2"])
    pdf = ep2.select("SELECT ?s WHERE { ?s :age ?a } ORDER BY ?s")
    assert [str(v) for v in pdf["s"]] == [":bob", ":carol"]
    pdf = ep2.select("SELECT ?g WHERE { GRAPH ?g { ?s :age ?a } }")
    assert [str(v) for v in pdf["g"]] == [":g2"]
    # distributed stripe fetch threads the same dataset pairs
    sdf = ep2.to_spark("SELECT ?s WHERE { ?s :age ?a }", partitions=2)
    assert sorted(r["s"] for r in sdf.collect()) == [
        "http://ex.com/bob", "http://ex.com/carol"]


def test_service_description_on_bare_get(served):
    resp = urllib.request.urlopen(served.url)
    assert resp.status == 200
    assert resp.headers["Content-Type"] == "application/n-triples"
    body = resp.read().decode()
    sd = "http://www.w3.org/ns/sparql-service-description#"
    assert f"<{sd}Service>" in body
    assert f"<{sd}endpoint> <{served.url}>" in body
    assert f"<{sd}SPARQL11Update>" in body
    # it parses as RDF (our own N-Triples-compatible parser)
    from sparkdon.io import parse_turtle

    assert len(parse_turtle(body)) == len(body.strip().splitlines())
    # POST with no query/update stays a 400, and GET ?query= still works
    with pytest.raises(urllib.error.HTTPError) as exc:
        post(served.url, "", "application/x-www-form-urlencoded")
    assert exc.value.code == 400


def test_construct_turtle_and_rdfxml_negotiation(served):
    q = EX + "CONSTRUCT { ?s :pop ?pop } WHERE { ?s :pop ?pop }"
    resp = post(served.url, q, "application/sparql-query",
                accept="text/turtle")
    assert resp.headers["Content-Type"] == "text/turtle"
    ttl = resp.read().decode()
    assert "@prefix" in ttl and "1694251" in ttl
    resp = post(served.url, q, "application/sparql-query",
                accept="application/rdf+xml")
    assert resp.headers["Content-Type"] == "application/rdf+xml"
    from sparkdon.rdfxml import parse_rdfxml

    rows = parse_rdfxml(resp.read())
    assert len(rows) == 2
    # default (no Accept) stays N-Triples
    resp = post(served.url, q, "application/sparql-query")
    assert resp.headers["Content-Type"] == "application/n-triples"


class _FailingEndpoint:
    """Answers every query, update and ASK by raising ``make_error()``."""

    def __init__(self, make_error):
        self.make_error = make_error

    def _fail(self, *args, **kwargs):
        raise self.make_error()

    select_raw = ask = construct = describe = update = _fail


def _status(srv, body: str, ctype="application/sparql-query") -> int:
    try:
        return post(srv.url, body, ctype).status
    except urllib.error.HTTPError as exc:
        return exc.code


def test_only_client_faults_answer_400(spark):
    """Parse and query errors, a wrong query form and an unsupported one
    are the client's fault (400); anything else, a Spark
    ``ParseException`` or ``AnalysisException`` from compiled SQL
    included, is an engine fault (500) and no longer blamed on the
    client."""
    from sparkdon.errors import (
        QueryExecutionError, SparkdonError, SparqlSyntaxError,
    )

    def spark_error(text):
        def make():
            try:
                spark.sql(text)
            except Exception as exc:
                return exc
            raise AssertionError(f"{text!r} did not fail")
        return make

    cases = [
        (lambda: SparqlSyntaxError("ASK {", 5, "expected '}'"), 400),
        (lambda: QueryExecutionError("literal subject in pattern"), 400),
        (lambda: SparkdonError("ask() requires an ASK query"), 400),
        (spark_error("SELEC 1"), 500),                     # ParseException
        (spark_error("SELECT no_such_column"), 500),       # AnalysisException
        (lambda: RuntimeError("engine bug"), 500),
    ]
    for make_error, code in cases:
        srv = SparqlProtocolServer(_FailingEndpoint(make_error)).start()
        try:
            name = type(make_error()).__name__
            for body, ctype in (("ASK { ?s ?p ?o }", "application/sparql-query"),
                                ("SELECT * { ?s ?p ?o }", "application/sparql-query"),
                                ("INSERT DATA { <a:s> <a:p> <a:o> }",
                                 "application/sparql-update")):
                assert _status(srv, body, ctype) == code, (name, body)
            # the handler's own "unsupported query form" stays a 400
            assert _status(srv, "LOAD <a:b>") == 400, name
        finally:
            srv.stop()
