"""Serve a sparkdon endpoint over the SPARQL 1.1 protocol (HTTP).

The reference is a pure endpoint *client* (gastrodon/__init__.py:553-612
speaks the protocol to remote stores); this module adds the server side:
any :class:`~sparkdon.session.Endpoint` — in particular a
:class:`~sparkdon.session.LocalEndpoint` holding a Spark-resident graph —
can be published as a SPARQL endpoint.  That closes the federation loop:
another sparkdon session (or any SPARQL 1.1 client) can point a
``SERVICE <url> { ... }`` clause or a :class:`~sparkdon.remote.RemoteEndpoint`
at it.

Protocol coverage (SPARQL 1.1 Protocol §2.1/§2.2): query via GET
(``?query=``), query via URL-encoded POST (``query=`` parameter), query
via direct POST (``application/sparql-query`` body), update via
URL-encoded POST (``update=`` parameter), and update via direct POST
(``application/sparql-update`` body).  SELECT/ASK results serialize as
``application/sparql-results+json`` (default),
``application/sparql-results+xml``, ``text/csv``, or
``text/tab-separated-values`` (SPARQL 1.1 Query Results XML/CSV/TSV
formats) under Accept-header negotiation; CONSTRUCT/DESCRIBE as
``application/n-triples``.  An ``Accept`` header that excludes every
produced type is answered 406; an unsupported POST body type is
answered 415.

The handler evaluates queries on the Spark driver; requests are served
from daemon threads of a ``ThreadingHTTPServer`` — Spark sessions are
thread-safe for concurrent job submission, so parallel SERVICE fetches
against one server are fine.
"""

from __future__ import annotations

import collections
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from sparkdon.terms import KIND_BNODE, KIND_IRI

_FORM_RE = re.compile(
    r"\b(SELECT|ASK|CONSTRUCT|DESCRIBE|INSERT|DELETE|WITH|CLEAR|DROP)\b",
    re.IGNORECASE,
)

#: prologue declarations stripped before form detection — a PREFIX label
#: or IRI may embed a form keyword (``PREFIX d: <urn:ns/delete#>``) and
#: must not win the match
_PROLOGUE_RE = re.compile(
    r"^\s*(?:#[^\n]*\n\s*"                       # comment lines
    r"|PREFIX\s+[^<\s]*\s*<[^>]*>\s*"            # PREFIX label: <iri>
    r"|BASE\s*<[^>]*>\s*)*",
    re.IGNORECASE,
)


def _query_form(sparql: str) -> str:
    """First query-form keyword after the prologue.  PREFIX/BASE
    declarations (and comments) are stripped first so that labels or
    IRIs containing a form keyword cannot misroute the query."""
    m = _FORM_RE.search(sparql[_PROLOGUE_RE.match(sparql).end():])
    return m.group(1).upper() if m else ""


def _struct_to_json(v) -> dict | None:
    """Term-struct (Row or dict) → SPARQL-JSON results term node."""
    if v is None:
        return None
    kind, lex, dt, lang = v["kind"], v["lex"], v["dt"], v["lang"]
    if kind == KIND_IRI:
        return {"type": "uri", "value": lex}
    if kind == KIND_BNODE:
        return {"type": "bnode", "value": lex}
    node: dict = {"type": "literal", "value": lex}
    if lang:
        node["xml:lang"] = lang
    elif dt:
        node["datatype"] = dt
    return node


def negotiate(accept: str | None, offered: dict[str, str]) -> str | None:
    """Content negotiation for every response kind: the first media type
    in the client's listed order that ``offered`` maps wins (minimal
    negotiation, no q-value sorting); no Accept header means ``*/*``,
    which each table maps to its default.  None = nothing acceptable
    (406)."""
    for part in (accept or "*/*").split(","):
        got = offered.get(part.split(";", 1)[0].strip().lower())
        if got is not None:
            return got
    return None


#: graph serializations by Accept media type; wildcards resolve to
#: N-Triples (the historical default).  Shared by the protocol server's
#: CONSTRUCT/DESCRIBE results and the graph store's GET/HEAD.
GRAPH_TYPES = {
    "*/*": "application/n-triples",
    "application/n-triples": "application/n-triples",
    "text/plain": "application/n-triples",
    "text/*": "application/n-triples",
    "application/*": "application/n-triples",
    "text/turtle": "text/turtle",
    "application/rdf+xml": "application/rdf+xml",
    "application/xml": "application/rdf+xml",
}

#: the service description is produced as N-Triples only
_NT_TYPES = {k: v for k, v in GRAPH_TYPES.items()
             if v == "application/n-triples"}

#: SELECT/ASK serializations (SPARQL 1.1 Query Results JSON, XML and
#: CSV/TSV formats); ``text/*`` resolves to CSV as the most
#: interoperable text form
_SELECT_TYPES = {
    "*/*": "json",
    "application/sparql-results+json": "json",
    "application/json": "json",
    "application/*": "json",
    "application/sparql-results+xml": "xml",
    "application/xml": "xml",
    "text/csv": "csv",
    "text/tab-separated-values": "tsv",
    "text/*": "csv",
}

#: requests kept in :attr:`SparqlProtocolServer.queries` (oldest dropped)
QUERY_LOG_SIZE = 1000


class SparqlProtocolServer:
    """Publish an Endpoint at ``http://host:port/sparql``.

    >>> srv = SparqlProtocolServer(local_endpoint).start()   # doctest: +SKIP
    >>> other.select(f'SELECT * {{ SERVICE <{srv.url}> {{ ?s ?p ?o }} }}')
    """

    def __init__(self, endpoint, host: str = "127.0.0.1", port: int = 0):
        self.endpoint = endpoint
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                # a malformed request (bad Content-Length, non-UTF-8
                # body) must answer 400, not kill the handler thread
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    body = self.rfile.read(length).decode()
                except (ValueError, UnicodeDecodeError) as exc:
                    outer._plain(self, 400, f"malformed request: {exc}")
                    return
                # media type without parameters (";charset=...")
                ctype = (self.headers.get("Content-Type") or
                         "application/x-www-form-urlencoded")
                ctype = ctype.split(";", 1)[0].strip().lower()
                if ctype == "application/sparql-query":
                    # §2.1.3 query via direct POST: the body IS the query;
                    # protocol params (default-graph-uri...) ride the URL
                    # query string, so merge them in
                    params = urllib.parse.parse_qs(
                        urllib.parse.urlparse(self.path).query)
                    params["query"] = [body]
                elif ctype == "application/sparql-update":
                    # §2.2.2 update via direct POST (URL params merged as
                    # for direct-POST query)
                    params = urllib.parse.parse_qs(
                        urllib.parse.urlparse(self.path).query)
                    params["update"] = [body]
                elif ctype == "application/x-www-form-urlencoded":
                    params = urllib.parse.parse_qs(body)
                else:
                    outer._plain(self, 415,
                                 f"unsupported Content-Type {ctype!r}; use "
                                 "application/x-www-form-urlencoded, "
                                 "application/sparql-query, or "
                                 "application/sparql-update")
                    return
                outer._handle(self, params, method="POST")

            def do_GET(self):
                _, _, qs = self.path.partition("?")
                outer._handle(self, urllib.parse.parse_qs(qs), method="GET")

            def log_message(self, *args):  # quiet
                pass

        self.server = ThreadingHTTPServer((host, port), Handler)
        self.server.daemon_threads = True
        #: the most recent query/update strings served, for inspection
        self.queries: collections.deque[str] = collections.deque(
            maxlen=QUERY_LOG_SIZE)
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------

    @property
    def url(self) -> str:
        host, port = self.server.server_address[:2]
        return f"http://{host}:{port}/sparql"

    def start(self) -> "SparqlProtocolServer":
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def __enter__(self) -> "SparqlProtocolServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- request handling ----------------------------------------------

    @staticmethod
    def _plain(h: BaseHTTPRequestHandler, code: int, text: str,
               allow: str | None = None) -> None:
        body = text.encode()
        h.send_response(code)
        if allow:
            h.send_header("Allow", allow)
        h.send_header("Content-Type", "text/plain; charset=utf-8")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

    #: namespaces for the service description document
    _SD = "http://www.w3.org/ns/sparql-service-description#"
    _FMT = "http://www.w3.org/ns/formats/"

    def _service_description(self, h: BaseHTTPRequestHandler) -> None:
        """W3C SPARQL 1.1 Service Description: a GET on the endpoint
        with no ``query``/``update`` parameter returns RDF describing
        the service (languages, result formats, dataset features)."""
        if negotiate(h.headers.get("Accept"), _NT_TYPES) is None:
            self._plain(h, 406, "the service description is produced as "
                                "application/n-triples")
            return
        sd, fmt, url = self._SD, self._FMT, self.url
        rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        lines = [
            f"_:service <{rdf_type}> <{sd}Service> .",
            f"_:service <{sd}endpoint> <{url}> .",
            f"_:service <{sd}supportedLanguage> <{sd}SPARQL11Query> .",
            f"_:service <{sd}supportedLanguage> <{sd}SPARQL11Update> .",
            f"_:service <{sd}feature> <{sd}BasicFederatedQuery> .",
            f"_:service <{sd}resultFormat> <{fmt}SPARQL_Results_JSON> .",
            f"_:service <{sd}resultFormat> <{fmt}SPARQL_Results_XML> .",
            f"_:service <{sd}resultFormat> <{fmt}SPARQL_Results_CSV> .",
            f"_:service <{sd}resultFormat> <{fmt}SPARQL_Results_TSV> .",
            f"_:service <{sd}resultFormat> <{fmt}N-Triples> .",
        ]
        if getattr(self.endpoint, "union_default", False):
            lines.append(f"_:service <{sd}feature> "
                         f"<{sd}UnionDefaultGraph> .")
        body = ("\n".join(lines) + "\n").encode()
        h.send_response(200)
        h.send_header("Content-Type", "application/n-triples")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

    def _handle(self, h: BaseHTTPRequestHandler, params: dict,
                method: str = "POST") -> None:
        try:
            if method == "GET" and "query" not in params \
                    and "update" not in params:
                self._service_description(h)
                return
            # §2.1.4 specifying an RDF dataset: default-graph-uri /
            # named-graph-uri request parameters (each repeatable) take
            # precedence over the query's own FROM/FROM NAMED clauses
            ds_default = params.get("default-graph-uri", [])
            ds_named = params.get("named-graph-uri", [])
            dataset = ((tuple(ds_default), tuple(ds_named))
                       if (ds_default or ds_named) else None)
            if "update" in params:
                if method != "POST":
                    # SPARQL 1.1 protocol §2.2: update only via POST; a
                    # state-mutating GET is also a CSRF/crawler hazard
                    self._plain(h, 405, "update is only accepted via POST",
                                allow="POST")
                    return
                if ("using-graph-uri" in params or
                        "using-named-graph-uri" in params):
                    # honest refusal beats silently running the update
                    # against the wrong dataset (§2.2.3)
                    self._plain(h, 400, "using-graph-uri/"
                                "using-named-graph-uri are not supported; "
                                "scope the update with USING/WITH clauses")
                    return
                sparql = params["update"][0]
                self.queries.append(sparql)
                self.endpoint.update(sparql)
                h.send_response(204)
                h.end_headers()
                return
            sparql = params.get("query", [""])[0]
            self.queries.append(sparql)
            form = _query_form(sparql)
            if form in ("CONSTRUCT", "DESCRIBE"):
                gfmt = negotiate(h.headers.get("Accept"), GRAPH_TYPES)
                if gfmt is None:
                    self._plain(h, 406, "graph results are produced as "
                                        "application/n-triples, "
                                        "text/turtle, or "
                                        "application/rdf+xml")
                    return
                result = (self.endpoint.construct(sparql, dataset=dataset)
                          if form == "CONSTRUCT"
                          else self.endpoint.describe(sparql, dataset=dataset))
                if gfmt == "text/turtle":
                    from sparkdon.io import ttl_string

                    body = ttl_string(result.graph,
                                      result.prefixes).encode()
                elif gfmt == "application/rdf+xml":
                    from sparkdon.rdfxml import rdfxml_string

                    body = rdfxml_string(result.graph,
                                         result.prefixes).encode()
                else:
                    from sparkdon.io import nt_string

                    body = nt_string(result.graph).encode()
                h.send_response(200)
                h.send_header("Content-Type", gfmt)
                h.send_header("Content-Length", str(len(body)))
                h.end_headers()
                h.wfile.write(body)
                return
            fmt = negotiate(h.headers.get("Accept"), _SELECT_TYPES)
            if fmt is None:
                self._plain(h, 406, "SELECT/ASK results are produced as "
                                    "application/sparql-results+json, "
                                    "application/sparql-results+xml, "
                                    "text/csv, or text/tab-separated-values")
                return
            if form == "ASK":
                result = bool(self.endpoint.ask(sparql, dataset=dataset))
                if fmt == "json":
                    body = json.dumps({"head": {}, "boolean": result}).encode()
                elif fmt == "xml":
                    body = (
                        '<?xml version="1.0"?>\n<sparql xmlns='
                        '"http://www.w3.org/2005/sparql-results#">'
                        f"<head/><boolean>{str(result).lower()}</boolean>"
                        "</sparql>").encode()
                else:
                    # the CSV/TSV results spec covers SELECT only; for
                    # ASK serve the de-facto one-column convention
                    sep_name = "_askResult" if fmt == "csv" else "?_askResult"
                    body = (f"{sep_name}\r\n{str(result).lower()}\r\n"
                            if fmt == "csv" else
                            f"{sep_name}\n{str(result).lower()}\n").encode()
            elif form == "SELECT":
                if fmt == "json":
                    body = json.dumps(
                        self._select_document(sparql, dataset)).encode()
                elif fmt == "xml":
                    body = self._select_xml(sparql, dataset).encode()
                elif fmt == "csv":
                    body = self._select_csv(sparql, dataset).encode()
                else:
                    body = self._select_tsv(sparql, dataset).encode()
            else:
                raise ValueError(
                    f"unsupported query form {form or 'EMPTY'!r}; this "
                    "endpoint serves SELECT / ASK / CONSTRUCT / DESCRIBE "
                    "/ update")
        except Exception as e:  # protocol: malformed/failed → 4xx + text
            self._plain(h, 400, str(e))
            return
        ctype = {
            "json": "application/sparql-results+json",
            "xml": "application/sparql-results+xml",
            "csv": "text/csv; charset=utf-8",
            "tsv": "text/tab-separated-values; charset=utf-8",
        }[fmt]
        h.send_response(200)
        h.send_header("Content-Type", ctype)
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        h.wfile.write(body)

    def _select_rows(self, sparql: str, dataset: tuple | None = None):
        """(variable names, rows of term structs) for a SELECT — shared
        by the three result serializers."""
        pdf = self.endpoint.select_raw(sparql, dataset=dataset).toPandas()
        names = [c[2:] for c in pdf.columns if c.startswith("v_")]
        rows = [[row["v_" + n] for n in names] for _, row in pdf.iterrows()]
        return names, rows

    def _select_document(self, sparql: str,
                         dataset: tuple | None = None) -> dict:
        names, rows = self._select_rows(sparql, dataset)
        bindings = []
        for row in rows:
            b = {}
            for n, v in zip(names, row):
                node = _struct_to_json(v)
                if node is not None:
                    b[n] = node
            bindings.append(b)
        return {"head": {"vars": names}, "results": {"bindings": bindings}}

    def _select_xml(self, sparql: str, dataset: tuple | None = None) -> str:
        """SPARQL 1.1 Query Results XML Format: ``<sparql><head>`` with
        the variable list, one ``<result>`` of ``<binding>`` elements
        per solution; terms as ``<uri>``, ``<bnode>``, or ``<literal>``
        (with ``xml:lang`` / ``datatype``); unbound vars omitted."""
        from xml.sax.saxutils import escape, quoteattr

        names, rows = self._select_rows(sparql, dataset)
        parts = ['<?xml version="1.0"?>',
                 '<sparql xmlns="http://www.w3.org/2005/sparql-results#">',
                 "<head>"]
        parts += [f"<variable name={quoteattr(n)}/>" for n in names]
        parts.append("</head><results>")
        for row in rows:
            parts.append("<result>")
            for n, v in zip(names, row):
                if v is None:
                    continue
                if v["kind"] == KIND_IRI:
                    term = f"<uri>{escape(v['lex'])}</uri>"
                elif v["kind"] == KIND_BNODE:
                    term = f"<bnode>{escape(v['lex'])}</bnode>"
                elif v["lang"]:
                    term = (f"<literal xml:lang={quoteattr(v['lang'])}>"
                            f"{escape(v['lex'])}</literal>")
                elif v["dt"]:
                    term = (f"<literal datatype={quoteattr(v['dt'])}>"
                            f"{escape(v['lex'])}</literal>")
                else:
                    term = f"<literal>{escape(v['lex'])}</literal>"
                parts.append(f"<binding name={quoteattr(n)}>{term}</binding>")
            parts.append("</result>")
        parts.append("</results></sparql>")
        return "".join(parts)

    def _select_csv(self, sparql: str, dataset: tuple | None = None) -> str:
        """SPARQL 1.1 Query Results CSV: header = bare variable names,
        terms in plain lexical form (IRIs bare, bnodes ``_:label``,
        literals bare), unbound = empty field, RFC 4180 quoting."""
        import csv
        import io

        names, rows = self._select_rows(sparql, dataset)
        out = io.StringIO()
        w = csv.writer(out, lineterminator="\r\n")
        w.writerow(names)
        for row in rows:
            w.writerow(["" if v is None else
                        ("_:" + v["lex"] if v["kind"] == KIND_BNODE
                         else v["lex"])
                        for v in row])
        return out.getvalue()

    @staticmethod
    def _tsv_term(v) -> str:
        """One term in SPARQL/Turtle syntax (the TSV results format):
        ``<iri>``, ``_:bnode``, ``"lit"``/``"lit"@lang``/``"lit"^^<dt>``;
        unbound = empty."""
        if v is None:
            return ""
        if v["kind"] == KIND_IRI:
            return f"<{v['lex']}>"
        if v["kind"] == KIND_BNODE:
            return "_:" + v["lex"]
        lex = (v["lex"].replace("\\", "\\\\").replace('"', '\\"')
               .replace("\n", "\\n").replace("\r", "\\r")
               .replace("\t", "\\t"))
        term = f'"{lex}"'
        if v["lang"]:
            return term + "@" + v["lang"]
        if v["dt"]:
            return term + f"^^<{v['dt']}>"
        return term

    def _select_tsv(self, sparql: str, dataset: tuple | None = None) -> str:
        """SPARQL 1.1 Query Results TSV: header = ``?var`` names, terms
        in Turtle syntax, one tab-separated line per solution."""
        names, rows = self._select_rows(sparql, dataset)
        lines = ["\t".join("?" + n for n in names)]
        lines += ["\t".join(self._tsv_term(v) for v in row) for row in rows]
        return "\n".join(lines) + "\n"
