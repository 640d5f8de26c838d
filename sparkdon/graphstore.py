"""SPARQL 1.1 Graph Store HTTP Protocol server (W3C
sparql11-http-rdf-update).

The reference manages graphs through rdflib plus endpoint updates
(gastrodon/__init__.py:596-623 drives SPARQL UPDATE at a remote store);
the Graph Store Protocol is the REST face of the same capability —
whole-graph GET / PUT / POST / DELETE against ``?default`` or
``?graph=<iri>`` — and the natural surface for bulk graph management
once the engine carries a named quad store.  Server side, wrapping a
:class:`~sparkdon.session.LocalEndpoint`:

- **GET / HEAD** — retrieve the graph as ``application/n-triples``
  (406 when the Accept header excludes it, 404 for an absent named
  graph).
- **PUT** — replace the graph with the request body (§5.3); 201 when
  the named graph is newly created, 204 when replaced.
- **POST** — merge the body into the graph (§5.5); 201/204 likewise.
- **DELETE** — drop the graph (§5.4); the default graph empties (it
  always exists), an absent named graph answers 404.

Payload types: ``text/turtle`` and ``application/n-triples`` (N-Triples
is a syntactic subset of Turtle; one parser covers both).  Graph
identification is *indirect* (§4.1): a request naming neither
``default`` nor ``graph=`` answers 400.

This module only speaks HTTP: it parses requests and payloads and maps
outcomes to status codes.  Each write is one call to
:meth:`~sparkdon.session.LocalEndpoint.write_graph`, which commits
through the endpoint's single write path — the lock and snapshot swap
that SPARQL updates use too — so a PUT and a concurrent SPARQL
``INSERT DATA`` both land, and GETs read a whole snapshot lock-free.
"""

from __future__ import annotations

import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from sparkdon import io as io_mod
from sparkdon.protocol import GRAPH_TYPES, negotiate
from sparkdon.sparql_client import auth_headers

#: payload media types accepted for PUT/POST bodies
_PARSE_TYPES = ("text/turtle", "application/n-triples", "text/plain",
                "application/rdf+xml")


class GraphStoreServer:
    """Publish a LocalEndpoint's dataset at ``http://host:port/graphs``.

    >>> srv = GraphStoreServer(ep).start()                 # doctest: +SKIP
    >>> requests.put(srv.url + "?graph=http://ex.com/g1",
    ...              data=ttl, headers={"Content-Type": "text/turtle"})
    """

    def __init__(self, endpoint, host: str = "127.0.0.1", port: int = 0):
        self.endpoint = endpoint
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def _dispatch(self, method: str):
                try:
                    _, _, qs = self.path.partition("?")
                    params = urllib.parse.parse_qs(qs, keep_blank_values=True)
                    outer._handle(self, method, params)
                except _HttpError as e:
                    outer._plain(self, e.code, e.msg)
                except Exception as e:
                    # a server-side fault is a 500, not a client error —
                    # and must never kill the handler thread
                    outer._plain(self, 500, str(e))

            def do_GET(self):
                self._dispatch("GET")

            def do_HEAD(self):
                self._dispatch("HEAD")

            def do_PUT(self):
                self._dispatch("PUT")

            def do_POST(self):
                self._dispatch("POST")

            def do_DELETE(self):
                self._dispatch("DELETE")

            def log_message(self, *args):  # quiet
                pass

        self.server = ThreadingHTTPServer((host, port), Handler)
        self.server.daemon_threads = True
        self._thread: threading.Thread | None = None

    # -- lifecycle ------------------------------------------------------

    @property
    def url(self) -> str:
        host, port = self.server.server_address[:2]
        return f"http://{host}:{port}/graphs"

    def start(self) -> "GraphStoreServer":
        self._thread = threading.Thread(
            target=self.server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()

    def __enter__(self) -> "GraphStoreServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()

    # -- plumbing --------------------------------------------------------

    @staticmethod
    def _plain(h: BaseHTTPRequestHandler, code: int, text: str = "",
               allow: str | None = None) -> None:
        body = text.encode()
        h.send_response(code)
        if allow:
            h.send_header("Allow", allow)
        h.send_header("Content-Type", "text/plain; charset=utf-8")
        h.send_header("Content-Length", str(len(body)))
        h.end_headers()
        if body and h.command != "HEAD":
            h.wfile.write(body)

    def _parse_body(self, h: BaseHTTPRequestHandler,
                    base: str | None = None):
        """Request body → triple rows (relative IRIs resolve against
        ``base`` — the target graph IRI, per GSP §5.1's direct-graph
        reading), or raise :class:`_HttpError`."""
        ctype = (h.headers.get("Content-Type") or "text/turtle")
        ctype = ctype.split(";", 1)[0].strip().lower()
        if ctype not in _PARSE_TYPES:
            raise _HttpError(415, f"unsupported payload type {ctype!r}; "
                             "use text/turtle, application/n-triples, or "
                             "application/rdf+xml")
        length = int(h.headers.get("Content-Length", 0))
        data = h.rfile.read(length)
        try:
            if ctype == "application/rdf+xml":
                from sparkdon.rdfxml import parse_rdfxml

                return parse_rdfxml(data, base=base)
            return io_mod.parse_turtle(data.decode(), base=base)
        except _HttpError:
            raise
        except Exception as e:
            raise _HttpError(400, f"payload parse error: {e}")

    # -- request handling -------------------------------------------------

    def _handle(self, h: BaseHTTPRequestHandler, method: str,
                params: dict) -> None:
        ep = self.endpoint
        is_default = "default" in params
        graph_iris = params.get("graph", [])
        if is_default == bool(graph_iris):
            self._plain(h, 400, "identify the graph with exactly one of "
                        "?default or ?graph=<iri>")
            return
        iri = None if is_default else graph_iris[0]

        if method in ("GET", "HEAD"):
            out_type = negotiate(h.headers.get("Accept"), GRAPH_TYPES)
            if out_type is None:
                self._plain(h, 406, "graphs are produced as "
                            "application/n-triples, text/turtle, or "
                            "application/rdf+xml")
                return
            df = ep.graph if iri is None else ep.named_graph(iri)
            if iri is not None and df.isEmpty():
                self._plain(h, 404, f"no such graph <{iri}>")
                return
            prefixes = getattr(ep, "prefixes", None) or {}
            if out_type == "text/turtle":
                body = io_mod.ttl_string(df, prefixes).encode()
            elif out_type == "application/rdf+xml":
                from sparkdon.rdfxml import rdfxml_string

                body = rdfxml_string(df, prefixes).encode()
            else:
                body = io_mod.nt_string(df).encode()
            h.send_response(200)
            h.send_header("Content-Type", out_type)
            h.send_header("Content-Length", str(len(body)))
            h.end_headers()
            if method == "GET":
                h.wfile.write(body)
            return

        if method == "DELETE":
            # the default graph always exists; DELETE empties it
            if ep.write_graph(iri, None, replace=True):
                self._plain(h, 204)
            else:
                self._plain(h, 404, f"no such graph <{iri}>")
            return

        if method in ("PUT", "POST"):
            try:
                rows = self._parse_body(h, base=iri or self.url)
            except _HttpError as e:
                self._plain(h, e.code, e.msg)
                return
            existed = ep.write_graph(iri, io_mod.triples_df(ep.spark, rows),
                                     replace=method == "PUT")
            self._plain(h, 204 if existed else 201)
            return

        self._plain(h, 405, f"method {method} not supported",
                    allow="GET, HEAD, PUT, POST, DELETE")


class _HttpError(Exception):
    def __init__(self, code: int, msg: str):
        super().__init__(msg)
        self.code = code
        self.msg = msg


class RemoteGraphStore:
    """Graph Store Protocol *client* — the loop-closing twin of
    :class:`GraphStoreServer`, same pairing as RemoteEndpoint ↔
    SparqlProtocolServer.

    ``get`` returns a triple DataFrame (N-Triples response parsed with
    the Turtle parser — N-Triples is a subset); ``put``/``post`` send a
    bounded driver-side serialization (io.nt_string's limit discipline —
    whole-graph HTTP transfer is inherently driver-bound; move unbounded
    graphs as parquet).  ``graph=None`` addresses the default graph."""

    def __init__(self, url: str, spark=None, user: str | None = None,
                 passwd: str | None = None, timeout: int = 60):
        self.url = url
        self.spark = spark
        self.user = user
        self.passwd = passwd
        self.timeout = timeout

    def _gurl(self, graph) -> str:
        if graph is None:
            return self.url + "?default"
        return self.url + "?" + urllib.parse.urlencode({"graph": str(graph)})

    def _request(self, method: str, graph, body: bytes | None = None):
        import urllib.request

        req = urllib.request.Request(
            self._gurl(graph), data=body, method=method,
            headers={"Accept": "application/n-triples", **(
                {"Content-Type": "application/n-triples"} if body is not None
                else {}), **auth_headers(self.user, self.passwd)})
        return urllib.request.urlopen(req, timeout=self.timeout)

    def get(self, graph=None):
        """GET → triple DataFrame (requires ``spark``)."""
        if self.spark is None:
            raise ValueError("get() requires a SparkSession; pass spark=")
        text = self._request("GET", graph).read().decode()
        return io_mod.triples_df(self.spark, io_mod.parse_turtle(text))

    def exists(self, graph) -> bool:
        """HEAD → does the named graph exist."""
        import urllib.error

        try:
            self._request("HEAD", graph)
            return True
        except urllib.error.HTTPError as e:
            if e.code == 404:
                return False
            raise

    def put(self, triples, graph=None) -> int:
        """PUT (replace); returns the HTTP status (201 created / 204
        replaced).  ``triples``: a triple DataFrame or N-Triples text."""
        return self._send("PUT", triples, graph)

    def post(self, triples, graph=None) -> int:
        """POST (merge); returns the HTTP status."""
        return self._send("POST", triples, graph)

    def _send(self, method: str, triples, graph) -> int:
        body = (triples if isinstance(triples, str)
                else io_mod.nt_string(triples))
        return self._request(method, graph, body.encode()).status

    def delete(self, graph=None) -> None:
        self._request("DELETE", graph)
