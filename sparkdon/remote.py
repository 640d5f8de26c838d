"""Remote SPARQL-protocol source (S3) — reference ``RemoteEndpoint``
(gastrodon/__init__.py:633-775).

The reference wraps SPARQLWrapper; here every request goes through the
one stdlib client, :mod:`sparkdon.sparql_client` (``fetch_bindings`` for
queries, ``post_update`` for updates).  JSON term decoding mirrors
``_jsonToNode`` (gastrodon/__init__.py:651-662).

Two ways to read a query's results:

- ``select()`` — driver-side fetch → pandas (the reference's UX; results
  are interactively sized).
- ``to_spark(sparql, partitions=N)`` — scale path: a
  ``spark.read.format("sparql")`` over this endpoint
  (:mod:`sparkdon.sources.sparql_source`).  Executors page through
  ORDER BY'd LIMIT/OFFSET stripes of the query wrapped as a subselect,
  so the driver never holds the full result.
"""

from __future__ import annotations

import re
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from sparkdon.errors import QueryExecutionError
from sparkdon.session import Endpoint, QName, _normalize_column_type
# fetch_bindings and _parse_xml_results are looked up here by SERVICE
# (compile.py) and by callers that patch or import them from this module
from sparkdon.sparql_client import (  # noqa: F401
    _parse_xml_results, fetch_bindings, post_update)
from sparkdon.terms import (
    KIND_BNODE, KIND_IRI, KIND_LIT, XSD, BNode, to_python)

#: SPARQL-JSON term type → triple-table kind (literals are the rest)
_JSON_KINDS = {"uri": KIND_IRI, "bnode": KIND_BNODE}


class RemoteEndpoint(Endpoint):
    """SPARQL-protocol endpoint client (select/update; construct emulated
    via SELECT ?s ?p ?o reassembly like the reference's _construct,
    gastrodon/__init__.py:766-775)."""

    def __init__(self, url: str, spark: SparkSession | None = None,
                 prefixes: dict[str, str] | None = None, user: str | None = None,
                 passwd: str | None = None, default_graph=None,
                 base_uri: str | None = None, named_graphs=None):
        if spark is None:
            spark = SparkSession.getActiveSession()
        self.url = url
        self.user = user
        self.passwd = passwd
        self.default_graph = default_graph
        #: protocol named-graph-uri list (beyond reference parity — the
        #: server half landed this round; §2.1.4 dataset override)
        self.named_graphs = list(named_graphs) if named_graphs else None
        # Endpoint.__init__ touches spark conf; tolerate spark=None for
        # pure-driver use (pandas only)
        self.spark = spark
        self.prefixes = dict(prefixes or {})
        self.base_uri = base_uri
        if spark is not None:
            spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    # -- driver-side select → pandas -----------------------------------

    def select(self, sparql: str, bindings: dict | None = None) -> pd.DataFrame:
        sparql = self._prepare(sparql, bindings, depth=3)
        doc = self._fetch(self._inject_prefixes(sparql))
        variables = doc["head"]["vars"]
        cols = {v: [self._decode(row.get(v))  # missing key -> None
                    for row in doc["results"]["bindings"]]
                for v in variables}
        pdf = pd.DataFrame(cols, columns=variables)
        for c in pdf.columns:
            pdf[c] = _normalize_column_type(pdf[c])
        return pdf

    def _fetch(self, sparql: str) -> dict:
        """One protocol query with this endpoint's dataset and credentials."""
        return fetch_bindings(self.url, sparql, self.default_graph,
                              self.user, self.passwd,
                              named_graphs=self.named_graphs)

    def _decode(self, node: dict | None) -> Any:
        """SPARQL-JSON term → Python value, IRIs shortened to QNames
        (mirrors _jsonToNode's switch on 'uri' / 'typed-literal' /
        'literal' / 'bnode')."""
        if node is None:
            return None
        t = node.get("type")
        if t == "uri":
            return QName(self.short_name(node["value"]), node["value"])
        if t == "bnode":
            return BNode(node["value"])
        # 'literal' and 'typed-literal'
        return to_python("lit", node["value"], node.get("datatype"),
                         node.get("xml:lang"))

    def _inject_prefixes(self, sparql: str) -> str:
        """Prepend only prefixes that occur in the text and aren't already
        declared (gastrodon _prepend_namespaces, gastrodon/__init__.py:
        325-346)."""
        declared = {
            m.lower() for m in
            re.findall(r"(?im)^\s*prefix\s+([A-Za-z_][\w-]*):", sparql)
        }
        lines = []
        for pfx, ns in sorted(self.prefixes.items()):
            if pfx.lower() in declared:
                continue
            if re.search(rf"(?<![\w:]){re.escape(pfx)}:", sparql):
                lines.append(f"PREFIX {pfx}: <{ns}>")
        if self.base_uri and "base" not in sparql.lower():
            lines.append(f"BASE <{self.base_uri}>")
        return ("\n".join(lines) + "\n" + sparql) if lines else sparql

    # -- scale path: the sparql data source -----------------------------

    def to_spark(self, sparql: str, partitions: int = 8,
                 page_size: int = 10_000, max_pages_per_task: int = 1000) -> DataFrame:
        """Distributed fetch through ``spark.read.format("sparql")``
        (registered with the session on first use): each of
        ``partitions`` tasks pages through its LIMIT/OFFSET stripes of
        ``page_size`` rows, at most ``max_pages_per_task`` pages, until a
        short page signals the end.  All columns come back as strings
        (lexical forms) — cast downstream as needed.  Executors import
        the source and :mod:`sparkdon.sparql_client`, so they need
        sparkdon installed."""
        if self.spark is None:
            raise QueryExecutionError("to_spark requires a SparkSession")
        from sparkdon.sources.sparql_source import SparqlDataSource

        if not (self.spark._jsparkSession.sessionState().dataSourceManager()
                .dataSourceExists(SparqlDataSource.name())):
            self.spark.dataSource.register(SparqlDataSource)
        # the reader implements pushFilters, which Spark refuses to plan
        # unless Python filter pushdown is on
        self.spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
        dg = self.default_graph
        if isinstance(dg, (list, tuple)):
            dg = " ".join(map(str, dg))
        reader = (self.spark.read.format(SparqlDataSource.name())
                  .option("url", self.url)
                  .option("query", self._inject_prefixes(sparql))
                  .option("partitions", partitions)
                  .option("pagesize", page_size)
                  .option("maxpagespertask", max_pages_per_task))
        for key, value in (("user", self.user), ("password", self.passwd),
                           ("default-graph-uri", dg),
                           ("named-graph-uri",
                            " ".join(map(str, self.named_graphs or ())))):
            if value:
                reader = reader.option(key, str(value))
        return reader.load()

    # -- construct / update --------------------------------------------

    def construct(self, sparql: str, bindings: dict | None = None):
        """Remote CONSTRUCT via SELECT reassembly, exactly the reference's
        ``_construct`` (gastrodon/__init__.py:766-775): issue the query
        over the protocol, read the bindings for ?s ?p ?o, and rebuild a
        local graph from them.  Returns a LocalEndpoint over the
        reassembled triples."""
        if self.spark is None:
            raise QueryExecutionError("remote construct requires a SparkSession")
        sparql = self._prepare(sparql, bindings, depth=3)
        sparql = self._inject_prefixes(sparql)
        doc = self._fetch(sparql)
        variables = doc["head"]["vars"]
        missing = [v for v in ("s", "p", "o") if v not in variables]
        if missing:
            raise QueryExecutionError(
                f"remote construct needs ?s ?p ?o bindings; missing {missing}", sparql)

        from sparkdon.io import triples_df
        from sparkdon.session import LocalEndpoint

        # an incomplete solution constructs no triple
        rows = [self._json_triple_row(r["s"], r["p"], r["o"])
                for r in doc["results"]["bindings"]
                if all(r.get(v) is not None for v in ("s", "p", "o"))]
        return LocalEndpoint(self.spark, triples_df(self.spark, rows),
                             prefixes=dict(self.prefixes),
                             base_uri=self.base_uri)

    # -- peel / decollect (reference parity, round 10) ------------------

    @staticmethod
    def _json_triple_row(s: dict, p: dict, o: dict):
        """Three SPARQL-JSON terms → one flat triple-table row."""
        def kind(node: dict) -> str:
            return _JSON_KINDS.get(node.get("type"), KIND_LIT)

        o_kind = kind(o)
        o_dt = o.get("datatype") if o_kind == KIND_LIT else None
        o_lang = o.get("xml:lang") if o_kind == KIND_LIT else None
        if o_kind == KIND_LIT and o_dt == XSD + "string":
            o_dt = None  # simple-literal normalization (matches io._encode)
        return (kind(s), s["value"], p["value"], o_kind, o["value"], o_dt, o_lang)

    def peel(self, node, strategy: str = "path", max_depth: int = 100):
        """Copy the subgraph about ``node`` from the remote store —
        every fact at the node, recursing through blank-node objects —
        and rebind exactly the prefixes the copied graph uses (reference
        ``RemoteEndpoint.peel``/``_peel``, gastrodon/__init__.py:688-743).
        Returns a LocalEndpoint over the copied triples.

        Two traversal strategies, because stores disagree on how (or
        whether) a query can NAME a blank node:

        - ``"path"`` (default, pure SPARQL 1.1): level k fetches the
          triples of bnodes exactly k bnode-hops from the root with one
          chained-pattern query (``<n> ?p0 ?b1 . FILTER(isBlank(?b1)) .
          ?b1 ?p1 ?b2 ...``).  Remote round trips = closure DEPTH, not
          bnode count — strictly fewer requests than the reference's
          per-bnode queue — and it needs no store-specific bnode
          addressing, so it works against any compliant endpoint
          (including :mod:`sparkdon.protocol`'s own server).
        - ``"virtuoso"``: the reference's store-specific walk — one
          query per discovered bnode, referenced through
          :meth:`_bnode_to_sparql`'s ``<nodeID://...>`` IRI quirk
          (gastrodon/__init__.py:736-743 documents why the portable
          alternatives fail or crawl on Virtuoso).
        """
        from sparkdon.io import triples_df
        from sparkdon.session import LocalEndpoint
        from sparkdon.uris import ns_part

        if self.spark is None:
            raise QueryExecutionError("remote peel requires a SparkSession")
        node = self._resolve_node(node)
        rows: set[tuple] = set()

        def fetch(sparql: str) -> list[dict]:
            return self._fetch(sparql)["results"]["bindings"]

        if strategy == "virtuoso":
            root = f"<{node}>" if not isinstance(node, BNode) \
                else self._bnode_to_sparql(node)
            seen_b: set[str] = set()
            queue = [root]
            for _ in range(max_depth * 1000):
                if not queue:
                    break
                ref = queue.pop(0)
                for b in fetch(
                        f"SELECT (?that AS ?s) ?p ?o {{ VALUES ?that {{ {ref} }} "
                        "?that ?p ?o }"):
                    row = self._json_triple_row(b["s"], b["p"], b["o"])
                    rows.add(row)
                    if row[3] == KIND_BNODE and row[4] not in seen_b:
                        seen_b.add(row[4])
                        queue.append(self._bnode_to_sparql(BNode(row[4])))
            if queue:  # budget exhausted mid-walk: never return a
                raise QueryExecutionError(  # silently truncated subgraph
                    f"peel walk exceeded {max_depth * 1000} bnode fetches "
                    f"({len(queue)} still queued); raise max_depth")
        elif strategy == "path":
            if isinstance(node, BNode):
                raise QueryExecutionError(
                    "portable SPARQL cannot name a blank node; peel a "
                    "bnode root with strategy='virtuoso' (store-specific "
                    "bnode addressing)")
            root = f"<{node}>"
            for depth in range(max_depth):
                if depth == 0:
                    q = f"SELECT DISTINCT (?that AS ?s) ?p ?o {{ VALUES ?that {{ {root} }} ?that ?p ?o }}"
                else:
                    hops, prev = [], "?b0"
                    for i in range(1, depth + 1):
                        cur = "?s" if i == depth else f"?b{i}"
                        hops.append(f"{prev} ?q{i} {cur} . FILTER(isBlank({cur}))")
                        prev = cur
                    q = ("SELECT DISTINCT ?s ?p ?o { "
                         f"VALUES ?b0 {{ {root} }} " + " ".join(hops) +
                         " ?s ?p ?o }")
                level = {self._json_triple_row(b["s"], b["p"], b["o"])
                         for b in fetch(q)}
                if not level - rows:  # nothing new: done (cycle-safe)
                    if depth > 0:
                        break
                rows |= level
                if not any(r[3] == KIND_BNODE for r in level):
                    break  # no bnode objects at this level -> no deeper level
        else:
            raise QueryExecutionError(f"unknown peel strategy {strategy!r}")

        # rebind only the namespaces the peeled graph actually uses
        # (reference peel, gastrodon/__init__.py:695-700)
        used_ns = set()
        for r in rows:
            for u in ((r[1],) if r[0] == "iri" else ()) + (r[2],) + (
                    (r[4],) if r[3] == "iri" else ()):
                if u.startswith("http") or u.startswith("urn:"):
                    used_ns.add(ns_part(u))
        pfx = {p: ns for p, ns in self.prefixes.items() if ns in used_ns}
        # sort key maps None dt/lang slots to "" — plain tuple sorting
        # would raise TypeError comparing None against a str when the
        # same lexical form appears both plain and typed/lang-tagged
        ordered = sorted(rows, key=lambda r: tuple(v or "" for v in r))
        return LocalEndpoint(self.spark, triples_df(self.spark, ordered),
                             prefixes=pfx, base_uri=self.base_uri)

    def decollect(self, node):
        """RDF container held in the REMOTE store → Python value, same
        contract as the local ``decollect`` (reference ``decollect`` is
        an Endpoint-level method, gastrodon/__init__.py:403-463: Seq/Alt
        → list ordered by the numeric ``rdf:_N`` index, Bag →
        collections.Counter, Alt falls through to Seq handling).  One
        protocol round trip fetches the node's facts."""
        import collections

        from sparkdon.terms import RDF

        node = self._resolve_node(node)
        ref = self._bnode_to_sparql(node) if isinstance(node, BNode) \
            else f"<{node}>"
        doc = self._fetch(f"SELECT ?p ?o {{ {ref} ?p ?o }}")
        types: set[str] = set()
        members: list[tuple[int, Any]] = []
        for b in doc["results"]["bindings"]:
            p = b["p"]["value"]
            if p == RDF + "type" and b["o"].get("type") == "uri":
                types.add(b["o"]["value"])
            elif p.startswith(RDF + "_"):
                try:
                    idx = int(p[len(RDF) + 1:])
                except ValueError:
                    continue
                members.append((idx, self._decode(b["o"])))
        if RDF + "Bag" in types:
            return collections.Counter(v for _, v in members)
        return [v for _, v in sorted(members, key=lambda t: t[0])]

    def _bnode_to_sparql(self, bnode) -> str:
        """Virtuoso quirk: a blank node substituted into a remote
        query/update round-trips as an IRI of its returned label (e.g.
        ``<nodeID://b10023>``) — writing ``_:label`` would mint a FRESH
        blank node server-side instead of referencing the stored one
        (reference ``RemoteEndpoint._bnode_to_sparql``,
        gastrodon/__init__.py:667-668)."""
        return f"<{str(bnode)}>"

    def update(self, sparql: str, bindings: dict | None = None) -> None:
        sparql = self._prepare(sparql, bindings, depth=3)
        post_update(self.url, self._inject_prefixes(sparql),
                    self.user, self.passwd)
