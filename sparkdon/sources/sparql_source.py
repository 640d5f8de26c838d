"""``spark.read.format("sparql")`` — a Python Data Source (Spark 4 API)
over the SPARQL protocol (SURVEY.md §4.2 item 5), and the reader behind
``RemoteEndpoint.to_spark``.  Every request — the driver's schema probe
and each executor page — goes through
:func:`sparkdon.sparql_client.fetch_bindings`, so the source gets its
credentials, dataset params, XML-results fallback and error mapping;
executors therefore need sparkdon installed.

Beyond partitioned paging it offers:

- **Filter pushdown** (``pushFilters``): Catalyst hands the reader the
  query's filters; the supported subset is translated into SPARQL
  ``FILTER`` clauses wrapped around the user query, so the ENDPOINT
  prunes rows before they cross the wire.  Only filters whose SPARQL
  translation matches Spark's string semantics exactly are accepted
  (equality, IN, BOUND-ness, STRSTARTS/CONTAINS/STRENDS — all via
  ``STR(?var)``); everything else is left for Spark to re-apply.
- **Partition planning** (``partitions``): one ``InputPartition`` per
  LIMIT/OFFSET stripe family, fetched executor-side (each task pages
  through its own stripes).
- **LIMIT re-emission** (``option("limit", n)``): the row cap rides
  into every remote request (``LIMIT min(pagesize, remaining)``), the
  fetch collapses to one sequential-paging partition, and at most n
  rows ever cross the wire — the endpoint prunes, not Spark.
- **Aggregate re-emission** (``option("aggregate", "count")``, optional
  ``option("groupby", "var1,var2")``): the query is rewritten to
  ``SELECT ?var1 ?var2 (COUNT(*) AS ?cnt) … GROUP BY ?var1 ?var2`` so
  the ENDPOINT aggregates; Spark receives group-cardinality rows
  instead of the full result.  Pushed FILTERs compose inside the
  aggregate wrap (filter-before-group, matching DataFrame semantics).

The Python Data Source API (Spark 4.1) exposes only ``pushFilters`` —
there is no ``pushLimit``/``pushAggregation`` hook for Catalyst to
drive these automatically, so LIMIT/aggregate re-emission is
option-directed (the caller states intent; the source emits the
SPARQL).  If/when the API grows those hooks, the same rewrite slots in
behind them.

All result columns are strings (lexical forms) — cast downstream.  The
user query must be a plain SELECT; its own solution modifiers keep their
meaning because the query is wrapped as a subselect.

Endpoint settings ride as options named after what they carry: ``user``
and ``password`` (HTTP Basic credentials) and the protocol's
``default-graph-uri`` / ``named-graph-uri`` (whitespace-separated IRIs).

Usage (the reader implements ``pushFilters``, so Spark plans it only
with ``spark.sql.python.filterPushdown.enabled=true``)::

    from sparkdon.sources.sparql_source import SparqlDataSource
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SparqlDataSource)
    df = (spark.read.format("sparql")
          .option("url", "http://host/sparql")
          .option("query", "SELECT ?s ?label WHERE { ... }")
          .option("partitions", "8")
          .load())

Reference parity: gastrodon consumes endpoints driver-side only
(gastrodon/__init__.py:633-775); this source is the beyond-parity scale
path for the same protocol.
"""

from __future__ import annotations

import re

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    StringContains,
    StringEndsWith,
    StringStartsWith,
)
from pyspark.sql.types import StringType, StructField, StructType

from sparkdon.sparql_client import fetch_bindings

_PROLOGUE_RE = re.compile(r"(?im)^\s*(?:PREFIX\s+\S+\s+<[^>]*>|BASE\s+<[^>]*>)\s*")

_AGGREGATES = {"count"}  # extensible: sum/min/max need a value var


def _groupby_vars(spec: str) -> list[str]:
    """Parse the ``groupby`` option: comma/space-separated variable
    names, ``?``-prefix optional."""
    return [v.lstrip("?") for v in re.split(r"[\s,]+", spec) if v.strip()]


def _split_prologue(query: str) -> tuple[str, str]:
    """Separate PREFIX/BASE declarations from the query body (the
    prologue must stay outside the subselect wrapper)."""
    prologue = "".join(m.group(0).strip() + "\n" for m in _PROLOGUE_RE.finditer(query))
    body = _PROLOGUE_RE.sub("", query).strip()
    return prologue, body


def _sparql_str(value) -> str:
    s = str(value)
    s = s.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
    return f'"{s}"'


def _filter_to_sparql(f: Filter) -> str | None:
    """Translate a Catalyst filter to a SPARQL FILTER body, or None when
    unsupported.  Comparisons run on STR(?var) so SPARQL agrees with
    Spark's string-typed column semantics; numeric/range filters are NOT
    pushed (SPARQL would compare typed values, Spark compares lexical
    strings — the semantics differ, so Spark keeps them)."""
    if len(getattr(f, "attribute", ())) != 1:
        return None
    var = f"STR(?{f.attribute[0]})"
    if isinstance(f, EqualTo):
        return f"{var} = {_sparql_str(f.value)}"
    if isinstance(f, In):
        opts = ", ".join(_sparql_str(v) for v in f.values)
        return f"{var} IN ({opts})"
    if isinstance(f, IsNull):
        return f"!BOUND(?{f.attribute[0]})"
    if isinstance(f, IsNotNull):
        return f"BOUND(?{f.attribute[0]})"
    if isinstance(f, StringStartsWith):
        return f"STRSTARTS({var}, {_sparql_str(f.value)})"
    if isinstance(f, StringEndsWith):
        return f"STRENDS({var}, {_sparql_str(f.value)})"
    if isinstance(f, StringContains):
        return f"CONTAINS({var}, {_sparql_str(f.value)})"
    return None


def _fetch(options: dict, query: str) -> dict:
    """One protocol query with the source's endpoint settings."""
    return fetch_bindings(
        options["url"], query,
        default_graph=options.get("default-graph-uri", "").split(),
        named_graphs=options.get("named-graph-uri", "").split(),
        user=options.get("user"), passwd=options.get("password"))


class SparqlDataSource(DataSource):
    """SPARQL-protocol batch source; see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "sparql"

    def schema(self) -> StructType:
        query = self.options["query"]
        # An aggregate rewrite fixes the projection without a probe:
        # groupby vars + the aggregate alias.
        agg = self.options.get("aggregate")
        if agg:
            gvars = _groupby_vars(self.options.get("groupby", ""))
            alias = self.options.get("aggalias", "cnt")
            return StructType(
                [StructField(v, StringType()) for v in gvars]
                + [StructField(alias, StringType())]
            )
        # Probe through the same subselect wrapper the reader uses — a bare
        # " LIMIT 1" suffix would be a syntax error when the user query
        # already ends in its own LIMIT/OFFSET (which the docstring allows).
        prologue, body = _split_prologue(query)
        doc = _fetch(self.options,
                     f"{prologue}SELECT * WHERE {{ {{ {body} }} }} LIMIT 1")
        return StructType(
            [StructField(v, StringType()) for v in doc["head"]["vars"]]
        )

    def reader(self, schema: StructType) -> "SparqlReader":
        return SparqlReader(dict(self.options), schema)


class SparqlReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.query = options["query"]
        self.n_partitions = int(options.get("partitions", "4"))
        self.page_size = int(options.get("pagesize", "10000"))
        self.max_pages = int(options.get("maxpagespertask", "1000"))
        self.fields = [f.name for f in schema.fields]
        # LIMIT/OFFSET stripes are independent HTTP requests; the SPARQL
        # protocol guarantees no stable total order between them, so a
        # deterministic ORDER BY must ride inside the wrapped subselect.
        # Default: all projected vars.  option("orderby", "?s ?p") overrides;
        # option("orderby", "none") opts out AND collapses to a single
        # partition (sequential pages from one task — the only paging mode
        # that is even arguably safe without an order guarantee).
        self.orderby = options.get("orderby", "").strip()
        if self.orderby.lower() == "none":
            self.n_partitions = 1
        # -- limit / aggregate re-emission (option-directed; see module
        # docstring for why Catalyst cannot drive these) --------------
        self.limit = int(options["limit"]) if "limit" in options else None
        self.aggregate = options.get("aggregate")
        if self.aggregate is not None and self.aggregate not in _AGGREGATES:
            raise ValueError(
                f"unsupported aggregate {self.aggregate!r}; "
                f"supported: {sorted(_AGGREGATES)}")
        self.groupby = _groupby_vars(options.get("groupby", ""))
        self.agg_alias = options.get("aggalias", "cnt")
        if self.aggregate or self.limit is not None:
            # results are bounded (group cardinality / n rows): one
            # sequential-paging task, no stripe fan-out
            self.n_partitions = 1
        self.pushed_sparql: list[str] = []

    # -- pushdown ------------------------------------------------------

    def pushFilters(self, filters):  # noqa: N802 (Spark API name)
        for f in filters:
            clause = _filter_to_sparql(f)
            if clause is None:
                yield f  # unsupported — Spark applies it
            else:
                self.pushed_sparql.append(clause)

    def _effective_query(self) -> str:
        prologue, body = _split_prologue(self.query)
        if self.pushed_sparql:
            conds = " && ".join(f"({c})" for c in self.pushed_sparql)
            group = f"{{ {{ {body} }} FILTER({conds}) }}"
            wrapped = f"SELECT * WHERE {group}"
        else:
            group = f"{{ {{ {body} }} }}"
            wrapped = None
        if self.aggregate:
            # re-emit the aggregation: the ENDPOINT groups and counts;
            # only group-cardinality rows cross the wire.  ORDER BY the
            # group keys keeps paging deterministic.
            gv = " ".join(f"?{v}" for v in self.groupby)
            proj = (f"{gv} " if gv else "") + f"(COUNT(*) AS ?{self.agg_alias})"
            q = f"{prologue}SELECT {proj} WHERE {group}"
            if self.groupby:
                q += f" GROUP BY {gv} ORDER BY {gv}"
            return q
        if self.orderby.lower() == "none":
            return f"{prologue}{wrapped or body}"
        keys = self.orderby or " ".join(f"?{f}" for f in self.fields)
        inner = wrapped or f"SELECT * WHERE {{ {{ {body} }} }}"
        return f"{prologue}{inner} ORDER BY {keys}"

    # -- partition planning + executor-side fetch ----------------------

    def partitions(self):
        return [InputPartition(i) for i in range(self.n_partitions)]

    def read(self, partition: InputPartition):
        pid = partition.value
        query = self._effective_query()
        fields = (self.groupby + [self.agg_alias] if self.aggregate
                  else self.fields)
        for page in range(self.max_pages):
            offset = (pid + page * self.n_partitions) * self.page_size
            size = self.page_size
            if self.limit is not None:
                # re-emit the cap: at most `limit` rows are ever
                # requested from (or materialized by) the endpoint
                if offset >= self.limit:
                    return
                size = min(size, self.limit - offset)
            doc = _fetch(self.options,
                         f"{query} LIMIT {size} OFFSET {offset}")
            rows = doc["results"]["bindings"]
            for r in rows:
                yield tuple(
                    r[v]["value"] if v in r else None for v in fields
                )
            if len(rows) < size:
                return
