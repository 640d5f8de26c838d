"""Session / endpoint API — the gastrodon-compatible surface (SURVEY.md §2.9).

``LocalEndpoint`` mirrors the reference's API (gastrodon/__init__.py,
docs/api.rst): ``select`` returns pandas with GROUP-BY index, queries get
automatic prefix handling and ``?_x`` Python-variable substitution, and the
helpers (``one``, ``member``, ``decollect``, ``peel``, ``all_uri``,
``namespaces``, ``inline``, ``ttl``) behave like their reference
counterparts — but execution is a Spark DataFrame plan, not rdflib.
"""

from __future__ import annotations

import collections
import re
import sys
import threading
from functools import lru_cache
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sparkdon import io as io_mod
from sparkdon.algebra import (
    AskQuery, ConstructQuery, DescribeQuery, SelectQuery, TermExpr, Var,
    parse_query, parse_update,
)
from sparkdon.compile import Compiler
from sparkdon.errors import SparkdonError, one_error
from sparkdon.paths import fixpoint_union
from sparkdon.terms import (
    KIND_BNODE, KIND_IRI, RDF, BNode, IRI, local_frame, n3, named_or_empty,
    to_python,
)

#: the ``(f_kind, f)`` node relation a CBD traversal starts from
_NODE_SCHEMA = T.StructType([T.StructField("f_kind", T.StringType()),
                             T.StructField("f", T.StringType())])

#: regex for substitutable variables ``?_x`` / ``$_x``
#: (mirrors gastrodon/__init__.py:42-45)
_SUBST_RE = re.compile(r"[?$]_[A-Za-z_0-9]+")

#: types that cannot be serialized into a query
#: (gastrodon ``_cannot_substitute``, gastrodon/__init__.py:36-40)
_CANNOT_SUBSTITUTE = (type(None), type(len), type(sys), type(type))


class QName(str):
    """Prefix-shortened IRI that still round-trips to the full IRI
    (the reference's ``GastrodonURI``, gastrodon/__init__.py:54-75)."""

    def __new__(cls, short: str, uri: str):
        self = super().__new__(cls, short)
        self._uri = uri
        return self

    def to_uri(self) -> IRI:
        return IRI(self._uri)


@lru_cache(maxsize=256)
def _parse_query_cached(sparql: str, prefix_items: tuple, base: str | None):
    """Parse-result caching (reference Q8: ``@lru_cache`` on parseQuery,
    gastrodon/__init__.py:905-911)."""
    return parse_query(sparql, dict(prefix_items), base)


@lru_cache(maxsize=256)
def _parse_update_cached(sparql: str, prefix_items: tuple, base: str | None):
    return parse_update(sparql, dict(prefix_items), base)


class Endpoint:
    """Base endpoint: prefix environment + query pipeline."""

    def __init__(self, spark: SparkSession, prefixes: dict[str, str] | None = None,
                 base_uri: str | None = None):
        self.spark = spark
        self.prefixes = dict(prefixes or {})
        self.base_uri = base_uri
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")

    # -- namespace management (Q6, Q12) --------------------------------

    def bind(self, prefix: str, namespace: str) -> None:
        self.prefixes[prefix] = namespace

    def namespaces(self) -> pd.DataFrame:
        """Prefix table as a pandas DataFrame, indexed by prefix
        (gastrodon/__init__.py:179-204)."""
        items = sorted(self.prefixes.items())
        return pd.DataFrame(
            {"uri": [ns for _, ns in items]},
            index=pd.Index([p for p, _ in items], name="prefix"),
        )

    def short_name(self, uri: str) -> str:
        """IRI → qname using the longest matching namespace
        (gastrodon/__init__.py:206-260)."""
        best = None
        for pfx, ns in self.prefixes.items():
            if uri.startswith(ns) and (best is None or len(ns) > len(self.prefixes[best])):
                best = pfx
        if best is not None:
            local = uri[len(self.prefixes[best]):]
            if re.fullmatch(r"[A-Za-z_0-9.-]*", local):
                return f"{best}:{local}"
        return uri

    # -- substitution (Q5) ---------------------------------------------

    def _substitute_arguments(self, sparql: str, bindings: dict[str, Any]) -> str:
        """Replace ``?_x`` with the N3 serialization of ``bindings['x']``
        (gastrodon/__init__.py:348-372)."""

        def repl(m: re.Match) -> str:
            name = m.group(0)[2:]
            if name not in bindings:
                raise SparkdonError(f"no Python value for substitution variable ?_{name}")
            value = bindings[name]
            if isinstance(value, QName):
                return f"<{value.to_uri()}>"
            if isinstance(value, str) and value.startswith("<") and value.endswith(">"):
                return value  # already-written N3 IRI form
            if isinstance(value, str) and not isinstance(value, (IRI, BNode)) and ":" in value:
                pfx, _, local = value.partition(":")
                if pfx in self.prefixes and re.fullmatch(r"[A-Za-z_0-9.-]*", local):
                    return f"<{self.prefixes[pfx]}{local}>"
            if isinstance(value, BNode):
                return self._bnode_to_sparql(value)
            return n3(value)

        return _SUBST_RE.sub(repl, sparql)

    def _bnode_to_sparql(self, bnode: BNode) -> str:
        """Serialization a substituted blank node takes in this endpoint's
        queries; endpoint kinds override (reference
        ``Endpoint._bnode_to_sparql``, gastrodon/__init__.py:371-372)."""
        return n3(bnode)

    def _harvest_frame(self, depth: int) -> dict[str, Any]:
        """Caller stack-frame variable harvest
        (gastrodon ``_filter_frame``, gastrodon/__init__.py:625-631)."""
        frame = sys._getframe(depth)
        merged: dict[str, Any] = {}
        merged.update(frame.f_globals)
        merged.update(frame.f_locals)
        return {
            k: v for k, v in merged.items()
            if not isinstance(v, _CANNOT_SUBSTITUTE) and not k.startswith("__")
        }

    def _prepare(self, sparql: str, bindings: dict | None, depth: int = 3):
        if _SUBST_RE.search(sparql):
            env = bindings if bindings is not None else self._harvest_frame(depth)
            sparql = self._substitute_arguments(sparql, env)
        return sparql

    def _resolve_node(self, node):
        if isinstance(node, QName):
            return node.to_uri()
        if isinstance(node, (IRI, BNode)):
            return node
        if isinstance(node, str):
            pfx, _, local = node.partition(":")
            if pfx in self.prefixes:
                return IRI(self.prefixes[pfx] + local)
            return IRI(node)
        raise SparkdonError(f"cannot resolve node {node!r}")

    # -- compilation hooks (overridden by endpoint kinds) --------------

    def _compiler(self, q=None) -> Compiler:
        raise NotImplementedError

    # -- the select pipeline (Q1, Q2, Q7) ------------------------------

    def _query(self, form: type, sparql: str, bindings: dict | None,
               dataset: tuple | None, depth: int = 4):
        """The one query entry: ``?_x`` substitution from ``bindings``
        (else from the caller frame ``depth`` levels up), a cached parse
        under this endpoint's prefixes, the query-form check and the
        protocol-level dataset override."""
        sparql = self._prepare(sparql, bindings, depth=depth)
        q = _parse_query_cached(sparql, tuple(sorted(self.prefixes.items())), self.base_uri)
        if not isinstance(q, form):
            raise SparkdonError(_FORM_ERRORS[form])
        return q if dataset is None else _with_dataset(q, dataset)

    def select_raw(self, sparql: str, bindings: dict | None = None,
                   _depth: int = 3, dataset: tuple | None = None) -> DataFrame:
        """Compile and return the raw Spark bindings DataFrame (one
        term-struct column ``v_<name>`` per variable) — the Spark-native
        analogue of ``select_raw`` (gastrodon/__init__.py:513-523).

        ``dataset`` is a protocol-level RDF-dataset override,
        ``(default_graph_iris, named_graph_iris)``: per SPARQL 1.1
        Protocol §2.1.4 it takes precedence over the query's own
        FROM/FROM NAMED clauses (used by the protocol server for
        ``default-graph-uri``/``named-graph-uri`` request params)."""
        q = self._query(SelectQuery, sparql, bindings, dataset, depth=_depth + 1)
        return self._compiler(q).compile_select(q).df

    def explain(self, sparql: str, bindings: dict | None = None,
                mode: str = "formatted") -> str:
        """The Spark physical plan for a SELECT query, without executing
        it — the ops tool for answering "did my FILTER reach the parquet
        scan (PushedFilters), did the small side broadcast, where are
        the Exchanges" about a SPARQL query.  ``mode`` is any Spark
        explain mode (``simple`` | ``extended`` | ``codegen`` | ``cost``
        | ``formatted``).  Beyond reference parity (gastrodon delegates
        execution to rdflib, which exposes no plan)."""
        df = self.select_raw(sparql, bindings, _depth=4)
        sc = df.sparkSession.sparkContext
        return sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), mode)

    def select(self, sparql: str, bindings: dict | None = None,
               dataset: tuple | None = None) -> pd.DataFrame:
        """SELECT → pandas DataFrame with GROUP-BY index
        (gastrodon/__init__.py:487-511).  ``dataset`` as in
        :meth:`select_raw`."""
        q = self._query(SelectQuery, sparql, bindings, dataset)
        sdf = self._compiler(q).compile_select(q)
        pdf_raw = sdf.df.toPandas()
        out: dict[str, pd.Series] = {}
        for name in sdf.variables:
            out[name] = self._decode_column(pdf_raw["v_" + name])
        pdf = pd.DataFrame(out, columns=list(sdf.variables))
        for c in pdf.columns:
            pdf[c] = _normalize_column_type(pdf[c])
        group_vars = _plain_group_vars(q)
        if group_vars and all(g in pdf.columns for g in group_vars):
            pdf = pdf.set_index(group_vars if len(group_vars) > 1 else group_vars[0])
        return pdf

    def _decode_column(self, col: pd.Series) -> pd.Series:
        """Vectorized term-struct decode: batch dispatch per term class
        (pandas boolean masks) instead of a per-cell unpack+dispatch loop,
        and IRIs are shortened ONCE per distinct URI instead of scanning
        the prefix table per row.  Rare classes go through
        ``to_python``."""
        from sparkdon.terms import (
            KIND_BNODE as _BN, KIND_IRI as _IR, KIND_LIT as _LI,
            NUMERIC_DATATYPES, XSD,
        )

        out = pd.Series([None] * len(col), index=col.index, dtype=object)
        mask = col.notna()
        if not mask.any():
            return out
        cells = col[mask].tolist()
        idx = col.index[mask]
        sub = pd.DataFrame(
            [(v["kind"], v["lex"], v["dt"], v["lang"]) for v in cells],
            index=idx, columns=["kind", "lex", "dt", "lang"],
        )
        kind, lex, dt, lang = sub["kind"], sub["lex"], sub["dt"], sub["lang"]

        m = kind == _IR
        if m.any():
            qn = {u: QName(self.short_name(u), u) for u in lex[m].unique()}
            out.loc[sub.index[m]] = lex[m].map(qn)
        m = kind == _BN
        if m.any():
            out.loc[sub.index[m]] = lex[m].map(BNode)

        lit = kind == _LI
        has_lang = lang.notna() & (lang != "")
        is_str = lit & (has_lang | dt.isna() | (dt == XSD + "string"))
        if is_str.any():
            out.loc[sub.index[is_str]] = lex[is_str]

        rest = lit & ~is_str
        if rest.any():
            int_dts = {
                d for d in NUMERIC_DATATYPES
                if d not in (XSD + "double", XSD + "float", XSD + "decimal")
            } | {XSD + "integer"}
            m = rest & dt.isin(int_dts)
            if m.any():
                out.loc[sub.index[m]] = lex[m].map(_int_or_keep)
                rest &= ~m
            m = rest & dt.isin((XSD + "double", XSD + "float"))
            if m.any():
                out.loc[sub.index[m]] = lex[m].map(_float_or_keep)
                rest &= ~m
            if rest.any():  # decimal / boolean / dates / unknown dts
                out.loc[sub.index[rest]] = [
                    to_python("lit", le, d, None)
                    for le, d in zip(lex[rest], dt[rest])
                ]
        return out

    # -- CONSTRUCT (Q3) / ASK ------------------------------------------

    def construct(self, sparql: str, bindings: dict | None = None,
                  dataset: tuple | None = None) -> "LocalEndpoint":
        """CONSTRUCT → a new LocalEndpoint over the constructed graph
        (gastrodon/__init__.py:525-534 returns a Graph; our graph type IS
        the triple DataFrame).  ``dataset`` as in :meth:`select_raw`."""
        q = self._query(ConstructQuery, sparql, bindings, dataset)
        out = self._compiler(q).compile_construct(q)
        return LocalEndpoint(self.spark, out, prefixes=self.prefixes, base_uri=self.base_uri)

    def ask(self, sparql: str, bindings: dict | None = None,
            dataset: tuple | None = None) -> bool:
        q = self._query(AskQuery, sparql, bindings, dataset)
        return self._compiler(q).compile_ask(q)


#: query form -> the error raised when an entry point gets another form
_FORM_ERRORS = {
    SelectQuery: "select() requires a SELECT query",
    ConstructQuery: "construct() requires a CONSTRUCT query",
    AskQuery: "ask() requires an ASK query",
    DescribeQuery: "describe() requires a DESCRIBE query",
}


def _with_dataset(q, dataset: tuple):
    """Rebind a parsed query's RDF dataset (SPARQL 1.1 Protocol §2.1.4:
    ``default-graph-uri``/``named-graph-uri`` request parameters take
    precedence over the query's own FROM/FROM NAMED clauses).  The
    parsed object may come from the parse cache shared across calls, so
    rebind on a shallow copy instead of mutating in place."""
    import copy

    q2 = copy.copy(q)
    q2.dataset = (tuple(dataset[0]), tuple(dataset[1]))
    return q2


def _int_or_keep(lex: str):
    try:
        return int(lex)
    except ValueError:
        return lex


def _float_or_keep(lex: str):
    try:
        return float(lex)
    except ValueError:
        return lex


def _seminaive_body_atoms(where, template) -> list:
    """The rule body's triple patterns when an INSERT-WHERE rule is
    eligible for semi-naive delta evaluation (r17, VERDICT r16 #4),
    else ``[]``.

    Eligible means the per-atom delta decomposition is sound:

    - the WHERE is a flat conjunction of plain TriplePatterns (no
      property paths — their scans don't route through the per-pattern
      override) plus Filters, and every filter is EXISTS-free — plain
      filters only restrict a conjunctive match row-by-row, so the body
      stays MONOTONIC (produce(A) ⊆ produce(B) for A ⊆ B), which is
      exactly what the semi-naive invariant needs.  OPTIONAL / MINUS /
      UNION / VALUES / BIND / sub-SELECT / GRAPH / SERVICE bodies fall
      back to full re-derivation (some are non-monotonic, the rest
      don't distribute per-atom without per-construct analysis).
    - the template has no blank nodes (fresh-bnode-per-solution labels
      would differ between the per-atom arms and the full derivation).
    """
    from sparkdon.algebra import (ExistsExpr, Filter, FuncExpr, InExpr,
                                  OpExpr, Path, TriplePattern)

    def exists_free(e) -> bool:
        if isinstance(e, ExistsExpr):
            return False
        if isinstance(e, OpExpr):
            return all(exists_free(a) for a in e.args)
        if isinstance(e, FuncExpr):
            return all(exists_free(a) for a in e.args)
        if isinstance(e, InExpr):
            return (exists_free(e.value)
                    and all(exists_free(o) for o in e.options))
        return True

    if any(isinstance(t, BNode)
           for tp in template for t in (tp.s, tp.p, tp.o)):
        return []
    pats = []
    for el in where.elements:
        if isinstance(el, TriplePattern):
            if isinstance(el.p, Path):
                return []
            pats.append(el)
        elif isinstance(el, Filter):
            if not exists_free(el.expr):
                return []
        else:
            return []
    return pats


def _plain_group_vars(q: SelectQuery) -> list[str]:
    """GROUP BY vars usable as a pandas index — plain variables only
    (gastrodon ``_extract_group_by``, gastrodon/__init__.py:913-921)."""
    out = []
    for g in q.group_by:
        if isinstance(g, TermExpr) and isinstance(g.term, Var):
            out.append(g.term.name)
        else:
            return []
    return out


def _normalize_column_type(col: pd.Series) -> pd.Series:
    """Column type promotion: all-int → int, else all-float → float, else
    leave as-is (gastrodon ``_normalize_column_type``,
    gastrodon/__init__.py:374-387; NULLs preserved).

    Unlike the reference (which sees only lexical strings), values here
    may already be typed — so the int promotion must not TRUNCATE floats
    (``int(7.5)``) and booleans are left alone."""
    values = list(col)
    non_null = [v for v in values if v is not None]
    if not non_null or not all(isinstance(v, (str, int, float)) for v in non_null) \
            or any(isinstance(v, bool) for v in non_null):
        return col

    def promote(cast):
        out = []
        for v in values:
            if v is None:
                out.append(None)
            elif isinstance(v, float):
                if cast is int and not v.is_integer():
                    raise ValueError(v)
                out.append(cast(v))
            else:
                out.append(cast(v))
        return out

    for cast in (int, float):
        try:
            return pd.Series(promote(cast), index=col.index)
        except (ValueError, TypeError):
            continue
    return col


class LocalEndpoint(Endpoint):
    """Endpoint over an in-session triple DataFrame
    (reference ``LocalEndpoint``, gastrodon/__init__.py:778-805).

    One write path: every mutation — each SPARQL Update form,
    :meth:`update_to_fixpoint` and the Graph Store Protocol's
    :meth:`write_graph` — runs under the endpoint's one re-entrant lock
    and ends in :meth:`_commit`, which swaps ``graph`` or ``named`` to a
    new immutable snapshot.  Reads take no lock: a query runs on the
    snapshots it read, old or new, never a half-applied write."""

    def __init__(self, spark: SparkSession, graph: DataFrame,
                 prefixes: dict[str, str] | None = None, base_uri: str | None = None,
                 use_ids: bool = False, named: DataFrame | None = None,
                 union_default: bool = False):
        super().__init__(spark, prefixes, base_uri)
        self.graph = graph
        #: opt-in: carry join-only variables as 64-bit term ids through
        #: shuffles (compile.py ``use_ids`` — SURVEY.md §4.3 dictionary v2)
        self.use_ids = use_ids
        #: named-graph store (terms.QUAD_SCHEMA: triple columns + ``g``);
        #: None = no named graphs, GRAPH matches nothing
        self.named = named
        #: rdflib-ConjunctiveGraph compatibility: queries without a
        #: dataset clause see default ∪ named (deduped) as the default
        #: graph, the way the reference's ConjunctiveGraph answers
        #: non-GRAPH patterns from all contexts
        self.union_default = union_default
        #: (graph, named, view): the union default graph materialized
        #: for one snapshot pair, reused while both snapshots stand
        self._union_view = None
        #: held by every writer from its first read of the snapshots to
        #: its last commit, so concurrent writes apply one after another
        self._lock = threading.RLock()

    def _compiler(self, q=None) -> Compiler:
        triples, named = self.graph, self.named
        ds = getattr(q, "dataset", None)
        if ds is None:
            if named is not None and self.union_default:
                triples = self._union_default_graph(triples, named)
        else:
            # SPARQL 1.1 §13.2: any FROM/FROM NAMED replaces the store
            # dataset — default := merge of the FROM graphs (empty when
            # only FROM NAMED appears), named := the FROM NAMED set.
            # Graph names resolve against the named store; identical
            # triples across merged graphs collapse (set semantics).
            dflt, nmd = ds
            src = named_or_empty(self.spark, named)
            if dflt:
                triples = (src.filter(F.col("g").isin([str(i) for i in dflt]))
                           .drop("g").dropDuplicates())
            else:
                triples = triples.limit(0)
            named = (src.filter(F.col("g").isin([str(i) for i in nmd]))
                     if nmd else src.limit(0))
        return Compiler(self.spark, triples, use_ids=self.use_ids, named=named)

    def _union_default_graph(self, graph: DataFrame, named: DataFrame) -> DataFrame:
        """``graph ∪ named`` (deduped), checkpointed once per snapshot
        pair instead of re-shuffled by every query.  Lock-free: a reader
        that raced a commit holds a pair the cache does not, and builds
        the view for its own pair."""
        cached = self._union_view
        if cached is not None and cached[0] is graph and cached[1] is named:
            return cached[2]
        view = (graph.unionByName(named.drop("g")).dropDuplicates()
                .localCheckpoint(eager=True))
        self._union_view = (graph, named, view)
        return view

    # -- graph access ----------------------------------------------------

    def named_graph(self, iri: str) -> DataFrame:
        """The triples of named graph ``iri`` in the current snapshot
        (empty when absent)."""
        return (named_or_empty(self.spark, self.named)
                .filter(F.col("g") == iri).drop("g"))

    def has_graph(self, iri: str) -> bool:
        """Whether named graph ``iri`` holds a triple (empty named
        graphs are not recorded)."""
        return self.named is not None and not self.named_graph(iri).isEmpty()

    # -- the write path (Q4 / S6) ----------------------------------------

    def _commit(self, named: bool = False, keep=True, delete=None,
                insert=None) -> None:
        """The one write: build the complete new default graph — with
        ``named``, the complete new named store — checkpoint it as an
        immutable snapshot and assign it once, under the write lock.

        ``keep`` picks the current rows the new frame starts from: all
        (True) or those matching a Column predicate; ``delete`` rows
        then go and ``insert`` rows come in with set semantics.  Frames
        use the target's schema (QUAD_SCHEMA for the named store).
        ``keep=False`` replaces the frame: ``insert``, already a set,
        becomes it as is; with nothing to insert the default graph
        empties and the named store is dropped (None)."""
        with self._lock:
            if keep is False:
                new = insert
                if new is None and not named:
                    new = self.graph.limit(0)
            else:
                new = named_or_empty(self.spark, self.named) if named else self.graph
                if keep is not True:
                    new = new.filter(keep)
                if delete is not None:
                    new = new.subtract(delete)
                if insert is not None:
                    new = new.unionByName(insert).dropDuplicates()
            if new is not None:
                new = new.localCheckpoint(eager=True)
            if named:
                self.named = new
            else:
                self.graph = new

    def _commit_graph(self, iri: str | None, delete=None, insert=None,
                      replace: bool = False) -> None:
        """:meth:`_commit` for one graph — the default graph (``iri``
        None) or named graph ``iri`` — from triple frames; ``replace``
        empties that graph first."""
        if iri is None:
            self._commit(keep=not replace, delete=delete, insert=insert)
            return
        g = F.lit(iri)
        self._commit(named=True, keep=(F.col("g") != iri) if replace else True,
                     delete=None if delete is None else delete.withColumn("g", g),
                     insert=None if insert is None else insert.withColumn("g", g))

    def write_graph(self, iri: str | None, triples: DataFrame | None,
                    replace: bool) -> bool:
        """Whole-graph write (Graph Store Protocol): replace (PUT) or
        merge (POST, ``replace=False``) the default graph (``iri`` None)
        or named graph ``iri`` with ``triples``; ``triples=None`` with
        ``replace`` drops it (DELETE).  Returns whether the graph existed
        before — the default graph always does.  The check and the
        commit share one hold of the write lock; dropping an absent
        graph commits nothing."""
        with self._lock:
            existed = iri is None or self.has_graph(iri)
            if existed or triples is not None:
                self._commit_graph(iri, insert=triples, replace=replace)
            return existed

    def update(self, sparql: str, bindings: dict | None = None) -> None:
        """One or more ``;``-separated update operations applied in
        sequence, each seeing its predecessors' effects and committing
        its own snapshot.  The request holds the write lock throughout,
        so concurrent writers — in-process callers, the SPARQL protocol
        server and the Graph Store Protocol — apply one after another
        and none loses another's triples (gastrodon mutates rdflib in
        place, gastrodon/__init__.py:596-623, 803-805)."""
        sparql = self._prepare(sparql, bindings)
        ops = _parse_update_cached(sparql, tuple(sorted(self.prefixes.items())), self.base_uri)
        with self._lock:
            for u in ops:
                self._apply_update(u)

    def _apply_update(self, u) -> None:
        from types import SimpleNamespace

        if u.clear:
            # SPARQL 1.1 Update §3.2.3: DEFAULT empties the default
            # graph, NAMED drops every named graph, ALL both, GRAPH <g>
            # one named graph (failure when absent, unless SILENT)
            if u.clear in ("DEFAULT", "ALL"):
                self._commit_graph(None, replace=True)
            if u.clear in ("NAMED", "ALL"):
                self._commit(named=True, keep=False)
            elif u.clear == "GRAPH":
                target = str(u.clear_graph)
                if self.has_graph(target):
                    self._commit_graph(target, replace=True)
                elif not u.silent:
                    raise SparkdonError(
                        f"CLEAR GRAPH <{target}>: no such named graph "
                        "(add SILENT to make this a no-op)")
            return
        if getattr(u, "manage", None):
            self._apply_graph_management(u)
            return
        if u.insert_quads or u.delete_quads:
            self._apply_quad_data(u.insert_quads, u.delete_quads)
        if (u.where is None and not u.insert_template
                and not u.delete_template):
            return  # pure no-op request (CREATE, quad-data-only, …)
        with_graph = str(u.with_graph) if getattr(u, "with_graph", None) else None
        if u.where is None:
            ins_df = (io_mod.triples_df(self.spark, [
                io_mod._encode_triple(t.s, t.p, t.o)
                for t in u.insert_template]) if u.insert_template else None)
            del_df = (io_mod.triples_df(self.spark, [
                io_mod._encode_triple(t.s, t.p, t.o)
                for t in u.delete_template]) if u.delete_template else None)
        else:
            # §3.1.3/§3.1.5.2: the WHERE clause's dataset — USING/USING
            # NAMED win with FROM-style replace semantics; a bare WITH
            # only swaps the DEFAULT graph for matching (GRAPH patterns
            # still see the full named store — WITH supplies a graph for
            # the parts that don't name one, it does not erase the
            # dataset like USING does)
            if getattr(u, "using", None) is not None:
                compiler = self._compiler(SimpleNamespace(dataset=u.using))
            elif with_graph:
                compiler = Compiler(self.spark, self.named_graph(with_graph),
                                    use_ids=self.use_ids, named=self.named)
            else:
                compiler = self._compiler()
            del_df = (compiler.compile_construct(
                ConstructQuery(template=u.delete_template, where=u.where))
                if u.delete_template else None)
            ins_df = (compiler.compile_construct(
                ConstructQuery(template=u.insert_template, where=u.where))
                if u.insert_template else None)
        # WITH <g>: templates modify the named graph, not the default
        self._commit_graph(with_graph, delete=del_df, insert=ins_df)

    def _apply_graph_management(self, u) -> None:
        """ADD / COPY / MOVE (SPARQL 1.1 Update §3.2.5-3.2.7): dataset
        ops over the quad store; ``DEFAULT`` is the triple frame.  Same
        source and destination is the spec's no-op; an absent named
        source fails unless SILENT (we don't record empty graphs)."""
        if u.manage == "LOAD":
            return self._apply_load(u)
        src_iri = str(u.mg_src) if u.mg_src else None
        dst_iri = str(u.mg_dst) if u.mg_dst else None
        if src_iri == dst_iri:
            return
        if src_iri is None:
            src_df = self.graph
        elif self.has_graph(src_iri):
            src_df = self.named_graph(src_iri)
        elif u.silent:
            return
        else:
            raise SparkdonError(
                f"{u.manage} <{src_iri}>: no such named graph "
                "(add SILENT to make this a no-op)")
        self._commit_graph(dst_iri, insert=src_df,
                           replace=u.manage in ("COPY", "MOVE"))
        if u.manage == "MOVE":
            self._commit_graph(src_iri, replace=True)

    def _apply_load(self, u) -> None:
        """``LOAD [SILENT] <doc> [INTO GRAPH <g>]`` (§3.1.4): fetch one
        RDF document over http(s)/file and merge it into the target
        graph.  Format from the response Content-Type, falling back to
        the IRI's extension — Turtle / N-Triples (one parser; N-Triples
        is a Turtle subset) or RDF/XML.  Driver-side fetch by design:
        LOAD is the spec's single-document convenience; bulk ingestion
        goes through the file-parallel read_ntriples/read_rdfxml scans."""
        import urllib.request

        doc = str(u.mg_src)
        try:
            if doc.startswith("file://"):
                from urllib.parse import urlparse

                p = urllib.request.url2pathname(urlparse(doc).path)
                with open(p, "rb") as f:
                    data = f.read()
                ctype = None
            elif doc.startswith(("http://", "https://")):
                with urllib.request.urlopen(doc, timeout=60) as resp:
                    data = resp.read()
                    ctype = (resp.headers.get("Content-Type") or "") \
                        .split(";", 1)[0].strip().lower() or None
            else:
                raise SparkdonError(
                    f"unsupported LOAD scheme in <{doc}>; use http(s) or file")
            is_xml = (ctype in ("application/rdf+xml", "application/xml",
                                "text/xml")
                      or (ctype is None and doc.rsplit("?", 1)[0]
                          .lower().endswith((".rdf", ".owl", ".xml"))))
            # §3.1.4: relative IRIs in the document resolve against
            # the document IRI
            if is_xml:
                from sparkdon.rdfxml import parse_rdfxml

                rows = parse_rdfxml(data, base=doc)
            else:
                rows = io_mod.parse_turtle(data.decode(), base=doc)
        except Exception as e:
            if u.silent:
                return
            raise SparkdonError(f"LOAD <{doc}> failed: {e}") from e
        dst = str(u.mg_dst) if u.mg_dst is not None else None
        self._commit_graph(dst, insert=io_mod.triples_df(self.spark, rows))

    def _apply_quad_data(self, insert_quads, delete_quads) -> None:
        """Ground ``GRAPH <g> { … }`` blocks from INSERT DATA / DELETE
        DATA applied to the named store (SPARQL 1.1 Update §3.1): one
        commit whatever number of graphs the blocks name."""

        def quads(pairs):
            return io_mod.quads_df(
                self.spark, [io_mod._encode_triple(t.s, t.p, t.o) + (str(g),)
                             for g, t in pairs]) if pairs else None

        self._commit(named=True, delete=quads(delete_quads),
                     insert=quads(insert_quads))

    def update_to_fixpoint(self, sparql: str, bindings: dict | None = None) -> None:
        """Apply an INSERT-WHERE rule until no new triples appear —
        forward-chaining closure (G7, Inference_Over_RDF_Containers
        #cell17,26,33 applies rules repeatedly)."""
        sparql = self._prepare(sparql, bindings)
        ops = _parse_update_cached(sparql, tuple(sorted(self.prefixes.items())), self.base_uri)
        if len(ops) != 1:
            raise SparkdonError("update_to_fixpoint needs exactly one rule")
        u = ops[0]
        if not u.insert_template or u.where is None or u.delete_template:
            raise SparkdonError("update_to_fixpoint needs an INSERT ... WHERE rule")

        def produce(current: DataFrame) -> DataFrame:
            return Compiler(self.spark, current).compile_construct(
                ConstructQuery(template=u.insert_template, where=u.where))

        # r17 semi-naive rewrite (VERDICT r16 #4): for a MONOTONIC
        # conjunctive rule body, rounds after the first evaluate the
        # body once per atom with THAT atom's scan redirected to the
        # last round's delta (every other atom sees the full store) —
        # each round's join work is delta-sized on one side instead of
        # re-consuming the whole store per atom.  Non-eligible rules
        # (OPTIONAL/MINUS/UNION/EXISTS/paths/bnode templates — the
        # non-monotonic or non-per-atom-distributable constructs) keep
        # the full re-derivation.
        pats = _seminaive_body_atoms(u.where, u.insert_template)

        produce_delta = None
        if pats:
            def produce_delta(delta: DataFrame, current: DataFrame
                              ) -> DataFrame:
                out = None
                for tp in pats:
                    c = Compiler(self.spark, current)
                    c._pattern_frames = {id(tp): delta}
                    part = c.compile_construct(ConstructQuery(
                        template=u.insert_template, where=u.where))
                    out = part if out is None else out.unionByName(part)
                return out

        with self._lock:
            self._commit(keep=False, insert=fixpoint_union(
                self.graph, produce, produce_delta=produce_delta))

    # -- helpers -------------------------------------------------------

    def count(self) -> int:
        return self.graph.count()

    def all_uri(self) -> set[str]:
        """Set of every IRI in the graph (gastrodon/__init__.py:821-834).
        Distributed distinct, bounded collect."""
        subs = self.graph.filter(F.col("s_kind") == KIND_IRI).select(F.col("s").alias("u"))
        preds = self.graph.select(F.col("p").alias("u"))
        objs = self.graph.filter(F.col("o_kind") == KIND_IRI).select(F.col("o").alias("u"))
        rows = subs.unionByName(preds).unionByName(objs).distinct().collect()
        return {r["u"] for r in rows}

    def peel(self, node) -> "LocalEndpoint":
        """Copy all facts about ``node``, recursing through blank nodes —
        bnode-closure BFS (reference ``peel``/``_peel``,
        gastrodon/__init__.py:688-743).  Each BFS level is one distributed
        join; frontier is checkpointed (G5)."""
        node = self._resolve_node(node)
        kind = KIND_BNODE if isinstance(node, BNode) else KIND_IRI
        nodes = local_frame(self.spark, [(kind, str(node))], _NODE_SCHEMA)
        return LocalEndpoint(self.spark, self._cbd(nodes),
                             prefixes=self.prefixes, base_uri=self.base_uri)

    def _cbd(self, nodes: DataFrame, graph: DataFrame | None = None) -> DataFrame:
        """Concise Bounded Description of a node *relation* ``(f_kind,
        f)``: all triples whose subject is in the set, recursing through
        blank-node objects.  Each BFS level is one distributed join over
        the whole node set (not per-node loops), so a DESCRIBE of a
        million resources is the same number of Spark jobs as one.
        ``graph`` overrides the traversed triple frame (a dataset-scoped
        DESCRIBE passes its FROM-merged default graph)."""
        g = self.graph if graph is None else graph
        frontier = nodes.localCheckpoint(eager=True)
        seen = frontier
        parts = []
        for _ in range(1000):
            hit = g.join(
                frontier,
                (g["s_kind"] == frontier["f_kind"]) & (g["s"] == frontier["f"]),
            ).select("s_kind", "s", "p", "o_kind", "o", "o_dt", "o_lang")
            hit = hit.localCheckpoint(eager=True)
            parts.append(hit)
            nxt = (
                hit.filter(F.col("o_kind") == KIND_BNODE)
                .select(F.col("o_kind").alias("f_kind"), F.col("o").alias("f"))
                .distinct()
                .subtract(seen)
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            seen = seen.unionByName(nxt)
            frontier = nxt
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.dropDuplicates()

    def describe(self, sparql: str, bindings: dict | None = None,
                 dataset: tuple | None = None) -> "LocalEndpoint":
        """DESCRIBE → a new LocalEndpoint over the description graph.

        The description form is the Concise Bounded Description (the
        de-facto standard the spec leaves open, and what Virtuoso — the
        reference's usual remote store — serves by default): all triples
        whose subject is a described resource, plus the full closure
        through blank-node objects (same traversal as :meth:`peel`, but
        over a node *set* evaluated as one distributed BFS).

        ``DESCRIBE <iri>...`` describes constants; ``DESCRIBE ?v ...
        WHERE {...}`` describes every IRI/bnode the WHERE clause binds to
        the listed variables; ``DESCRIBE *`` takes every variable."""
        q = self._query(DescribeQuery, sparql, bindings, dataset)
        # dataset-aware compiler: FROM/FROM NAMED (or the protocol
        # override) scope both the WHERE resolution AND the CBD
        # traversal to the dataset's default graph
        comp = self._compiler(q)
        consts = [] if q.resources == "*" else [
            r for r in q.resources if not isinstance(r, Var)]
        frames = []
        if consts:
            frames.append(local_frame(
                self.spark, [(KIND_IRI, str(c)) for c in consts], _NODE_SCHEMA))
        if q.where is not None:
            b = comp.compile_group(q.where)
            if q.resources == "*":
                names = list(b.variables)
            else:
                names = [r.name for r in q.resources
                         if isinstance(r, Var) and r.name in b.variables]
            for n in names:
                c = b.col(n)
                frames.append(
                    b.df.select(c["kind"].alias("f_kind"), c["lex"].alias("f"))
                    .where(F.col("f_kind").isin(KIND_IRI, KIND_BNODE))
                    .distinct())
        if not frames:
            raise SparkdonError("DESCRIBE resolved no describable resources")
        nodes = frames[0]
        for fdf in frames[1:]:
            nodes = nodes.unionByName(fdf)
        return LocalEndpoint(self.spark, self._cbd(nodes.distinct(),
                                                   graph=comp.triples),
                             prefixes=self.prefixes, base_uri=self.base_uri)

    def decollect(self, node):
        """RDF container → Python value: Seq/Alt → list (ordered by the
        numeric ``rdf:_N`` index — the lexical-order trap of
        RDFContainers#cell50-52), Bag → collections.Counter
        (gastrodon ``decollect``, gastrodon/__init__.py:403-463; the
        reference's Alt→Seq fallthrough at 418-420 is reproduced)."""
        node = self._resolve_node(node)
        kind = KIND_BNODE if isinstance(node, BNode) else KIND_IRI
        facts = self.graph.filter(
            (F.col("s_kind") == kind) & (F.col("s") == str(node)))
        types = {
            r["o"]
            for r in facts.filter(
                (F.col("p") == RDF + "type") & (F.col("o_kind") == KIND_IRI)).collect()
        }
        members = facts.filter(F.col("p").startswith(RDF + "_")).select(
            F.substring(F.col("p"), len(RDF) + 2, 18).cast("long").alias("idx"),
            "o_kind", "o", "o_dt", "o_lang",
        )
        if RDF + "Bag" in types:
            rows = (
                members.groupBy("o_kind", "o", "o_dt", "o_lang")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            )
            return collections.Counter(
                {self._decode_flat(r): r["n"] for r in rows})
        rows = members.orderBy("idx").collect()
        return [self._decode_flat(r) for r in rows]

    def _decode_flat(self, r):
        value = to_python(r["o_kind"], r["o"], r["o_dt"], r["o_lang"])
        if isinstance(value, IRI):
            return QName(self.short_name(str(value)), str(value))
        return value

    def ttl(self) -> str:
        return io_mod.ttl_string(self.graph, self.prefixes)

    def canonical(self) -> "LocalEndpoint":
        """A new endpoint over the same graph with blank-node labels
        rewritten to their canonical structural form (see
        :func:`canonicalize_bnodes`) — two isomorphic graphs compare
        equal triple-set-wise after this, regardless of how either was
        parsed.  Useful for diffing, deduplicating, or hashing graphs
        that contain bnodes."""
        return LocalEndpoint(self.spark, canonicalize_bnodes(self.graph),
                             prefixes=self.prefixes, base_uri=self.base_uri)


# ---------------------------------------------------------------------------
# module-level helpers matching the reference's free functions
# ---------------------------------------------------------------------------


def canonicalize_bnodes(graph: DataFrame, max_iters: int = 16) -> DataFrame:
    """Relabel blank nodes deterministically by structural position —
    an iterative Weisfeiler-Leman-style refinement, entirely as
    DataFrame operations.

    Parser-generated blank-node labels are arbitrary (the same Turtle
    parsed twice, or by two engines, yields different labels), which
    makes any graph containing bnodes impossible to value-compare.
    This produces a *canonical form*: each bnode's label becomes
    ``cb{rank}`` where rank orders the nodes by an iterated structural
    signature — the md5 of the sorted multiset of its edge descriptors,
    with neighboring bnodes represented by their previous-round
    signature.  Signatures refine until the number of distinct
    signatures stops growing (≤ #bnodes rounds; ``max_iters`` bounds
    pathological chains).  Automorphic bnodes (indistinguishable by
    structure) share a label by design — that is what a canonical form
    means — and rows are NOT deduplicated, so cardinality is preserved.

    Reference behavior this supports: ``peel``'s bnode closure
    (gastrodon/__init__.py:688-743) copies subgraphs whose only
    non-reproducible part is the bnode labels; canonicalized output is
    stable across parses and engines, so it can be hash-compared.

    Scale shape: each round is two edge⋈signature joins plus one
    grouped sort-agg, all keyed on the bnode id; the final ranking
    window is over #bnodes rows (bounded — peel/DESCRIBE closures, not
    whole corpora)."""
    from pyspark.sql import Window

    bnodes = (
        graph.filter(F.col("s_kind") == KIND_BNODE).select(F.col("s").alias("n"))
        .union(graph.filter(F.col("o_kind") == KIND_BNODE).select(F.col("o").alias("n")))
        .distinct()
    )
    if bnodes.isEmpty():
        return graph
    sig = bnodes.withColumn("h", F.lit("b0")).localCheckpoint(eager=True)
    n_distinct = 1
    for _ in range(max_iters):
        osig = sig.select(F.col("n").alias("o_n"), F.col("h").alias("o_h"))
        ssig = sig.select(F.col("n").alias("s_n"), F.col("h").alias("s_h"))
        # ground terms carry their full identity; bnode neighbors carry
        # their previous-round signature
        out_c = (
            graph.filter(F.col("s_kind") == KIND_BNODE)
            .join(osig, (F.col("o_kind") == KIND_BNODE) & (F.col("o") == F.col("o_n")),
                  "left")
            .select(
                F.col("s").alias("n"),
                F.concat_ws(
                    "\x1f", F.lit("out"), F.col("p"),
                    F.when(F.col("o_kind") == KIND_BNODE,
                           F.concat(F.lit("B:"), F.col("o_h")))
                    .otherwise(F.concat_ws(
                        "\x1e", F.col("o_kind"), F.col("o"),
                        F.coalesce(F.col("o_dt"), F.lit("")),
                        F.coalesce(F.col("o_lang"), F.lit("")))),
                ).alias("c"),
            )
        )
        in_c = (
            graph.filter(F.col("o_kind") == KIND_BNODE)
            .join(ssig, (F.col("s_kind") == KIND_BNODE) & (F.col("s") == F.col("s_n")),
                  "left")
            .select(
                F.col("o").alias("n"),
                F.concat_ws(
                    "\x1f", F.lit("in"), F.col("p"),
                    F.when(F.col("s_kind") == KIND_BNODE,
                           F.concat(F.lit("B:"), F.col("s_h")))
                    .otherwise(F.concat_ws("\x1e", F.col("s_kind"), F.col("s"))),
                ).alias("c"),
            )
        )
        new_sig = (
            out_c.union(in_c)
            .groupBy("n")
            .agg(F.md5(F.concat_ws("\x1d", F.array_sort(F.collect_list("c"))))
                 .alias("h"))
        )
        sig = (
            bnodes.join(new_sig, "n", "left")
            .select("n", F.coalesce("h", F.lit("b0")).alias("h"))
            .localCheckpoint(eager=True)
        )
        now_distinct = sig.select("h").distinct().count()
        if now_distinct == n_distinct:
            break  # refinement is monotone; no-growth = stable partition
        n_distinct = now_distinct
    mapping = sig.select(
        "n",
        F.concat(F.lit("cb"),
                 (F.dense_rank().over(Window.orderBy("h")) - 1).cast("string"))
        .alias("canon"),
    )
    smap = mapping.select(F.col("n").alias("ms_n"), F.col("canon").alias("ms_c"))
    omap = mapping.select(F.col("n").alias("mo_n"), F.col("canon").alias("mo_c"))
    return (
        graph
        .join(smap, (F.col("s_kind") == KIND_BNODE) & (F.col("s") == F.col("ms_n")),
              "left")
        .join(omap, (F.col("o_kind") == KIND_BNODE) & (F.col("o") == F.col("mo_n")),
              "left")
        .select(
            "s_kind", F.coalesce("ms_c", "s").alias("s"), "p",
            "o_kind", F.coalesce("mo_c", "o").alias("o"), "o_dt", "o_lang",
        )
    )


def one(items) -> Any:
    """Exactly-one extractor (gastrodon ``one``, gastrodon/__init__.py:859-883):
    1×1 pandas DataFrame → the cell; 1-element list/Series → the element."""
    if isinstance(items, pd.DataFrame):
        if items.shape == (1, 1):
            return items.iloc[0, 0]
        raise one_error(items.shape[0])
    if isinstance(items, pd.Series):
        items = list(items)
    if isinstance(items, (list, tuple, set, frozenset)):
        items = list(items)
        if len(items) == 1:
            return items[0]
        raise one_error(len(items))
    raise SparkdonError(f"one() cannot handle {type(items).__name__}")


def member(index: int) -> IRI:
    """``rdf:_{i+1}`` membership-property constructor
    (gastrodon ``member``, gastrodon/__init__.py:885-893)."""
    return IRI(RDF + f"_{index + 1}")


_DEFAULT_PREFIXES = {
    "rdf": "http://www.w3.org/1999/02/22-rdf-syntax-ns#",
    "rdfs": "http://www.w3.org/2000/01/rdf-schema#",
    "xsd": "http://www.w3.org/2001/XMLSchema#",
    "owl": "http://www.w3.org/2002/07/owl#",
}


def inline(turtle: str, spark: SparkSession | None = None) -> LocalEndpoint:
    """Turtle text → LocalEndpoint (gastrodon ``inline``,
    gastrodon/__init__.py:848-857).  Prefixes declared in the Turtle become
    the endpoint's namespace environment, plus the core RDF prefixes."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise SparkdonError("no active SparkSession; pass spark=")
    parser = io_mod.TurtleParser(turtle, dict(_DEFAULT_PREFIXES))
    rows = parser.parse_document()
    df = io_mod.triples_df(spark, rows)
    return LocalEndpoint(spark, df, prefixes=dict(parser.prefixes))


def from_ntriples(path: str, spark: SparkSession,
                  prefixes: dict[str, str] | None = None) -> LocalEndpoint:
    """N-Triples file → LocalEndpoint (S1)."""
    df = io_mod.read_ntriples(spark, path)
    merged = dict(_DEFAULT_PREFIXES)
    merged.update(prefixes or {})
    return LocalEndpoint(spark, df, prefixes=merged)


def inline_rdfxml(xml: str, spark: SparkSession | None = None,
                  base: str | None = None,
                  prefixes: dict[str, str] | None = None) -> LocalEndpoint:
    """RDF/XML text → LocalEndpoint (the reference's rdflib default
    format; sparkdon/rdfxml.py parses from the public spec)."""
    from sparkdon.rdfxml import parse_rdfxml

    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise SparkdonError("no active SparkSession; pass spark=")
    merged = dict(_DEFAULT_PREFIXES)
    merged.update(prefixes or {})
    return LocalEndpoint(
        spark, io_mod.triples_df(spark, parse_rdfxml(xml, base)),
        prefixes=merged)


def from_rdfxml(path: str, spark: SparkSession,
                base: str | None = None,
                prefixes: dict[str, str] | None = None) -> LocalEndpoint:
    """RDF/XML file(s) → LocalEndpoint (one parse task per file)."""
    from sparkdon.rdfxml import read_rdfxml

    merged = dict(_DEFAULT_PREFIXES)
    merged.update(prefixes or {})
    return LocalEndpoint(spark, read_rdfxml(spark, path, base), prefixes=merged)


def inline_trig(trig: str, spark: SparkSession | None = None,
                union_default: bool = False) -> LocalEndpoint:
    """TriG text → LocalEndpoint with named graphs: default-graph
    statements populate ``graph``, ``[GRAPH] <g> { … }`` blocks the
    named store, queryable via ``GRAPH`` / ``FROM`` / ``FROM NAMED``.
    ``union_default=True`` mirrors rdflib's ConjunctiveGraph (non-GRAPH
    patterns see the union of all contexts)."""
    if spark is None:
        spark = SparkSession.getActiveSession()
        if spark is None:
            raise SparkdonError("no active SparkSession; pass spark=")
    parser = io_mod.TriGParser(trig, dict(_DEFAULT_PREFIXES))
    trows, qrows = parser.parse_quads_document()
    return LocalEndpoint(
        spark, io_mod.triples_df(spark, trows),
        prefixes=dict(parser.prefixes),
        named=io_mod.quads_df(spark, qrows) if qrows else None,
        union_default=union_default)


def from_nquads(path: str, spark: SparkSession,
                prefixes: dict[str, str] | None = None,
                union_default: bool = False) -> LocalEndpoint:
    """N-Quads file → LocalEndpoint: null-graph lines form the default
    graph, the rest the named store (distributed line-parallel scan)."""
    df = io_mod.read_nquads(spark, path)
    merged = dict(_DEFAULT_PREFIXES)
    merged.update(prefixes or {})
    return LocalEndpoint(
        spark, df.filter(F.col("g").isNull()).drop("g"),
        prefixes=merged,
        named=df.filter(F.col("g").isNotNull()),
        union_default=union_default)
