"""Algebra IR → Spark DataFrame plans.

This is the executor gastrodon never had (its one-line engine is
``self.graph.query(sparql)``, gastrodon/__init__.py:797-798).  Design
(SURVEY.md §3.1 "Our Spark lifecycle" / §4.2):

- A *bindings* relation is a DataFrame with one term-struct column per
  SPARQL variable (``v_<name>``); NULL = unbound.
- BGPs compile to filters + projections over the triple table and
  incremental equi-joins on shared variables — Catalyst reorders joins,
  pushes constant filters into the Parquet scan, and picks
  broadcast-vs-shuffle strategies (AQE).
- OPTIONAL → left outer join with the embedded FILTER folded into the
  join condition (the scoping trap of SURVEY.md §2.2 P10).
- MINUS → left anti join on the shared-variable set; empty set → no-op
  (the compat-set semantics of SURVEY.md §2.3 J4).
- EXISTS / NOT EXISTS → left semi / left anti joins.
- Property paths delegate to :mod:`sparkdon.paths` (semi-naive fixpoint).
- Aggregates run as partial+final hash aggregation; results are encoded
  back into term structs (value-typed lexical forms) so every operator
  stays closed over the bindings model.

Variables definitely bound on every row ("certain") are tracked so joins
stay hash equi-joins; only joins over possibly-unbound shared variables
fall back to SPARQL compatibility conditions (null-tolerant theta join)
— that generality is semantically required but never hit by the
reference corpus, so the fast path is the only hot path.
"""

from __future__ import annotations

import itertools
import logging
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdon import paths as path_mod
from sparkdon.algebra import (
    AggExpr, AskQuery, Bind, ConstructQuery, ExistsExpr, Expr, Filter,
    FuncExpr, GraphGroup, GroupPattern, InExpr, MinusGroup, OpExpr,
    OptionalGroup, Path, SelectQuery, ServiceGroup, SubSelect, TermExpr,
    TriplePattern, UnionGroup, UpdateRequest, ValuesClause, Var,
)
from sparkdon.errors import QueryExecutionError
from sparkdon.operators.dictionary import term_id
from sparkdon.terms import (
    XSD, BNode, IRI, KIND_BNODE, KIND_IRI, KIND_LIT, Literal, NUMERIC_DATATYPES,
    iri_term, lit_term, make_term, named_or_empty, numeric_value, sort_key,
)


logger = logging.getLogger(__name__)


def vcol(name: str) -> str:
    return "v_" + name


def _injectable_vars(g: GroupPattern) -> set[str]:
    """Variables safe to constrain via a VALUES injection into a SERVICE
    group: those occurring in subject/predicate/object position of a
    *mandatory* triple pattern — at the top level, or in EVERY branch of
    a UNION (a var bound in only some branches is excluded: solutions
    from the non-binding branches carry it unbound, are join-compatible
    with every injected VALUES row, and would come back once per row —
    an N-fold bag-cardinality inflation the local re-join cannot
    collapse).

    Everything else is excluded because pre-binding changes semantics or
    well-formedness:

    - FILTER-only vars: bottom-up evaluation leaves them unbound (the
      filter errors and eliminates rows); injection would bind them and
      rows would survive.
    - BIND targets: the variable is already in scope after injection, so
      the remote query becomes ill-formed.
    - OPTIONAL-only vars: ``VALUES ?v {a} OPTIONAL {..?v..}`` keeps the
      left row when no optional match has ``?v = a``, where the
      uninjected query produced only the optional matches — the local
      re-join cannot repair the extra surviving rows.
    - MINUS-only vars: injection makes ``?v`` shared with the MINUS
      group, activating removals the uninjected evaluation (no shared
      bound vars ⇒ remove nothing) never performs.
    - SubSelect-internal vars: scoped out remotely; a top-level VALUES
      would cross-product rather than constrain.
    - BIND targets *anywhere* — including inside OPTIONAL/MINUS/nested
      groups/subselects: even when the BIND sits in a different group
      scope (so the remote query stays well-formed), the interaction
      between an injected binding and an inner BIND of the same name is
      unanalyzed, so the exclusion is conservative (round-5 ADVICE).
    """
    pos: set[str] = set()
    banned: set[str] = set()

    def collect_banned(gp: GroupPattern) -> None:
        """Recursive BIND-target sweep — contributes to ``banned`` only,
        never to ``pos`` (triples inside OPTIONAL/MINUS/etc stay
        non-mandatory)."""
        for el in gp.elements:
            if isinstance(el, Bind):
                banned.add(el.var.name)
            elif isinstance(el, UnionGroup):
                for b in el.branches:
                    collect_banned(b)
            elif isinstance(el, (OptionalGroup, MinusGroup, ServiceGroup,
                                 GraphGroup)):
                collect_banned(el.group)
            elif isinstance(el, GroupPattern):
                collect_banned(el)
            elif isinstance(el, SubSelect) and el.query.where is not None:
                collect_banned(el.query.where)

    def certain(gp: GroupPattern) -> set[str]:
        """Vars bound in a mandatory triple position on EVERY evaluation
        path through ``gp``; side effect: sweeps BIND targets into
        ``banned`` everywhere."""
        out: set[str] = set()
        for el in gp.elements:
            if isinstance(el, TriplePattern):
                for t in (el.s, el.p, el.o):
                    if isinstance(t, Var):
                        out.add(t.name)
            elif isinstance(el, UnionGroup):
                branch_sets = [certain(b) for b in el.branches]
                if branch_sets:
                    out |= set.intersection(*branch_sets)
            elif isinstance(el, Bind):
                banned.add(el.var.name)
            elif isinstance(el, (OptionalGroup, MinusGroup, ServiceGroup,
                                 GraphGroup)):
                # conservative: triples inside GRAPH bind against a
                # different active graph, so they don't make a var
                # injectable at this level
                collect_banned(el.group)
            elif isinstance(el, GroupPattern):
                collect_banned(el)
            elif isinstance(el, SubSelect) and el.query.where is not None:
                collect_banned(el.query.where)
        return out

    pos |= certain(g)
    return pos - banned


def _group_var_names(g: GroupPattern) -> set[str]:
    """Every variable name mentioned anywhere inside a group pattern."""
    out: set[str] = set()

    def expr(e) -> None:
        if isinstance(e, TermExpr):
            if isinstance(e.term, Var):
                out.add(e.term.name)
        elif isinstance(e, (OpExpr, FuncExpr)):
            for a in e.args:
                expr(a)
        elif isinstance(e, InExpr):
            expr(e.value)
            for o in e.options:
                expr(o)
        elif isinstance(e, AggExpr):
            if e.arg is not None:
                expr(e.arg)
        elif isinstance(e, ExistsExpr):
            walk(e.group)

    def walk(gp: GroupPattern) -> None:
        for el in gp.elements:
            if isinstance(el, TriplePattern):
                for t in (el.s, el.p, el.o):
                    if isinstance(t, Var):
                        out.add(t.name)
            elif isinstance(el, (OptionalGroup, MinusGroup, ServiceGroup)):
                walk(el.group)
            elif isinstance(el, GraphGroup):
                if isinstance(el.term, Var):
                    out.add(el.term.name)
                walk(el.group)
            elif isinstance(el, UnionGroup):
                for b in el.branches:
                    walk(b)
            elif isinstance(el, Bind):
                expr(el.expr)
                out.add(el.var.name)
            elif isinstance(el, ValuesClause):
                out.update(v.name for v in el.variables)
            elif isinstance(el, SubSelect):
                sq = el.query
                walk(sq.where)
                for e, alias in sq.projections:
                    if isinstance(e, Var):
                        out.add(e.name)
                    else:
                        expr(e)
                    if alias is not None:
                        out.add(alias)
            elif isinstance(el, Filter):
                expr(el.expr)

    walk(g)
    return out


@dataclass
class Bindings:
    """A solution-sequence relation: DataFrame + variable bookkeeping."""

    df: DataFrame
    variables: list[str]  # var names (no '?'), order = first appearance
    certain: set[str] = field(default_factory=set)  # definitely bound

    def col(self, name: str) -> Column:
        return self.df[vcol(name)]


def _struct_to_term(v):
    """Collected term-struct Row → term object (inverse of term_to_struct
    for constants; driver-side, used by the SERVICE bound-join)."""
    if v is None:
        return None
    if v["kind"] == KIND_IRI:
        return IRI(v["lex"])
    if v["kind"] == KIND_BNODE:
        return BNode(v["lex"])
    return Literal(v["lex"], v["dt"], v["lang"])


def term_to_struct(term) -> Column:
    """Constant term → literal term-struct Column."""
    if isinstance(term, IRI):
        return iri_term(str(term))
    if isinstance(term, BNode):
        return make_term(KIND_BNODE, F.lit(str(term)))
    if isinstance(term, Literal):
        return make_term(
            KIND_LIT,
            F.lit(term.lex),
            F.lit(term.datatype) if term.datatype else None,
            F.lit(term.lang) if term.lang else None,
        )
    raise QueryExecutionError(f"cannot encode constant {term!r}")


#: session-wide counter so every construct() call gets distinct bnode labels
_construct_nonce = itertools.count()


class Compiler:
    def __init__(self, spark: SparkSession, triples: DataFrame,
                 use_ids: bool = False, named: DataFrame | None = None):
        self.spark = spark
        self.triples = triples
        #: named-graph store: QUAD_SCHEMA frame (triple columns + ``g``
        #: graph IRI), or None when the endpoint has no named graphs —
        #: ``GRAPH`` then matches nothing, per SPARQL §13.3
        self.named = named
        #: set while compiling inside ``GRAPH ?var { … }``: the variable
        #: name each pattern scan must additionally bind from ``g``
        self.graph_var: str | None = None
        #: set (temporarily) by _filter_with_exists_flags: id(ExistsExpr
        #: node) → pre-computed boolean flag Column, letting compile_expr
        #: resolve an EXISTS in a non-conjunctive expression position
        self._exists_flags: dict[int, Column] = {}
        #: per-pattern scan override: id(TriplePattern) → DataFrame.  The
        #: semi-naive rule-fixpoint rewrite (paths.fixpoint_union /
        #: session.update_to_fixpoint, r17) evaluates a rule body once
        #: per body atom with THAT atom's scan redirected to the delta
        #: frame while every other atom scans the full store — this map
        #: is how one atom's source diverges from ``self.triples``.
        self._pattern_frames: dict[int, DataFrame] = {}
        self._uid = itertools.count()
        #: ``use_ids`` (SURVEY.md §4.3 term-dictionary v2): variables whose
        #: *values* are never needed — they only connect triple patterns —
        #: are carried as 64-bit content-hash ids (operators/dictionary.py
        #: ``term_id``) instead of ~60-120-byte term structs.  Join
        #: semantics are unchanged (id equality ⇔ term equality, modulo
        #: the 2⁻⁶⁵-per-pair xxhash64 collision odds the dictionary module
        #: documents); shuffle rows for join-only variables shrink ~8-15×.
        self.use_ids = use_ids
        self.id_only: frozenset[str] = frozenset()
        #: late-materialized vars (use_ids v3): value needed ONLY in the
        #: top-level post-WHERE clauses (projection / GROUP BY / ORDER BY /
        #: HAVING), so the var travels through every pattern join as an
        #: 8-byte id and is decoded ONCE at the end by a left join against
        #: a decode relation unioned from exactly the (filtered) pattern
        #: scans that bind it — classic late materialization: K shuffles of
        #: a ~60-120-byte struct become K shuffles of a long plus one
        #: decode join whose probe side is the (small) final result.
        self.late: frozenset[str] = frozenset()
        self._decode_src: dict[str, list[DataFrame]] = {}
        self._analyzed = False

    # ------------------------------------------------------------------
    # use_ids analysis
    # ------------------------------------------------------------------

    def _analyze_id_vars(self, q) -> tuple[frozenset[str], frozenset[str]]:
        """Returns ``(id_only, late)``.

        ``id_only``: variables eligible for id-only representation — they
        appear ONLY in plain triple-pattern positions — never in a
        projection, expression, path, VALUES, BIND, GROUP/ORDER BY, or
        sub-SELECT output.  A ``SELECT *`` anywhere keeps every variable
        (all values are observable) and disables the mode.

        ``late``: variables whose value uses are confined to the TOP-LEVEL
        query's post-WHERE clauses (projection, GROUP BY, ORDER BY,
        HAVING).  Those clauses run after :meth:`compile_select` decodes
        late ids back to term structs, so the var can stay id-encoded
        through the whole WHERE evaluation.  Any value use *inside* the
        WHERE group (FILTER, BIND, VALUES, path endpoint, EXISTS body,
        sub-SELECT) disqualifies.  Only populated when the query has a
        shuffle the encoding can shrink: ≥2 plain triple patterns (a
        join) or a top-level GROUP BY (the aggregation exchange — group
        keys then ride it as ids and decode on the per-group frame).
        A bare single-pattern SELECT gets no benefit, so the decode join
        would be pure overhead and the mode stays off."""
        value: set[str] = set()
        value_top: set[str] = set()
        pattern_vars: set[str] = set()
        n_plain = 0
        star = False

        def walk_expr(e, sink: set[str] | None = None) -> None:
            sink = value if sink is None else sink
            if isinstance(e, TermExpr):
                if isinstance(e.term, Var):
                    sink.add(e.term.name)
            elif isinstance(e, (OpExpr, FuncExpr)):
                for a in e.args:
                    walk_expr(a, sink)
            elif isinstance(e, InExpr):
                walk_expr(e.value, sink)
                for o in e.options:
                    walk_expr(o, sink)
            elif isinstance(e, AggExpr):
                if e.arg is not None:
                    # COUNT(?v) / COUNT(DISTINCT ?v) over a bare variable
                    # needs only presence/equality — id equality ⇔ term
                    # equality, so the var can stay id-encoded
                    if (e.name == "COUNT" and isinstance(e.arg, TermExpr)
                            and isinstance(e.arg.term, Var)):
                        pass
                    else:
                        walk_expr(e.arg, sink)
            elif isinstance(e, ExistsExpr):
                walk_group(e.group)

        def walk_group(g: GroupPattern) -> None:
            nonlocal n_plain
            for el in g.elements:
                if isinstance(el, TriplePattern):
                    if isinstance(el.p, Path):
                        # path evaluation builds struct endpoint frames
                        for t in (el.s, el.o):
                            if isinstance(t, Var):
                                value.add(t.name)
                    else:
                        n_plain += 1
                        for t in (el.s, el.p, el.o):
                            if isinstance(t, Var):
                                pattern_vars.add(t.name)
                elif isinstance(el, OptionalGroup):
                    walk_group(el.group)
                elif isinstance(el, MinusGroup):
                    walk_group(el.group)
                elif isinstance(el, GraphGroup):
                    # the graph name is materialized as a term struct
                    # (iri_term over ``g``), and inner patterns scan the
                    # quad store — keep all involved vars value-encoded
                    if isinstance(el.term, Var):
                        value.add(el.term.name)
                    value.update(_group_var_names(el.group))
                    walk_group(el.group)
                elif isinstance(el, UnionGroup):
                    for b in el.branches:
                        walk_group(b)
                elif isinstance(el, Bind):
                    walk_expr(el.expr)
                    value.add(el.var.name)
                elif isinstance(el, ValuesClause):
                    for v in el.variables:
                        value.add(v.name)
                elif isinstance(el, SubSelect):
                    walk_select(el.query)
                elif isinstance(el, Filter):
                    walk_expr(el.expr)
                elif isinstance(el, ServiceGroup):
                    # remote results arrive as materialized term structs;
                    # every service var must stay value-encoded
                    value.update(_group_var_names(el.group))

        def walk_select(sq, top: bool = False) -> None:
            nonlocal star
            sink = value_top if top else value
            walk_group(sq.where)
            if not sq.projections:
                star = True
            for e, _alias in sq.projections:
                if isinstance(e, Var):
                    sink.add(e.name)
                else:
                    walk_expr(e, sink)
            for g in sq.group_by:
                walk_expr(g[0] if isinstance(g, tuple) else g, sink)
            for e, _d in sq.order_by:
                walk_expr(e, sink)
            for h in sq.having:
                walk_expr(h, sink)

        if isinstance(q, SelectQuery):
            walk_select(q, top=True)
        elif isinstance(q, AskQuery):
            walk_group(q.where)
        else:
            return frozenset(), frozenset()
        if star:
            return frozenset(), frozenset()
        shrinkable = n_plain >= 2 or (
            isinstance(q, SelectQuery) and bool(q.group_by))
        late = (frozenset(pattern_vars & (value_top - value))
                if shrinkable else frozenset())
        return frozenset(pattern_vars - value - value_top), late

    # ------------------------------------------------------------------
    # triple patterns
    # ------------------------------------------------------------------

    def _subject_struct(self) -> Column:
        return make_term(F.col("s_kind"), F.col("s"))

    def _object_struct(self) -> Column:
        return make_term(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang"))

    def compile_pattern(self, tp: TriplePattern,
                        anchor_sets: dict | None = None,
                        prior: Bindings | None = None) -> Bindings:
        if isinstance(tp.p, Path):
            return self.compile_path_pattern(tp, anchor_sets, prior)
        df = self._pattern_frames.get(id(tp), self.triples)
        # constant filters — these push into the Parquet scan
        proj: dict[str, Column] = {}
        filters: list[Column] = []

        late_slots: list[tuple[str, Column, Column]] = []

        def handle(term, struct_col: Column, id_col: Column, flat_eq):
            nonlocal df
            if isinstance(term, Var):
                if term.name in self.late:
                    col = id_col
                    late_slots.append((term.name, id_col, struct_col))
                else:
                    col = id_col if term.name in self.id_only else struct_col
                if term.name in proj:  # repeated var in one pattern
                    filters.append(proj[term.name].eqNullSafe(col))
                else:
                    proj[term.name] = col
            else:
                for c in flat_eq(term):
                    df = df.filter(c)

        def s_eq(term):
            if isinstance(term, IRI):
                return [F.col("s_kind") == KIND_IRI, F.col("s") == str(term)]
            if isinstance(term, BNode):
                return [F.col("s_kind") == KIND_BNODE, F.col("s") == str(term)]
            raise QueryExecutionError("literal subject in pattern")

        def p_eq(term):
            return [F.col("p") == str(term)]

        def o_eq(term):
            if isinstance(term, IRI):
                return [F.col("o_kind") == KIND_IRI, F.col("o") == str(term)]
            if isinstance(term, BNode):
                return [F.col("o_kind") == KIND_BNODE, F.col("o") == str(term)]
            cs = [F.col("o_kind") == KIND_LIT, F.col("o") == term.lex]
            cs.append(
                F.col("o_dt") == term.datatype if term.datatype else F.col("o_dt").isNull()
            )
            cs.append(F.col("o_lang") == term.lang if term.lang else F.col("o_lang").isNull())
            return cs

        handle(tp.s, self._subject_struct(),
               term_id(F.col("s_kind"), F.col("s")), s_eq)
        handle(tp.p, iri_term(F.col("p")),
               term_id(F.lit(KIND_IRI), F.col("p")), p_eq)
        handle(tp.o, self._object_struct(),
               term_id(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang")),
               o_eq)
        if self.graph_var is not None:
            # inside GRAPH ?g: every pattern scan additionally binds the
            # graph name; handle() reuses the repeated-var equality when
            # ?g also occupies an s/p/o position of this pattern
            handle(Var(self.graph_var), iri_term(F.col("g")),
                   term_id(F.lit(KIND_IRI), F.col("g")), None)

        # decode relations for late-materialized vars: exactly this
        # pattern's (constant-filtered, hence pushdown-pruned) scan,
        # projected to (id, struct) — unioned per var and deduped at the
        # final decode join in compile_select
        for name, id_col, struct_col in late_slots:
            self._decode_src.setdefault(name, []).append(
                df.select(id_col.alias("__tid"), struct_col.alias("__term")))

        out = df.select(*[c.alias(vcol(n)) for n, c in proj.items()])
        for f in filters:
            out = out.filter(f)
        names = list(proj.keys())
        return Bindings(out, names, set(names))

    def compile_path_pattern(self, tp: TriplePattern,
                             anchor_sets: dict | None = None,
                             prior: Bindings | None = None) -> Bindings:
        if self.graph_var is not None:
            return self._compile_path_in_graph_var(tp)
        start_const = None if isinstance(tp.s, Var) else tp.s
        end_const = None if isinstance(tp.o, Var) else tp.o
        # VALUES-driven anchor sets: a closure path whose endpoint var is
        # bound by an all-constant VALUES clause in the same group BFSes
        # from that anchor set (one frontier join per level, per-anchor
        # provenance) instead of paying the full transitive closure — the
        # later join with the VALUES relation is then a no-op restriction.
        start_anchors = end_anchors = None
        if (anchor_sets and start_const is None and end_const is None
                and isinstance(tp.p, Path) and tp.p.op in ("star", "plus")):
            if tp.s.name in anchor_sets:
                start_anchors = anchor_sets[tp.s.name]
            elif tp.o.name in anchor_sets:
                end_anchors = anchor_sets[tp.o.name]
        # Sideways information passing: no constant/VALUES anchor, but the
        # group prefix compiled so far already binds an endpoint var — its
        # DISTINCT bound values become the anchor relation (no driver
        # collect; anchored_closure materializes it once).  The later join
        # with the prefix restricts to exactly these values, so the
        # restriction is lossless.  Only certain (never-null) vars
        # qualify: a possibly-unbound shared var joins through the
        # null-tolerant compatibility path, where a null row must remain
        # compatible with EVERY path solution.
        if (start_anchors is None and end_anchors is None
                and start_const is None and end_const is None
                and prior is not None
                and isinstance(tp.p, Path) and tp.p.op in ("star", "plus")):
            for t, side in ((tp.s, "start"), (tp.o, "end")):
                if t.name in prior.variables and t.name in prior.certain:
                    adf = (prior.df
                           .select(F.col(vcol(t.name)).alias("node"))
                           .filter(F.col("node").isNotNull())
                           .distinct())
                    if side == "start":
                        start_anchors = adf
                    else:
                        end_anchors = adf
                    break
        pairs = path_mod.eval_path(self, tp.p, start_const, end_const,
                                   start_anchors=start_anchors,
                                   end_anchors=end_anchors)
        proj = {}
        df = pairs
        # filter constant endpoints (closure paths are already anchored, but
        # plain link/seq/inv/alt paths need the selection applied here)
        if start_const is not None:
            df = df.filter(df["start"].eqNullSafe(term_to_struct(start_const)))
        if end_const is not None:
            df = df.filter(df["end"].eqNullSafe(term_to_struct(end_const)))
        if isinstance(tp.s, Var):
            proj[tp.s.name] = df["start"]
        if isinstance(tp.o, Var):
            if isinstance(tp.s, Var) and tp.o.name == tp.s.name:
                df = df.filter(df["start"].eqNullSafe(df["end"]))
            else:
                proj[tp.o.name] = df["end"]
        out = df.select(*[c.alias(vcol(n)) for n, c in proj.items()])
        names = list(proj.keys())
        return Bindings(out, names, set(names))

    def _compile_path_in_graph_var(self, tp: TriplePattern) -> Bindings:
        """Property path under ``GRAPH ?var`` (§13.3 × §18.4; round 10 —
        closes the former honest-raise boundary): evaluate the path
        against EVERY named graph in ONE distributed plan — no per-graph
        driver loop, which graph-per-document layouts forbid at scale.

        Graph-keying rides inside the node lexicals: each quad's s/o lex
        is rewritten to ``<g> <lex>`` (a graph IRI cannot contain a
        space, so splitting on the FIRST space is unambiguous even when
        a literal lexical itself contains spaces) and the UNCHANGED path
        machinery — anchored BFS, semi-naive closure, the id-encoded
        loop above ``CLOSURE_IDS_MIN_STEP`` — runs over the tagged
        store.  Path composition joins require exact term equality, so
        every derived pair provably stays within one graph: both
        endpoints of an edge carry that edge's tag, and each join
        equates tags transitively; the graph variable then decodes from
        the tag.  Constant endpoints become per-graph tagged anchor
        relations (graphs × const), so anchored closures keep the BFS
        fast path with per-anchor provenance separating the per-graph
        cones.  The VALUES/SIP anchor harvests are restriction-pushing
        optimizations that arrive untagged; they are simply not applied
        here (correctness is unaffected)."""
        import copy as _copy

        quads = self.triples  # graph-var mode: the named quad store
        sub = _copy.copy(self)
        sub.graph_var = None
        sub.triples = quads.select(
            F.col("s_kind"),
            F.concat(F.col("g"), F.lit(" "), F.col("s")).alias("s"),
            F.col("p"), F.col("o_kind"),
            F.concat(F.col("g"), F.lit(" "), F.col("o")).alias("o"),
            F.col("o_dt"), F.col("o_lang"))
        graphs = quads.select("g").distinct()

        def const_anchor(term):
            kind, lex, dt, lang = path_mod._const_struct_row(term)
            return graphs.select(F.struct(
                F.lit(kind).alias("kind"),
                F.concat(F.col("g"), F.lit(" "), F.lit(lex)).alias("lex"),
                F.lit(dt).cast("string").alias("dt"),
                F.lit(lang).cast("string").alias("lang")).alias("node"))

        start_const = None if isinstance(tp.s, Var) else tp.s
        end_const = None if isinstance(tp.o, Var) else tp.o
        pairs = path_mod.eval_path(
            sub, tp.p, None, None,
            start_anchors=(const_anchor(start_const)
                           if start_const is not None else None),
            end_anchors=(const_anchor(end_const)
                         if end_const is not None and start_const is None
                         else None))

        def untag(c: str):
            s = F.col(c)
            return F.struct(
                s["kind"].alias("kind"),
                F.expr(f"substring({c}.lex, instr({c}.lex, ' ') + 1)")
                .alias("lex"),
                s["dt"].alias("dt"), s["lang"].alias("lang"))

        df = pairs.select(
            iri_term(F.substring_index(F.col("start")["lex"], " ", 1))
            .alias("__g"),
            untag("start").alias("start"), untag("end").alias("end"))
        # constant endpoints re-filter on the untagged structs (for the
        # anchored closures this is a no-op restriction; plain composite
        # paths rely on it, same post-filter as the non-GRAPH branch)
        if start_const is not None:
            df = df.filter(df["start"].eqNullSafe(term_to_struct(start_const)))
        if end_const is not None:
            df = df.filter(df["end"].eqNullSafe(term_to_struct(end_const)))
        gname = self.graph_var
        proj = {gname: df["__g"]}
        if isinstance(tp.s, Var):
            if tp.s.name == gname:
                df = df.filter(df["__g"].eqNullSafe(df["start"]))
            else:
                proj[tp.s.name] = df["start"]
        if isinstance(tp.o, Var):
            if tp.o.name == gname:
                df = df.filter(df["__g"].eqNullSafe(df["end"]))
            elif isinstance(tp.s, Var) and tp.o.name == tp.s.name:
                df = df.filter(df["start"].eqNullSafe(df["end"]))
            else:
                proj[tp.o.name] = df["end"]
        out = df.select(*[c.alias(vcol(n)) for n, c in proj.items()])
        names = list(proj.keys())
        return Bindings(out, names, set(names))

    # ------------------------------------------------------------------
    # joins
    # ------------------------------------------------------------------

    def join(self, left: Bindings | None, right: Bindings, how: str = "inner",
             extra_cond=None, minus: bool = False) -> Bindings:
        """Join two binding relations on their shared variables.

        Fast path: all shared vars certain on both sides → hash equi-join
        on the struct columns.  Slow path (possibly-unbound shared vars):
        SPARQL compatibility condition — null-tolerant, compiled as a
        theta join; never hit by the reference corpus.

        ``minus=True`` (MINUS semantics, spec §18.5 Minus): a left solution
        is only removed when it is compatible with a right solution AND
        their domains intersect — a left row whose shared vars are all
        unbound must survive even though it is vacuously compatible.
        """
        if left is None:
            if how in ("inner", "left_outer") and extra_cond is None:
                return right
            raise QueryExecutionError(f"{how} join with empty left side")
        shared = [v for v in left.variables if v in right.variables]
        l_only = [v for v in left.variables if v not in shared]
        r_only = [v for v in right.variables if v not in shared]

        fast = all(v in left.certain and v in right.certain for v in shared)
        if fast and extra_cond is None and shared:
            out = left.df.join(right.df, on=[vcol(v) for v in shared], how=how)
            new_vars = shared + l_only + r_only if how != "left_anti" else left.variables
        else:
            # rename right columns to avoid ambiguity, build explicit condition
            r_df = right.df
            ren = {vcol(v): f"r__{vcol(v)}" for v in right.variables}
            for old, new in ren.items():
                r_df = r_df.withColumnRenamed(old, new)
            conds = []
            for v in shared:
                lc, rc = left.df[vcol(v)], r_df[f"r__{vcol(v)}"]
                if v in left.certain and v in right.certain:
                    conds.append(lc == rc)
                else:
                    conds.append(lc.isNull() | rc.isNull() | (lc == rc))
            if minus and how == "left_anti" and shared:
                dom_overlap = F.lit(False)
                for v in shared:
                    dom_overlap = dom_overlap | (
                        left.df[vcol(v)].isNotNull()
                        & r_df[f"r__{vcol(v)}"].isNotNull()
                    )
                conds.append(dom_overlap)
            if extra_cond is not None:
                # merged-solution scope: right-only vars from the right,
                # left-only from the left, shared = coalesce (compat makes
                # both-bound sides equal; merge takes whichever is bound)
                def _resolve(v):
                    if v in r_only:
                        return r_df[f"r__{vcol(v)}"]
                    if v in shared:
                        return F.coalesce(left.df[vcol(v)], r_df[f"r__{vcol(v)}"])
                    return left.df[vcol(v)]

                conds.append(extra_cond(_resolve))
            cond = F.lit(True)
            for c in conds:
                cond = cond & c
            joined = left.df.join(r_df, on=cond, how=how if shared or extra_cond is not None else "cross")
            if how in ("left_anti", "left_semi"):
                return Bindings(joined, list(left.variables), set(left.certain))
            sel = []
            for v in left.variables:
                if v in shared and v not in left.certain:
                    sel.append(F.coalesce(left.df[vcol(v)], r_df[f"r__{vcol(v)}"]).alias(vcol(v)))
                else:
                    sel.append(left.df[vcol(v)].alias(vcol(v)))
            for v in r_only:
                sel.append(r_df[f"r__{vcol(v)}"].alias(vcol(v)))
            out = joined.select(*sel)
            new_vars = left.variables + r_only
            certain = set(left.certain)
            if how == "inner":
                certain |= right.certain
            return Bindings(out, new_vars, certain)

        if not shared and extra_cond is None:
            if how == "inner":
                out = left.df.crossJoin(right.df)
                new_vars = left.variables + r_only
                return Bindings(out, new_vars, left.certain | right.certain)
            if how == "left_outer":
                out = left.df.crossJoin(right.df)  # right nonempty ⇒ all compatible
                return Bindings(out, left.variables + r_only, left.certain | right.certain)
            if how == "left_anti":
                # MINUS with disjoint domains removes nothing (J4 caveat)
                return left
            if how == "left_semi":
                return left

        certain = set(left.certain)
        if how == "inner":
            certain |= right.certain
        elif how in ("left_anti", "left_semi"):
            return Bindings(out, list(left.variables), set(left.certain))
        return Bindings(out, new_vars, certain)

    # ------------------------------------------------------------------
    # group graph pattern
    # ------------------------------------------------------------------

    def unit(self) -> Bindings:
        return Bindings(self.spark.range(1).select(F.lit(1).alias("__unit")), [], set())

    @staticmethod
    def _expr_vars(expr: Expr) -> set[str]:
        """Variables referenced by an expression."""
        if isinstance(expr, TermExpr):
            return {expr.term.name} if isinstance(expr.term, Var) else set()
        if isinstance(expr, OpExpr):
            return set().union(*[Compiler._expr_vars(a) for a in expr.args]) if expr.args else set()
        if isinstance(expr, FuncExpr):
            return set().union(*[Compiler._expr_vars(a) for a in expr.args]) if expr.args else set()
        if isinstance(expr, InExpr):
            out = Compiler._expr_vars(expr.value)
            for o in expr.options:
                out |= Compiler._expr_vars(o)
            return out
        if isinstance(expr, AggExpr):
            return Compiler._expr_vars(expr.arg) if expr.arg is not None else set()
        return set()

    @staticmethod
    def _contains_exists(expr: Expr) -> bool:
        """True when EXISTS/NOT EXISTS appears anywhere in ``expr`` —
        including nested inside a connective (``?x > 3 && EXISTS {…}``).
        ``_expr_vars`` cannot see through an EXISTS group (it reports no
        vars for it), so guards built on it must refuse such
        expressions rather than treat them as variable-free."""
        if isinstance(expr, ExistsExpr):
            return True
        if isinstance(expr, (OpExpr, FuncExpr)):
            return any(Compiler._contains_exists(a) for a in (expr.args or ()))
        if isinstance(expr, InExpr):
            return (Compiler._contains_exists(expr.value)
                    or any(Compiler._contains_exists(o) for o in expr.options))
        if isinstance(expr, AggExpr):
            return expr.arg is not None and Compiler._contains_exists(expr.arg)
        return False

    @staticmethod
    def _sharpenable(expr: Expr, bindings: Bindings) -> bool:
        """May a deferred group filter be applied to a bound-join HARVEST
        frame (closure-path SIP anchors, SERVICE VALUES injection)
        without changing the final result?  Two requirements (advice
        r15 — the original guard checked ``variables`` and admitted
        EXISTS):

        - every referenced var CERTAIN in the prefix: a nullable
          (OPTIONAL-bound) var evaluates to NULL on harvest rows and
          drops them, yet the joined group may itself bind that var so
          the MERGED row passes the group-end filter — anchors must not
          be excluded for it.  Certain vars cannot be rebound by the
          join, so the filter evaluates identically on prefix and
          merged rows.
        - no EXISTS/NOT EXISTS anywhere in the expression:
          ``_expr_vars`` reports no vars for an EXISTS group, so the
          var guard cannot protect it; ``apply_filter``'s semi/anti
          join uses null-tolerant compat that can over-drop harvest
          rows a group-end evaluation (with the service/path-bound
          value) would keep, and the uncorrelated branch runs a
          blocking count() job at compile time.  Such filters still run
          at group end — only the harvest sharpening skips them."""
        return (not Compiler._contains_exists(expr)
                and Compiler._expr_vars(expr) <= bindings.certain)

    @staticmethod
    def _vars_with_exists_groups(expr: Expr) -> set[str]:
        """``_expr_vars`` plus, for every nested EXISTS, every variable
        its group pattern mentions — the full variable set a
        LeftJoin-condition scoping decision must see (``_expr_vars``
        alone reports nothing for an EXISTS, so an OPTIONAL filter
        correlated with the left side only THROUGH its EXISTS group
        would otherwise classify as left-independent)."""
        out = set(Compiler._expr_vars(expr))

        def walk(e: Expr) -> None:
            if isinstance(e, ExistsExpr):
                out.update(_group_var_names(e.group))
            elif isinstance(e, (OpExpr, FuncExpr)):
                for a in (e.args or ()):
                    walk(a)
            elif isinstance(e, InExpr):
                walk(e.value)
                for o in e.options:
                    walk(o)
            elif isinstance(e, AggExpr) and e.arg is not None:
                walk(e.arg)

        walk(expr)
        return out

    def _left_outer_with_filtered_merge(
            self, left: Bindings, right: Bindings,
            filter_exprs: list[Expr]) -> Bindings:
        """LeftJoin (spec §18.5) whose condition contains expressions
        only evaluable as JOINS (EXISTS / NOT EXISTS): a single Spark
        join condition cannot host a subquery, so compose it —
        compat inner-join candidates → every condition conjunct applied
        over the MERGED scope via ``apply_filter`` (a row survives iff
        all conjuncts EBV true, exactly the LeftJoin condition) →
        survivors ∪ (left rows with no surviving partner, right-only
        vars null).

        Bag-exact: a left row's identity is its full value tuple
        (value-identical left rows are interchangeable — same partners,
        same survival), so the bare side is a null-safe anti join of
        the left frame against the survivors' PRISTINE left columns.
        Those are carried under ``l__`` aliases through the filter
        chain, because the merged view coalesces a null left value with
        its right partner's value and could not identify its source row
        afterwards."""
        shared = [v for v in left.variables if v in right.variables]
        r_only = [v for v in right.variables if v not in shared]
        r_df = right.df
        for v in right.variables:
            r_df = r_df.withColumnRenamed(vcol(v), f"r__{vcol(v)}")
        cond = F.lit(True)
        for v in shared:
            lc, rc = left.df[vcol(v)], r_df[f"r__{vcol(v)}"]
            if v in left.certain and v in right.certain:
                cond = cond & (lc == rc)
            else:
                cond = cond & (lc.isNull() | rc.isNull() | (lc == rc))
        cand = (left.df.join(r_df, on=cond, how="inner")
                if shared else left.df.crossJoin(r_df))
        sel = [cand[vcol(v)].alias(f"l__{vcol(v)}") for v in left.variables]
        for v in left.variables:
            if v in shared and v not in left.certain:
                sel.append(F.coalesce(cand[vcol(v)], cand[f"r__{vcol(v)}"])
                           .alias(vcol(v)))
            else:
                sel.append(cand[vcol(v)].alias(vcol(v)))
        for v in r_only:
            sel.append(cand[f"r__{vcol(v)}"].alias(vcol(v)))
        mb = Bindings(cand.select(*sel), list(left.variables) + r_only,
                      set(left.certain) | set(right.certain))
        for ex in filter_exprs:
            mb = self.apply_filter(mb, ex)
        matched = mb.df.drop(*[f"l__{vcol(v)}" for v in left.variables])
        surv = mb.df.select(
            *[F.col(f"l__{vcol(v)}").alias(vcol(v))
              for v in left.variables]).distinct()
        anti = F.lit(True)
        for v in left.variables:
            anti = anti & left.df[vcol(v)].eqNullSafe(surv[vcol(v)])
        bare = left.df.join(surv, on=anti, how="left_anti")
        for v in r_only:
            bare = bare.withColumn(
                vcol(v),
                F.lit(None).cast(right.df.schema[vcol(v)].dataType))
        return Bindings(matched.unionByName(bare),
                        list(left.variables) + r_only, set(left.certain))

    def compile_group(self, group: GroupPattern) -> Bindings:
        bindings: Bindings | None = None
        deferred: list[Expr] = []
        # all-constant VALUES columns in this group double as closure-path
        # anchor sets (the inner join with VALUES restricts those vars to
        # exactly these terms, so anchoring the BFS there is lossless)
        anchor_sets: dict[str, list] = {}
        for el in group.elements:
            if isinstance(el, ValuesClause):
                for i, v in enumerate(el.variables):
                    vals = [row[i] for row in el.rows]
                    if vals and all(t is not None for t in vals):
                        anchor_sets.setdefault(v.name, vals)
        for el in self._reorder_for_sip(group.elements):
            if isinstance(el, TriplePattern):
                prior = bindings
                if (bindings is not None and isinstance(el.p, Path)
                        and el.p.op in ("star", "plus")):
                    # sharpen the SIP anchor harvest: group filters whose
                    # vars the prefix CERTAINLY binds restrict the final
                    # solutions anyway, so applying them to the HARVEST
                    # frame (not the main plan — they still run at group
                    # end) is lossless and shrinks the anchor set
                    # (_sharpenable: certain-vars only, never EXISTS)
                    for expr in deferred:
                        if self._sharpenable(expr, bindings):
                            prior = self.apply_filter(prior, expr)
                bindings = self.join(
                    bindings,
                    self.compile_pattern(el, anchor_sets, prior=prior))
            elif isinstance(el, OptionalGroup):
                if bindings is None:
                    bindings = self.unit()
                # The OPTIONAL-FILTER scoping trap (SURVEY.md §2.2 P10): a
                # filter inside the optional group that references LEFT-side
                # variables belongs to the JOIN CONDITION, not to the right
                # side (pre-filter) or the result (post-filter).  Split the
                # group's top-level filters by the variables they touch.
                left_vars = set(bindings.variables)
                kept, lifted, lifted_exists = [], [], []
                for ge in el.group.elements:
                    # Spec (§18.2.2.2): every top-level filter of the
                    # optional group belongs to the LeftJoin condition,
                    # evaluated over the MERGED solution.  Keeping it as a
                    # pre-filter on the right side is an equivalent (and
                    # pushdown-friendly) plan exactly when the filter
                    # references no left-side variable; any left reference
                    # — even one the group may also bind (nested OPTIONAL)
                    # — forces the lift, because merge takes the left value
                    # where the right is unbound.  EXISTS-carrying filters
                    # (r16): correlation may hide inside the EXISTS group
                    # (_vars_with_exists_groups sees it); a left-correlated
                    # one cannot ride the single-join extra_cond (no
                    # subqueries in a Spark join condition) and takes the
                    # composed LeftJoin below, while a left-independent one
                    # stays a right-side pre-filter (equivalent: its value
                    # per right row never changes with the left row).
                    if not isinstance(ge, Filter):
                        kept.append(ge)
                    elif self._contains_exists(ge.expr):
                        if self._vars_with_exists_groups(ge.expr) & left_vars:
                            lifted_exists.append(ge.expr)
                        else:
                            kept.append(ge)
                    elif self._expr_vars(ge.expr) & left_vars:
                        lifted.append(ge.expr)
                    else:
                        kept.append(ge)
                right = self.compile_group(GroupPattern(kept))
                if lifted_exists:
                    b = self._left_outer_with_filtered_merge(
                        bindings, right, lifted + lifted_exists)
                elif lifted:
                    def extra_cond(resolve, _lifted=tuple(lifted)):
                        colmap = {}
                        for v in left_vars | set(right.variables):
                            colmap[v] = resolve(v)
                        cond = F.lit(True)
                        for ex in _lifted:
                            cond = cond & self.as_bool(self.compile_expr(ex, colmap))
                        return cond

                    b = self.join(bindings, right, how="left_outer",
                                  extra_cond=extra_cond)
                else:
                    b = self.join(bindings, right, how="left_outer")
                # right-only vars become uncertain
                b.certain = set(bindings.certain)
                bindings = b
            elif isinstance(el, MinusGroup):
                if bindings is None:
                    raise QueryExecutionError("MINUS with no preceding pattern")
                right = self.compile_group(el.group)
                shared = [v for v in bindings.variables if v in right.variables]
                if not shared:
                    continue  # SPARQL MINUS no-shared-vars no-op
                bindings = self.join(bindings, right, how="left_anti", minus=True)
            elif isinstance(el, UnionGroup):
                branches = [self.compile_group(b) for b in el.branches]
                all_vars: list[str] = []
                for b in branches:
                    for v in b.variables:
                        if v not in all_vars:
                            all_vars.append(v)
                dfs = []
                for b in branches:
                    df = b.df
                    for v in all_vars:
                        if v not in b.variables:
                            typ = ("bigint"
                                   if v in self.id_only or v in self.late else
                                   "struct<kind:string,lex:string,dt:string,lang:string>")
                            df = df.withColumn(vcol(v), F.lit(None).cast(typ))
                    dfs.append(df.select(*[vcol(v) for v in all_vars]))
                u = dfs[0]
                for d in dfs[1:]:
                    u = u.unionByName(d)
                certain = set(all_vars)
                for b in branches:
                    certain &= b.certain
                bindings = self.join(bindings, Bindings(u, all_vars, certain))
            elif isinstance(el, Bind):
                if bindings is None:
                    bindings = self.unit()
                if el.var.name in bindings.variables:
                    raise QueryExecutionError(f"BIND to already-bound ?{el.var.name}")
                if self._contains_exists(el.expr):
                    # BIND(EXISTS {…} AS ?f) and friends (r16): the same
                    # flag machinery as FILTER — each EXISTS becomes a
                    # per-row boolean column, the bound value an
                    # xsd:boolean term over it
                    cur, helper, fmap = self._exists_flag_frame(
                        bindings, [el.expr])
                    colmap = {v: cur[vcol(v)] for v in bindings.variables}
                    prev = self._exists_flags
                    self._exists_flags = {k: cur[c] for k, c in fmap.items()}
                    try:
                        value = self.expr_term(el.expr, colmap)
                    finally:
                        self._exists_flags = prev
                    bindings = Bindings(
                        cur.withColumn(vcol(el.var.name), value).drop(*helper),
                        bindings.variables + [el.var.name],
                        set(bindings.certain),
                    )
                else:
                    colmap = {v: bindings.col(v) for v in bindings.variables}
                    value = self.expr_term(el.expr, colmap)
                    bindings = Bindings(
                        bindings.df.withColumn(vcol(el.var.name), value),
                        bindings.variables + [el.var.name],
                        set(bindings.certain),
                    )
            elif isinstance(el, ValuesClause):
                bindings = self.join(bindings, self.compile_values(el))
            elif isinstance(el, SubSelect):
                bindings = self.join(bindings, self.compile_select(el.query))
            elif isinstance(el, ServiceGroup):
                prior = bindings
                if bindings is not None:
                    # sharpen the bound-join harvest exactly like the
                    # closure-path SIP anchors above: group filters whose
                    # vars the prefix CERTAINLY binds restrict the final
                    # solutions anyway, so applying them to the HARVEST
                    # frame (not the main plan — they still run at group
                    # end) is lossless and shrinks the injected VALUES
                    # (r15: a FILTER-restricted anchor set was shipping
                    # the UNfiltered domain to the remote endpoint;
                    # r16 advice: nullable-var and EXISTS filters are NOT
                    # lossless here — _sharpenable refuses them)
                    for expr in deferred:
                        if self._sharpenable(expr, bindings):
                            prior = self.apply_filter(prior, expr)
                bindings = self.join(bindings, self.compile_service(el, prior))
            elif isinstance(el, GraphGroup):
                bindings = self.join(bindings, self.compile_graph_group(el))
            elif isinstance(el, Filter):
                deferred.append(el.expr)
            else:
                raise QueryExecutionError(f"unsupported group element {type(el).__name__}")
        if bindings is None:
            bindings = self.unit()
        for expr in deferred:
            bindings = self.apply_filter(bindings, expr)
        return bindings

    def compile_graph_group(self, el: GraphGroup) -> Bindings:
        """``GRAPH VarOrIri { … }`` (SPARQL §13.3): swap the pattern
        store to the named-graph slice for the inner group.

        - constant IRI: the quad store is pre-filtered to that graph and
          the ``g`` column dropped, so EVERY inner construct — plain
          patterns, property paths, nested operators — runs unchanged
          against the slice (filter + column prune both push into the
          scan);
        - variable: inner pattern scans run against the full quad store
          with the variable bound from ``g`` per scan (set
          ``self.graph_var``); pattern joins then equate the graph name
          across patterns like any shared variable.  No per-graph loop —
          one distributed plan regardless of how many named graphs exist
          (graph-per-document layouts at 100 TB make driver-side graph
          iteration a non-starter).
        """
        named = named_or_empty(self.spark, self.named)
        saved_triples, saved_var = self.triples, self.graph_var
        try:
            if isinstance(el.term, Var):
                self.triples = named
                self.graph_var = el.term.name
            else:
                self.triples = named.filter(
                    F.col("g") == str(el.term)).drop("g")
                self.graph_var = None
            out = self.compile_group(el.group)
        finally:
            self.triples, self.graph_var = saved_triples, saved_var
        if isinstance(el.term, Var) and el.term.name not in out.variables:
            # inner group has no triple pattern (e.g. GRAPH ?g {} or a
            # pure-FILTER body): §13.3 still iterates the named graphs,
            # binding ?g to each distinct graph name
            gname = el.term.name
            graphs = Bindings(
                named.select(iri_term(F.col("g")).alias(vcol(gname))).distinct(),
                [gname], {gname})
            out = self.join(graphs, out)
        return out

    @staticmethod
    def _reorder_for_sip(elements):
        """Within each maximal run of triple patterns (filters are
        group-scoped and already deferred, so they don't break a run),
        move fully-unanchored closure paths (``?x p*/p+ ?y``) after the
        plain patterns.  BGP joins are commutative, so this is
        semantics-preserving — and it means a closure path whose endpoint
        the rest of the BGP binds compiles AFTER those bindings exist,
        enabling the sideways-information-passing anchor harvest."""
        out: list = []
        run_plain: list = []
        run_path: list = []

        def flush() -> None:
            out.extend(run_plain)
            out.extend(run_path)
            run_plain.clear()
            run_path.clear()

        for el in elements:
            if isinstance(el, TriplePattern):
                if (isinstance(el.p, Path) and el.p.op in ("star", "plus")
                        and isinstance(el.s, Var) and isinstance(el.o, Var)):
                    run_path.append(el)
                else:
                    run_plain.append(el)
            elif isinstance(el, Filter):
                run_plain.append(el)
            else:
                flush()
                out.append(el)
        flush()
        return out

    def compile_values(self, values: ValuesClause) -> Bindings:
        names = [v.name for v in values.variables]
        rows = []
        for row in values.rows:
            enc = []
            for term in row:
                if term is None:
                    enc.append(None)
                elif isinstance(term, IRI):
                    enc.append((KIND_IRI, str(term), None, None))
                elif isinstance(term, BNode):
                    enc.append((KIND_BNODE, str(term), None, None))
                else:
                    enc.append((KIND_LIT, term.lex, term.datatype, term.lang))
            rows.append(tuple(enc))
        schema = ", ".join(
            f"{vcol(n)} struct<kind:string,lex:string,dt:string,lang:string>" for n in names
        )
        df = self.spark.createDataFrame(rows, schema)
        certain = {
            n for i, n in enumerate(names) if all(r[i] is not None for r in rows)
        }
        # VALUES tables are tiny by construction — always broadcast
        return Bindings(F.broadcast(df), names, certain)

    # ------------------------------------------------------------------
    # SERVICE federation
    # ------------------------------------------------------------------

    #: bound-join cap: distinct local binding rows injected as ONE
    #: VALUES clause per remote request (POST form-encoding keeps the
    #: request body modest at this size)
    SERVICE_VALUES_CAP = 1000
    #: chunked bound join (FedX-style, r15): between CAP and
    #: CAP × MAX_REQUESTS distinct anchors, split the VALUES injection
    #: into ceil(n/CAP)-sized batches — one request each, results
    #: concatenated (disjoint anchor chunks ⇒ disjoint remote solution
    #: bags, so the union is exact).  Above that, fall back to one
    #: unconstrained fetch (the local join re-applies the restriction).
    #: The ladder bounds BOTH the request count and the driver-side
    #: anchor collect; at DBpedia scale a selective 20k-anchor bound
    #: join stays 20 bounded requests instead of an unbounded-transfer
    #: full-predicate fetch.
    SERVICE_MAX_REQUESTS = 30
    #: adaptive ladder exit: when chunking would cost at least this many
    #: requests, first ask the remote ``SELECT (COUNT(*) …)`` for the
    #: UNconstrained pattern's cardinality (one cheap aggregate — every
    #: SPARQL 1.1 endpoint answers it off an index); if the whole remote
    #: relation is no bigger than the anchor list we would upload,
    #: fetching it outright is strictly less transfer AND fewer requests
    #: (dense-anchor case: the r15 probe measured 15 chunked requests
    #: taking 4.8× one unconstrained fetch when anchors covered the
    #: domain).  The probe is advisory — it runs in its OWN try/except
    #: and ANY failure falls back to the chunked bound join; SILENT
    #: semantics are handled by the main-fetch try, untouched here.
    SERVICE_COUNT_PROBE_MIN_CHUNKS = 4
    #: concurrent chunk fetches (r16): the ladder's batched requests are
    #: independent by construction (disjoint VALUES slices of one frozen
    #: anchor list), so they ride a small bounded thread pool instead of
    #: a sequential loop — ladder wall time drops from sum(round trips)
    #: toward max(round trips) × ceil(chunks / pool).  Kept modest so a
    #: federated query is a polite client (SPARQL endpoints commonly
    #: rate-limit; DBpedia's published fair-use limit is ~50 parallel
    #: connections ACROSS users).  A single-request SERVICE (the common
    #: below-cap shape) never touches the pool.
    SERVICE_FETCH_POOL = 6

    def compile_service(self, el: ServiceGroup, prior: Bindings | None) -> Bindings:
        """SPARQL 1.1 federation (spec §18): ship the group text to the
        remote endpoint as ``SELECT * WHERE { ... }``, decode the JSON
        solution sequence into a bindings relation, and let the caller
        join it with the local plan (shared-variable compatibility —
        exactly the local join semantics).

        Bound-join optimization (FedX-style): when the local prefix
        already binds variables the service group shares, inject the
        distinct binding set as VALUES so the endpoint evaluates only
        the relevant slice — one request up to ``SERVICE_VALUES_CAP``
        rows, then chunked into up to ``SERVICE_MAX_REQUESTS`` batched
        requests whose disjoint solution bags concatenate exactly
        (r15).  The outer join re-applies the restriction locally, so
        skipping the injection (chunk ladder exceeded, or bnode
        bindings — which never transfer across endpoints) cannot
        change the result.  The harvest frame arrives pre-sharpened by
        any group filters the prefix can already evaluate
        (compile_group's ServiceGroup branch).

        The fetch runs at plan-build time on the driver: a remote HTTP
        endpoint is not a distributed scan, and the result schema must be
        known before the join compiles.  Partitioned/pushdown reads of
        large endpoints are the job of sources/sparql_source.py.
        """
        from sparkdon.remote import fetch_bindings

        svars = _group_var_names(el.group)
        injectable = _injectable_vars(el.group)
        values_batches: list[str] = []
        n_anchors = 0
        if prior is not None:
            shared = [v for v in prior.variables
                      if v in injectable and v in prior.certain]
            if shared:
                cap, max_req = self.SERVICE_VALUES_CAP, self.SERVICE_MAX_REQUESTS
                rows = (prior.df
                        .select(*[vcol(v) for v in shared]).distinct()
                        .limit(cap * max_req + 1).collect())
                if not rows:
                    # empty local prefix ⇒ empty join; skip the round-trip
                    return Bindings(
                        self._empty_struct_frame(sorted(svars)),
                        sorted(svars), set(svars))
                n3_rows: list | None = []
                for r in rows:
                    terms = [_struct_to_term(r[vcol(v)]) for v in shared]
                    if any(isinstance(t, BNode) for t in terms):
                        n3_rows = None
                        break
                    n3_rows.append(
                        "(" + " ".join(t.n3() for t in terms) + ")")
                if n3_rows is not None and len(n3_rows) <= cap * max_req:
                    head = " ".join("?" + v for v in shared)
                    n_anchors = len(n3_rows)
                    values_batches = [
                        "VALUES (%s) { %s }\n" % (
                            head, " ".join(n3_rows[i:i + cap]))
                        for i in range(0, len(n3_rows), cap)]
        prologue = "".join(f"PREFIX {p}: <{iri}>\n"
                           for p, iri in sorted(el.prefixes.items()))
        if len(values_batches) >= self.SERVICE_COUNT_PROBE_MIN_CHUNKS:
            try:
                cdoc = fetch_bindings(
                    str(el.endpoint),
                    f"{prologue}SELECT (COUNT(*) AS ?sparkdon_svc_n) "
                    f"WHERE {el.raw}")
                cb = cdoc["results"]["bindings"]
                n_remote = int(cb[0]["sparkdon_svc_n"]["value"]) if cb else 0
                if n_remote <= n_anchors:
                    values_batches = []
            except Exception:
                logger.debug("SERVICE <%s>: COUNT probe failed; keeping "
                             "the chunked bound join", el.endpoint)
        queries = []
        for values in values_batches:
            body = "{\n" + values + el.raw[el.raw.index("{") + 1:]
            queries.append(f"{prologue}SELECT * WHERE {body}")
        if not queries:
            queries = [f"{prologue}SELECT * WHERE {el.raw}"]
        try:
            if len(queries) == 1:
                docs = [fetch_bindings(str(el.endpoint), queries[0])]
            else:
                # r16: chunk fetches are independent (disjoint VALUES
                # slices), so issue them on the bounded pool; results
                # are consumed IN ORDER, keeping the concatenated bag
                # identical to the sequential loop, and the first
                # failing chunk's exception propagates exactly as
                # before (map re-raises at that chunk's position).
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(
                        max_workers=min(self.SERVICE_FETCH_POOL,
                                        len(queries))) as pool:
                    docs = list(pool.map(
                        lambda q: fetch_bindings(str(el.endpoint), q),
                        queries))
            doc = docs[0]
            for d in docs[1:]:
                # disjoint anchor chunks ⇒ disjoint solution bags: the
                # concatenation is the exact bag union.  Heads are
                # identical by construction (same SELECT * body, only
                # the VALUES rows differ) — union defensively anyway.
                for v in d.get("head", {}).get("vars", []):
                    if v not in doc.setdefault("head", {}).setdefault("vars", []):
                        doc["head"]["vars"].append(v)
                doc.setdefault("results", {}).setdefault("bindings", []).extend(
                    d.get("results", {}).get("bindings", []))
        except Exception as exc:
            if el.silent:
                # spec: SILENT failure yields the unit solution sequence
                logger.debug("SERVICE SILENT <%s>: fetch failed: %r",
                             el.endpoint, exc)
                return self.unit()
            raise
        try:
            return self._service_bindings(doc)
        except (TypeError, KeyError, AttributeError, ValueError) as exc:
            # Only document-SHAPE errors (bad JSON structure, missing
            # head/results keys) count as a failed service execution that
            # SILENT degrades to the unit solution (spec §18.3.1).  A
            # driver-side defect while materializing the frame (e.g. a
            # Spark createDataFrame error) raises other types and must
            # surface, SILENT or not — local bugs are not remote failures.
            if el.silent:
                logger.debug("SERVICE SILENT <%s>: malformed results "
                             "document: %r", el.endpoint, exc)
                return self.unit()
            raise QueryExecutionError(
                f"SERVICE <{el.endpoint}> returned a malformed results "
                f"document: {type(exc).__name__}: {exc}") from exc

    def _empty_struct_frame(self, names: list[str]) -> DataFrame:
        schema = ", ".join(
            f"{vcol(n)} struct<kind:string,lex:string,dt:string,lang:string>"
            for n in names)
        return self.spark.createDataFrame([], schema)

    def _service_bindings(self, doc: dict) -> Bindings:
        names = list(doc.get("head", {}).get("vars", []))
        rows = doc.get("results", {}).get("bindings", [])
        if not names:
            # all-constant service pattern: solutions carry no bindings
            u = self.unit()
            return u if rows else Bindings(u.df.limit(0), [], set())
        scope = getattr(self, "_svc_scope", 0) + 1
        self._svc_scope = scope
        bound_everywhere = set(names)
        data = []
        for b in rows:
            rec = []
            for v in names:
                node = b.get(v)
                if node is None:
                    bound_everywhere.discard(v)
                    rec.append(None)
                elif node.get("type") == "uri":
                    rec.append((KIND_IRI, node["value"], None, None))
                elif node.get("type") == "bnode":
                    # per-SERVICE fresh scope: remote bnodes never equal
                    # local ones (or another SERVICE's)
                    rec.append((KIND_BNODE, f"svc{scope}_{node['value']}",
                                None, None))
                else:  # 'literal' / 'typed-literal'
                    rec.append((KIND_LIT, node["value"],
                                node.get("datatype"), node.get("xml:lang")))
            data.append(tuple(rec))
        schema = ", ".join(
            f"{vcol(n)} struct<kind:string,lex:string,dt:string,lang:string>"
            for n in names)
        return Bindings(self.spark.createDataFrame(data, schema),
                        names, bound_everywhere)

    def apply_filter(self, bindings: Bindings, expr: Expr) -> Bindings:
        if (isinstance(expr, OpExpr) and expr.op == "&&"
                and self._contains_exists(expr)):
            # FILTER(a && b) ≡ FILTER(a) . FILTER(b) under SPARQL's
            # filter semantics (§17.2 ternary logic: the row survives
            # iff the whole conjunction EBVs to true, and any conjunct
            # evaluating false OR error makes the conjunction
            # false-or-error — dropped either way), so a conjunction
            # carrying EXISTS splits into sequential filters and each
            # EXISTS branch gets its own semi/anti join (r16 —
            # previously `?x > 3 && EXISTS {…}` raised).  Only
            # EXISTS-carrying conjunctions split — plain boolean
            # filters keep their single-predicate plan; EXISTS under
            # ||/!/IF takes the flag-column path below (the split is
            # only sound for conjunctions).
            for a in expr.args:
                bindings = self.apply_filter(bindings, a)
            return bindings
        if not isinstance(expr, ExistsExpr) and self._contains_exists(expr):
            # EXISTS in a non-conjunctive position (||, !, IF, COALESCE
            # …, §17.4.1.4 treats EXISTS as an ordinary expression):
            # no Spark predicate can host the subquery and no split
            # applies, so materialize each EXISTS branch as a BOOLEAN
            # FLAG column and evaluate the expression over the flags
            # (r16).  See _filter_with_exists_flags for the row-identity
            # discipline this needs.
            return self._filter_with_exists_flags(bindings, expr)
        if isinstance(expr, ExistsExpr):
            inner = self.compile_group(expr.group)
            how = "left_anti" if expr.negated else "left_semi"
            shared = [v for v in bindings.variables if v in inner.variables]
            if not shared:
                # uncorrelated EXISTS: keep all or none depending on emptiness
                nonempty = inner.df.limit(1).count() > 0
                keep = nonempty if not expr.negated else not nonempty
                return bindings if keep else Bindings(
                    bindings.df.filter(F.lit(False)), bindings.variables, bindings.certain
                )
            return self.join(bindings, inner, how=how)
        colmap = {v: bindings.col(v) for v in bindings.variables}
        cond = self.expr_bool(expr, colmap)
        return Bindings(bindings.df.filter(cond), bindings.variables, bindings.certain)

    @staticmethod
    def _collect_exists(expr: Expr, out: list) -> None:
        """Append every ExistsExpr node in ``expr`` to ``out`` (document
        order; does not descend INTO an EXISTS group — nested EXISTS
        inside the group compiles with the group itself)."""
        if isinstance(expr, ExistsExpr):
            out.append(expr)
            return
        if isinstance(expr, (OpExpr, FuncExpr)):
            for a in (expr.args or ()):
                Compiler._collect_exists(a, out)
        elif isinstance(expr, InExpr):
            Compiler._collect_exists(expr.value, out)
            for o in expr.options:
                Compiler._collect_exists(o, out)
        elif isinstance(expr, AggExpr) and expr.arg is not None:
            Compiler._collect_exists(expr.arg, out)

    def _filter_with_exists_flags(self, bindings: Bindings,
                                  expr: Expr) -> Bindings:
        """FILTER over an expression with EXISTS in a non-conjunctive
        position: evaluate each EXISTS branch as a boolean flag column,
        then filter on the whole expression with the flags substituted.

        Row identity: the flag is "this ROW has a compatible inner
        solution", and value-identical bag duplicates share it — but the
        semi-join that computes survivors must report back to exactly
        the rows it kept, so the frame is tagged with
        ``monotonically_increasing_id`` and ``localCheckpoint``-ed
        FIRST (ids are partition-dependent; materializing pins them so
        both the flag branch and the final filter see the same ids —
        the same discipline as clusters.py's iteration frames).  Each
        flag then joins back on the unique id (no fan-out).  EXISTS
        never errors (§17.4.1.4), so true/false flags are exact."""
        cur, helper_cols, flag_cols = self._exists_flag_frame(bindings, [expr])
        colmap = {v: cur[vcol(v)] for v in bindings.variables}
        prev = self._exists_flags
        self._exists_flags = {k: cur[c] for k, c in flag_cols.items()}
        try:
            cond = self.expr_bool(expr, colmap)
        finally:
            self._exists_flags = prev
        out = cur.filter(cond).drop(*helper_cols)
        return Bindings(out, bindings.variables, bindings.certain)

    def _exists_flag_frame(self, bindings: Bindings, exprs: list[Expr]):
        """(frame, helper column names, id(node)→flag column name) for
        every EXISTS node across ``exprs`` — the shared flag machinery
        for EXISTS in arbitrary expression positions (FILTER ||/!/IF,
        BIND, SELECT expressions).  The frame carries ``_rid`` plus one
        boolean ``_exN`` per EXISTS; callers compile their expressions
        with ``self._exists_flags`` pointing at the flag columns and
        drop the helper columns from their result."""
        cur = (bindings.df.withColumn("_rid", F.monotonically_increasing_id())
               .localCheckpoint())
        nodes: list = []
        for e in exprs:
            self._collect_exists(e, nodes)
        flag_cols: dict[int, str] = {}
        for i, node in enumerate(nodes):
            # compute the POSITIVE membership; negation folds into the
            # flag expression at compile time
            pos = ExistsExpr(node.group, negated=False)
            surv = self.apply_filter(
                Bindings(cur, bindings.variables, bindings.certain), pos)
            flags = (surv.df.select("_rid").distinct()
                     .withColumn(f"_ex{i}", F.lit(True)))
            cur = cur.join(flags, "_rid", "left").withColumn(
                f"_ex{i}", F.coalesce(F.col(f"_ex{i}"), F.lit(False)))
            flag_cols[id(node)] = f"_ex{i}"
        return cur, ["_rid", *flag_cols.values()], flag_cols

    # ------------------------------------------------------------------
    # expressions — value model: ('term'|'num'|'str'|'bool', Column[, hint])
    # ------------------------------------------------------------------

    def compile_expr(self, expr: Expr, colmap: dict[str, Column]):
        if isinstance(expr, TermExpr):
            t = expr.term
            if isinstance(t, Var):
                if t.name not in colmap:
                    return ("term", F.lit(None).cast(
                        "struct<kind:string,lex:string,dt:string,lang:string>"))
                return ("term", colmap[t.name])
            if isinstance(t, Literal) and t.datatype in NUMERIC_DATATYPES:
                if t.datatype == XSD + "integer":
                    return ("num", F.lit(int(t.lex)).cast("double"), "integer")
                return ("num", F.lit(float(t.lex)))
            return ("term", term_to_struct(t))
        if isinstance(expr, OpExpr):
            return self.compile_op(expr, colmap)
        if isinstance(expr, InExpr):
            val = self.compile_expr(expr.value, colmap)
            conds = [self.eq_cond(val, self.compile_expr(o, colmap)) for o in expr.options]
            out = F.lit(False)
            for c in conds:
                out = out | c
            if expr.negated:
                out = ~out
            return ("bool", out)
        if isinstance(expr, FuncExpr):
            return self.compile_func(expr, colmap)
        if isinstance(expr, AggExpr):
            raise QueryExecutionError("aggregate used outside aggregation context")
        if isinstance(expr, ExistsExpr):
            flag = self._exists_flags.get(id(expr))
            if flag is not None:
                # pre-computed by _filter_with_exists_flags (FILTER
                # context); EXISTS never errors, so the bool is exact
                return ("bool", ~flag if expr.negated else flag)
            raise QueryExecutionError(
                "EXISTS is supported in FILTER (any position), BIND, "
                "and non-aggregate SELECT/ORDER BY expressions; not in "
                "aggregate-query projections, GROUP BY, or HAVING")
        raise QueryExecutionError(f"unsupported expression {type(expr).__name__}")

    # coercions ---------------------------------------------------------

    def as_num(self, val) -> Column:
        kind, col = val[0], val[1]
        if kind == "num":
            return col
        if kind == "term":
            return numeric_value(col)
        if kind == "str":
            return col.cast("double")
        if kind == "bool":
            return col.cast("double")
        raise QueryExecutionError(f"cannot coerce {kind} to number")

    def as_str(self, val) -> Column:
        kind, col = val[0], val[1]
        if kind == "str":
            return col
        if kind == "term":
            return col["lex"]
        if kind == "num":
            # strip trailing .0 for whole numbers (SPARQL STR of integers)
            s = col.cast("string")
            return F.regexp_replace(s, r"\.0$", "")
        if kind == "bool":
            return F.when(col, "true").otherwise("false")
        raise QueryExecutionError(f"cannot coerce {kind} to string")

    def as_bool(self, val) -> Column:
        kind, col = val[0], val[1]
        if kind == "bool":
            return col
        if kind == "num":
            return col.isNotNull() & (col != 0)
        if kind == "str":
            return col.isNotNull() & (F.length(col) > 0)
        # term: SPARQL effective boolean value
        num = numeric_value(col)
        return (
            F.when(col.isNull(), F.lit(False))
            .when(col["dt"] == XSD + "boolean", col["lex"] == "true")
            .when(num.isNotNull(), num != 0)
            .when(
                (col["kind"] == KIND_LIT) & col["dt"].isNull() & col["lang"].isNull()
                | (col["dt"] == XSD + "string"),
                F.length(col["lex"]) > 0,
            )
            .otherwise(F.lit(False))
        )

    def as_term(self, val) -> Column:
        kind, col = val[0], val[1]
        if kind == "term":
            return col
        if kind == "num":
            hint = val[2] if len(val) > 2 else "double"
            if hint == "integer":
                return lit_term(col.cast("long").cast("string"), XSD + "integer")
            lex = F.regexp_replace(col.cast("string"), r"\.0$", "")
            return lit_term(lex, XSD + "double")
        if kind == "str":
            return lit_term(col)
        if kind == "bool":
            return lit_term(F.when(col, "true").otherwise("false"), XSD + "boolean")
        raise QueryExecutionError(f"cannot convert {kind} to term")

    def eq_cond(self, a, b) -> Column:
        """SPARQL '=': numeric by value when both numeric, else term identity."""
        na, nb = self.as_num(a), self.as_num(b)
        if a[0] == "term" and b[0] == "term":
            return F.when(na.isNotNull() & nb.isNotNull(), na == nb).otherwise(
                a[1].eqNullSafe(b[1]) & a[1].isNotNull()
            )
        if a[0] == "term" or b[0] == "term":
            t, o = (a, b) if a[0] == "term" else (b, a)
            if o[0] == "num":
                return self.as_num(t).eqNullSafe(self.as_num(o)) & self.as_num(t).isNotNull()
            if o[0] == "str":
                # plain-literal comparison: lexical match on simple literals
                return (
                    (t[1]["kind"] == KIND_LIT)
                    & t[1]["lang"].isNull()
                    & (t[1]["dt"].isNull() | (t[1]["dt"] == XSD + "string"))
                    & (t[1]["lex"] == o[1])
                )
            if o[0] == "bool":
                return self.as_bool(t) == o[1]
        if a[0] == "num" or b[0] == "num":
            return na.eqNullSafe(nb) & na.isNotNull()
        return self.as_str(a) == self.as_str(b)

    @staticmethod
    def _stringish(val) -> Column:
        """True when the value is string-comparable (plain/xsd:string/
        lang-tagged literal, or an expression already of string kind)."""
        kind, col = val[0], val[1]
        if kind == "str":
            return F.lit(True)
        if kind in ("num", "bool"):
            return F.lit(False)
        return (col["kind"] == KIND_LIT) & (
            col["dt"].isNull() | (col["dt"] == XSD + "string"))

    @staticmethod
    def _temporalish(val) -> Column:
        kind, col = val[0], val[1]
        if kind != "term":
            return F.lit(False)
        return col["dt"].isin(XSD + "dateTime", XSD + "date")

    def compile_op(self, expr: OpExpr, colmap):
        op = expr.op
        if op in ("||", "&&"):
            a = self.as_bool(self.compile_expr(expr.args[0], colmap))
            b = self.as_bool(self.compile_expr(expr.args[1], colmap))
            return ("bool", (a | b) if op == "||" else (a & b))
        if op == "!":
            return ("bool", ~self.as_bool(self.compile_expr(expr.args[0], colmap)))
        if op == "neg":
            return ("num", -self.as_num(self.compile_expr(expr.args[0], colmap)))
        a = self.compile_expr(expr.args[0], colmap)
        b = self.compile_expr(expr.args[1], colmap)
        if op in ("=", "!="):
            c = self.eq_cond(a, b)
            return ("bool", ~c if op == "!=" else c)
        if op in ("<", ">", "<=", ">="):
            # SPARQL operator typing: numeric vs numeric by value, string vs
            # string lexically, dateTime vs dateTime chronologically (ISO
            # lexforms sort correctly); any other combination is a type
            # error → NULL → the FILTER drops the row.
            na, nb = self.as_num(a), self.as_num(b)
            sa, sb = self.as_str(a), self.as_str(b)
            num_cmp = {"<": na < nb, ">": na > nb, "<=": na <= nb, ">=": na >= nb}[op]
            str_cmp = {"<": sa < sb, ">": sa > sb, "<=": sa <= sb, ">=": sa >= sb}[op]
            str_ok = self._stringish(a) & self._stringish(b)
            temp_ok = self._temporalish(a) & self._temporalish(b)
            return ("bool",
                    F.when(na.isNotNull() & nb.isNotNull(), num_cmp)
                    .when(str_ok | temp_ok, str_cmp)
                    .otherwise(F.lit(None).cast("boolean")))
        if op in ("+", "-", "*", "/"):
            na, nb = self.as_num(a), self.as_num(b)
            col = {"+": na + nb, "-": na - nb, "*": na * nb, "/": na / nb}[op]
            hints = {v[2] if len(v) > 2 else None for v in (a, b)}
            if hints == {"integer"} and op != "/":
                return ("num", col, "integer")
            return ("num", col)
        raise QueryExecutionError(f"unsupported operator {op}")

    def compile_func(self, expr: FuncExpr, colmap):
        name = expr.name
        args = [self.compile_expr(a, colmap) for a in expr.args]
        if name == "STR":
            return ("str", self.as_str(args[0]))
        if name == "LANG":
            t = args[0][1]
            return ("str", F.coalesce(t["lang"], F.lit("")))
        if name == "DATATYPE":
            t = args[0][1]
            return ("term", iri_term(F.coalesce(t["dt"], F.lit(XSD + "string"))))
        if name == "BOUND":
            return ("bool", args[0][1].isNotNull())
        if name in ("ISIRI", "ISURI"):
            return ("bool", args[0][1]["kind"] == KIND_IRI)
        if name == "ISBLANK":
            return ("bool", args[0][1]["kind"] == KIND_BNODE)
        if name == "ISLITERAL":
            return ("bool", args[0][1]["kind"] == KIND_LIT)
        if name == "ISNUMERIC":
            return ("bool", self.as_num(args[0]).isNotNull())
        if name == "SAMETERM":
            return ("bool", args[0][1].eqNullSafe(args[1][1]))
        if name in ("IRI", "URI"):
            return ("term", iri_term(self.as_str(args[0])))
        if name == "STRSTARTS":
            return ("bool", self.as_str(args[0]).startswith(self.as_str(args[1])))
        if name == "STRENDS":
            return ("bool", self.as_str(args[0]).endswith(self.as_str(args[1])))
        if name == "CONTAINS":
            return ("bool", self.as_str(args[0]).contains(self.as_str(args[1])))
        if name == "STRBEFORE":
            s, t = self.as_str(args[0]), self.as_str(args[1])
            # F.position/Column.substr accept Column args (F.instr's needle
            # and substring_index's delimiter must be Python strings)
            pos = F.position(t, s)
            return ("str", F.when(pos > 0, s.substr(F.lit(1), pos - 1))
                    .otherwise(F.lit("")))
        if name == "STRAFTER":
            s, t = self.as_str(args[0]), self.as_str(args[1])
            pos = F.position(t, s)
            return ("str", F.when(pos > 0, s.substr(pos + F.length(t), F.lit(2 ** 30)))
                    .otherwise(F.lit("")))
        if name == "SUBSTR":
            s = self.as_str(args[0])
            pos = self.as_num(args[1]).cast("int")
            if len(args) > 2:
                return ("str", s.substr(pos, self.as_num(args[2]).cast("int")))
            return ("str", s.substr(pos, F.lit(2 ** 30)))
        if name == "STRLEN":
            return ("num", F.length(self.as_str(args[0])).cast("double"), "integer")
        if name == "UCASE":
            return ("str", F.upper(self.as_str(args[0])))
        if name == "LCASE":
            return ("str", F.lower(self.as_str(args[0])))
        if name == "CONCAT":
            return ("str", F.concat(*[self.as_str(a) for a in args]))
        if name == "REPLACE":
            return ("str", F.regexp_replace(self.as_str(args[0]), self.as_str(args[1]),
                                            self.as_str(args[2])))
        if name == "REGEX":
            s = self.as_str(args[0])
            pat = self.as_str(args[1])
            if len(args) > 2:
                pat = F.concat(F.lit("(?"), self.as_str(args[2]), F.lit(")"), pat)
            return ("bool", F.regexp_like(s, pat))
        if name == "LANGMATCHES":
            lang = self.as_str(args[0])
            rng = self.as_str(args[1])
            return ("bool", F.when(rng == "*", lang != "")
                    .otherwise(F.lower(lang) == F.lower(rng)))
        if name == "ABS":
            return ("num", F.abs(self.as_num(args[0])))
        if name == "CEIL":
            return ("num", F.ceil(self.as_num(args[0])).cast("double"), "integer")
        if name == "FLOOR":
            return ("num", F.floor(self.as_num(args[0])).cast("double"), "integer")
        if name == "ROUND":
            return ("num", F.round(self.as_num(args[0]), 0))
        if name == "YEAR":
            return ("num", F.year(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "MONTH":
            return ("num", F.month(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "DAY":
            return ("num", F.dayofmonth(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "COALESCE":
            return ("term", F.coalesce(*[self.as_term(a) for a in args]))
        if name == "IF":
            return ("term", F.when(self.as_bool(args[0]), self.as_term(args[1]))
                    .otherwise(self.as_term(args[2])))
        if name == "STRLANG":
            return ("term", lit_term(self.as_str(args[0]), lang=self.as_str(args[1])))
        if name == "STRDT":
            return ("term", lit_term(self.as_str(args[0]), dt=self.as_str(args[1])))
        if name == "HOURS":
            return ("num", F.hour(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "MINUTES":
            return ("num", F.minute(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "SECONDS":
            return ("num", F.second(F.try_to_timestamp(self.as_str(args[0]))).cast("double"), "integer")
        if name == "NOW":
            # one timestamp per query (Spark folds current_timestamp to a
            # single value per execution — the SPARQL requirement)
            return ("term", lit_term(
                F.date_format(F.current_timestamp(),
                              "yyyy-MM-dd'T'HH:mm:ss.SSS"),
                dt=XSD + "dateTime"))
        if name == "UUID":
            return ("term", iri_term(F.concat(F.lit("urn:uuid:"), F.expr("uuid()"))))
        if name == "STRUUID":
            return ("str", F.expr("uuid()"))
        if name == "RAND":
            return ("num", F.rand())
        if name == "BNODE" and not args:
            return ("term", make_term(KIND_BNODE, F.expr("uuid()")))
        if name == "TZ":
            # timezone designator of the LEXICAL form ('' when absent,
            # 'Z' for Zulu — spec §17.4.5.9)
            return ("str", F.regexp_extract(
                self.as_str(args[0]), r"(Z|[+-]\d{2}:\d{2})$", 1))
        if name == "TIMEZONE":
            # xsd:dayTimeDuration of the timezone designator; no
            # designator → type error → unbound (spec §17.4.5.8)
            tz = F.regexp_extract(self.as_str(args[0]), r"(Z|[+-]\d{2}:\d{2})$", 1)
            h = F.substring(tz, 2, 2).try_cast("int")
            m = F.substring(tz, 5, 2).try_cast("int")
            dur = F.when((tz == "Z") | ((h == 0) & (m == 0)), F.lit("PT0S")) \
                .when(tz != "", F.concat(
                    F.when(tz.startswith("-"), F.lit("-")).otherwise(F.lit("")),
                    F.lit("PT"),
                    F.when(h > 0, F.concat(h.cast("string"), F.lit("H"))).otherwise(F.lit("")),
                    F.when(m > 0, F.concat(m.cast("string"), F.lit("M"))).otherwise(F.lit(""))))
            return ("term", F.when(dur.isNotNull(),
                                   lit_term(dur, dt=XSD + "dayTimeDuration")))
        if name == "ENCODE_FOR_URI":
            # percent-encode everything outside RFC 3986 unreserved
            # (url_encode is form-encoding: '+' for space, '*' raw, '~'
            # escaped — patch the three divergences)
            enc = F.url_encode(self.as_str(args[0]))
            enc = F.replace(enc, F.lit("+"), F.lit("%20"))
            enc = F.replace(enc, F.lit("%7E"), F.lit("~"))
            enc = F.replace(enc, F.lit("*"), F.lit("%2A"))
            return ("str", enc)
        if name == "MD5":
            return ("str", F.md5(self.as_str(args[0]).cast("binary")))
        if name == "SHA1":
            return ("str", F.sha1(self.as_str(args[0]).cast("binary")))
        if name == "SHA256":
            return ("str", F.sha2(self.as_str(args[0]).cast("binary"), 256))
        if name == "SHA384":
            return ("str", F.sha2(self.as_str(args[0]).cast("binary"), 384))
        if name == "SHA512":
            return ("str", F.sha2(self.as_str(args[0]).cast("binary"), 512))
        # datatype-cast function: name is a datatype IRI (xsd:integer(...) etc.)
        if name.startswith(XSD):
            local = name[len(XSD):]
            s = self.as_str(args[0])
            if local in ("integer", "long", "int", "short", "byte"):
                n = F.coalesce(s.cast("long"), s.cast("double").cast("long"))
                return ("num", n.cast("double"), "integer")
            if local in ("double", "float", "decimal"):
                return ("num", s.cast("double"))
            if local == "boolean":
                return ("bool", s.isin("true", "1"))
            if local == "string":
                return ("str", s)
            if local in ("dateTime", "date"):
                return ("term", lit_term(s, XSD + local))
        raise QueryExecutionError(f"unsupported function {name}")

    def expr_term(self, expr: Expr, colmap) -> Column:
        return self.as_term(self.compile_expr(expr, colmap))

    def expr_bool(self, expr: Expr, colmap) -> Column:
        return self.as_bool(self.compile_expr(expr, colmap))

    # ------------------------------------------------------------------
    # SELECT
    # ------------------------------------------------------------------

    def compile_select(self, q: SelectQuery) -> Bindings:
        is_top = False
        if self.use_ids and not self._analyzed:
            self._analyzed = True
            is_top = True
            self.id_only, self.late = self._analyze_id_vars(q)
        bindings = self.compile_group(q.where)
        has_agg = bool(q.group_by) or any(
            self._contains_agg(e) for e, _ in q.projections
        ) or bool(q.having)
        defer = frozenset()
        if is_top and self.late:
            if has_agg:
                # late vars whose values never feed an aggregate argument
                # or computed group key can stay ids THROUGH the group-by
                # shuffle — _aggregate decodes them on the collapsed
                # (#groups-sized) frame instead of the full pre-agg frame
                defer = self.late - self._agg_value_vars(q)
            bindings = self._decode_late(bindings, exclude=defer)
        n_hidden = 0
        if has_agg:
            bindings = self._aggregate(q, bindings, defer_decode=defer)
        else:
            if q.projections:
                ex_bearing = [e for e, _a in q.projections
                              if not isinstance(e, Var)
                              and self._contains_exists(e)]
                ex_bearing += [e for e, _d in (q.order_by or [])
                               if self._contains_exists(e)]
                prev_flags = self._exists_flags
                if ex_bearing:
                    # SELECT (… EXISTS {…} … AS ?x) / ORDER BY with
                    # EXISTS (r16): precompute per-row flags; the final
                    # projection select() lists its columns explicitly,
                    # so the helper columns fall away without a drop
                    cur, _helper, fmap = self._exists_flag_frame(
                        bindings, ex_bearing)
                    bindings = Bindings(cur, bindings.variables,
                                        bindings.certain)
                    self._exists_flags = {k: cur[c]
                                          for k, c in fmap.items()}
                colmap = {v: bindings.col(v) for v in bindings.variables}
                sel, names = [], []
                ext_colmap = dict(colmap)
                for e, alias in q.projections:
                    if isinstance(e, Var):
                        name = alias.name if alias else e.name
                        col = colmap.get(e.name, F.lit(None).cast(
                            "struct<kind:string,lex:string,dt:string,lang:string>"))
                    else:
                        name = alias.name
                        col = self.expr_term(e, colmap)
                    sel.append(col.alias(vcol(name)))
                    names.append(name)
                    # SELECT aliases are in scope for ORDER BY
                    ext_colmap.setdefault(name, col)
                hidden = []
                if q.order_by:
                    # SPARQL evaluates ORDER BY before projection, over all
                    # in-scope variables — carry the sort keys as hidden
                    # columns through the projection, drop them after the
                    # sort (spec §18.5: Order then Project).
                    for i, (e, _d) in enumerate(q.order_by):
                        val = self.compile_expr(e, ext_colmap)
                        key = sort_key(self.as_term(val)) if val[0] == "term" else val[1]
                        hidden.append(key.alias(f"__ord{i}"))
                    n_hidden = len(hidden)
                certain = {
                    (a.name if a else e.name)
                    for e, a in q.projections
                    if isinstance(e, Var) and e.name in bindings.certain
                }
                bindings = Bindings(bindings.df.select(*sel, *hidden), names, certain)
                self._exists_flags = prev_flags
        if q.distinct:
            if n_hidden:
                # dedup on the projected columns only; take the MIN of each
                # hidden sort key per distinct row so the carried key (and
                # hence the final order among duplicates-with-different-keys)
                # is deterministic across runs, not an arbitrary survivor
                df = bindings.df.groupBy(
                    *[vcol(n) for n in bindings.variables]
                ).agg(*[F.min(f"__ord{i}").alias(f"__ord{i}")
                        for i in range(n_hidden)])
            else:
                df = bindings.df.dropDuplicates()
            bindings = Bindings(df, bindings.variables, bindings.certain)
        if q.order_by and not has_agg:  # agg path orders inside _aggregate
            df = bindings.df
            if n_hidden:
                keys = [
                    df[f"__ord{i}"].desc() if d == "desc" else df[f"__ord{i}"].asc()
                    for i, (_e, d) in enumerate(q.order_by)
                ]
                df = df.orderBy(*keys).select(*[vcol(n) for n in bindings.variables])
            else:
                ex_bearing = [e for e, _d in q.order_by
                              if self._contains_exists(e)]
                prev_flags = self._exists_flags
                helper: list[str] = []
                if ex_bearing:
                    # SELECT * … ORDER BY EXISTS {…} (r16): the
                    # projectionless sort path gets the same flag
                    # treatment as projections
                    df, helper, fmap = self._exists_flag_frame(
                        bindings, ex_bearing)
                    bindings = Bindings(df, bindings.variables,
                                        bindings.certain)
                    self._exists_flags = {k: df[c] for k, c in fmap.items()}
                colmap = {v: bindings.col(v) for v in bindings.variables}
                keys = []
                try:
                    for e, direction in q.order_by:
                        val = self.compile_expr(e, colmap)
                        key = sort_key(self.as_term(val)) if val[0] == "term" else val[1]
                        keys.append(key.desc() if direction == "desc" else key.asc())
                finally:
                    self._exists_flags = prev_flags
                df = bindings.df.orderBy(*keys)
                if helper:
                    df = df.drop(*helper)
            bindings = Bindings(df, bindings.variables, bindings.certain)
        if q.offset:
            bindings = Bindings(bindings.df.offset(q.offset), bindings.variables,
                                bindings.certain)
        if q.limit is not None:
            bindings = Bindings(bindings.df.limit(q.limit), bindings.variables,
                                bindings.certain)
        return bindings

    def _agg_value_vars(self, q: SelectQuery) -> frozenset[str]:
        """Vars whose VALUES are consumed during aggregate computation —
        aggregate arguments (minus the bare-var COUNT, which only needs
        id equality) and computed GROUP BY keys.  These must be decoded
        before the group-by; every other late var defers to after it."""
        need: set[str] = set()

        def vars_in(e) -> None:
            if isinstance(e, TermExpr):
                if isinstance(e.term, Var):
                    need.add(e.term.name)
            elif isinstance(e, (OpExpr, FuncExpr)):
                for a in e.args:
                    vars_in(a)
            elif isinstance(e, InExpr):
                vars_in(e.value)
                for o in e.options:
                    vars_in(o)
            elif isinstance(e, AggExpr):
                if e.arg is not None:
                    vars_in(e.arg)

        def find_aggs(e) -> None:
            if isinstance(e, AggExpr):
                if e.arg is not None and not (
                        e.name == "COUNT" and isinstance(e.arg, TermExpr)
                        and isinstance(e.arg.term, Var)):
                    vars_in(e.arg)
            elif isinstance(e, (OpExpr, FuncExpr)):
                for a in e.args:
                    find_aggs(a)
            elif isinstance(e, InExpr):
                find_aggs(e.value)
                for o in e.options:
                    find_aggs(o)

        for e, _a in q.projections:
            if not isinstance(e, Var):
                find_aggs(e)
        for h in q.having:
            find_aggs(h)
        for e, _d in q.order_by:
            find_aggs(e)
        for g in q.group_by:
            if isinstance(g, tuple):
                vars_in(g[0])
            elif not (isinstance(g, TermExpr) and isinstance(g.term, Var)):
                vars_in(g)
        return frozenset(need)

    def _decode_late(self, bindings: Bindings,
                     only: frozenset[str] | None = None,
                     exclude: frozenset[str] = frozenset()) -> Bindings:
        """Rematerialize late-encoded vars: left-join each one's 8-byte id
        against the union of the (filtered) pattern scans that bind it,
        deduped by id.  Runs ONCE, after the whole WHERE evaluation —
        the probe side is the already-joined (small) result, so AQE
        turns this into a broadcast of the result against a map-side
        scan of the decode relation at scale.  Null ids (OPTIONAL
        unbound) stay null structs through the left join."""
        df = bindings.df
        pick = self.late if only is None else only
        for v in bindings.variables:
            if v not in pick or v in exclude:
                continue
            srcs = self._decode_src.get(v)
            if not srcs:  # defensive: late var never hit a plain pattern
                continue
            dec = srcs[0]
            for s in srcs[1:]:
                dec = dec.unionByName(s)
            tid, term = f"__tid_{vcol(v)}", f"__term_{vcol(v)}"
            dec = dec.dropDuplicates(["__tid"]).select(
                F.col("__tid").alias(tid), F.col("__term").alias(term))
            df = (df.join(dec, df[vcol(v)] == dec[tid], "left")
                    .drop(vcol(v), tid)
                    .withColumnRenamed(term, vcol(v)))
        return Bindings(df, bindings.variables, bindings.certain)

    @staticmethod
    def _contains_agg(e) -> bool:
        if isinstance(e, AggExpr):
            return True
        if isinstance(e, OpExpr):
            return any(Compiler._contains_agg(a) for a in e.args)
        if isinstance(e, FuncExpr):
            return any(Compiler._contains_agg(a) for a in e.args)
        return False

    def _aggregate(self, q: SelectQuery, bindings: Bindings,
                   defer_decode: frozenset[str] = frozenset()) -> Bindings:
        """GROUP BY + aggregates.  Aggregate results are encoded straight
        back into term structs (COUNT → xsd:integer literal, SUM/AVG →
        value-typed numeric literal), so post-aggregation expressions
        (HAVING, ORDER BY, projected arithmetic) run through the ordinary
        expression compiler over the aggregated frame — the numeric path
        recovers the values via ``numeric_value`` and Catalyst folds the
        whole thing into the final hash-aggregate projection."""
        colmap = {v: bindings.col(v) for v in bindings.variables}
        key_cols, key_names = [], []
        for g in q.group_by:
            if isinstance(g, tuple):  # (expr AS ?v)
                e, v = g
                key_cols.append(self.expr_term(e, colmap).alias(vcol(v.name)))
                key_names.append(v.name)
            elif isinstance(g, TermExpr) and isinstance(g.term, Var):
                key_cols.append(bindings.col(g.term.name).alias(vcol(g.term.name)))
                key_names.append(g.term.name)
            else:
                name = f"gk{next(self._uid)}"
                key_cols.append(self.expr_term(g, colmap).alias(vcol(name)))
                key_names.append(name)

        agg_cols: list[Column] = []

        def agg_column(agg: AggExpr) -> Column:
            """One aggregate → a term-struct Column."""
            if agg.name == "COUNT":
                if agg.arg is None:
                    c = F.count(F.lit(1))
                elif (isinstance(agg.arg, TermExpr)
                        and isinstance(agg.arg.term, Var)
                        and (agg.arg.term.name in self.id_only
                             or agg.arg.term.name in defer_decode)):
                    # id-encoded var: count/distinct over the 8-byte id
                    # column (null ⇔ unbound, id equality ⇔ term equality)
                    idc = colmap[agg.arg.term.name]
                    c = F.count_distinct(idc) if agg.distinct else F.count(idc)
                else:
                    val = self.as_term(self.compile_expr(agg.arg, colmap))
                    c = F.count_distinct(val) if agg.distinct else F.count(val)
                return make_term(KIND_LIT, c.cast("string"), F.lit(XSD + "integer"))
            val = self.compile_expr(agg.arg, colmap)
            if agg.name in ("SUM", "AVG"):
                num = self.as_num(val)
                if agg.name == "SUM":
                    num = F.sum_distinct(num) if agg.distinct else F.sum(num)
                elif agg.distinct:
                    # AVG(DISTINCT ?x) — no distinct-aware avg builtin
                    num = F.sum_distinct(num) / F.count_distinct(num)
                else:
                    num = F.avg(num)
                lex = F.regexp_replace(num.cast("string"), r"\.0$", "")
                return make_term(KIND_LIT, lex, F.lit(XSD + "double"))
            if agg.name in ("MIN", "MAX"):
                term = self.as_term(val)
                fn = F.min_by if agg.name == "MIN" else F.max_by
                return fn(term, sort_key(term))
            if agg.name == "SAMPLE":
                return F.first(self.as_term(val), ignorenulls=True)
            if agg.name == "GROUP_CONCAT":
                # SPARQL leaves element order unspecified; sort the
                # collected strings so results are deterministic (and
                # therefore oracle-checkable)
                sep = agg.separator if agg.separator is not None else " "
                coll = (F.collect_set(self.as_str(val)) if agg.distinct
                        else F.collect_list(self.as_str(val)))
                return make_term(KIND_LIT, F.array_join(F.sort_array(coll), sep))
            raise QueryExecutionError(f"unsupported aggregate {agg.name}")

        def lower_agg(e: Expr) -> Expr:
            """Replace AggExpr nodes with vars referencing computed columns."""
            if isinstance(e, AggExpr):
                name = f"__agg{next(self._uid)}"
                agg_cols.append(agg_column(e).alias(vcol(name)))
                return TermExpr(Var(name))
            if isinstance(e, OpExpr):
                return OpExpr(e.op, [lower_agg(a) for a in e.args])
            if isinstance(e, FuncExpr):
                return FuncExpr(e.name, [lower_agg(a) for a in e.args], e.distinct)
            if isinstance(e, InExpr):
                return InExpr(lower_agg(e.value), [lower_agg(o) for o in e.options],
                              e.negated)
            return e

        group_exprs: list[tuple] = []  # (expr, key name) for structural matching
        for g, kn in zip(q.group_by, key_names):
            group_exprs.append((g[0] if isinstance(g, tuple) else g, kn))

        def resolve_group(e: Expr) -> Expr:
            """Replace subexpressions that structurally equal a GROUP BY
            expression with a reference to its key column — this is what
            lets ``SELECT (LANG(?l) AS ?lang) ... GROUP BY (LANG(?l))``
            project the key (dataclass equality gives structural match)."""
            for ge, kn in group_exprs:
                if e == ge:
                    return TermExpr(Var(kn))
            if isinstance(e, OpExpr):
                return OpExpr(e.op, [resolve_group(a) for a in e.args])
            if isinstance(e, FuncExpr):
                return FuncExpr(e.name, [resolve_group(a) for a in e.args], e.distinct)
            return e

        proj_plan = []
        for e, alias in q.projections:
            if isinstance(e, Var):
                if e.name not in key_names:
                    raise QueryExecutionError(f"?{e.name} projected but not grouped")
                proj_plan.append((TermExpr(e), alias.name if alias else e.name))
            else:
                proj_plan.append((lower_agg(resolve_group(e)), alias.name))
        having_plan = [lower_agg(resolve_group(h)) for h in q.having]

        # ORDER BY may reference projection aliases (ORDER BY DESC(?cnt)
        # for SELECT (COUNT(*) AS ?cnt)) — substitute the (already
        # lowered) projected expression for the alias before lowering.
        proj_env = {name: e for e, name in proj_plan}

        def resolve_alias(e: Expr) -> Expr:
            if isinstance(e, TermExpr) and isinstance(e.term, Var) \
                    and e.term.name in proj_env:
                return proj_env[e.term.name]
            if isinstance(e, OpExpr):
                return OpExpr(e.op, [resolve_alias(a) for a in e.args])
            if isinstance(e, FuncExpr):
                return FuncExpr(e.name, [resolve_alias(a) for a in e.args], e.distinct)
            return e

        order_plan = [(lower_agg(resolve_group(resolve_alias(e))), d)
                      for e, d in q.order_by]

        grouped = bindings.df.groupBy(*key_cols) if key_cols else bindings.df.groupBy()
        if not agg_cols:
            agg_cols.append(
                make_term(KIND_LIT, F.count(F.lit(1)).cast("string"),
                          F.lit(XSD + "integer")).alias(vcol("__dummy")))
        adf = grouped.agg(*agg_cols)
        if defer_decode:
            # group keys shuffled as 8-byte ids; decode them here, on the
            # collapsed per-group frame (#groups rows, not #input rows)
            adf = self._decode_late(
                Bindings(adf, key_names, set(key_names)),
                only=defer_decode).df

        post_map = {c[len("v_"):]: adf[c] for c in adf.columns}
        out = adf
        for h in having_plan:
            out = out.filter(self.expr_bool(h, post_map))
        order_cols = []
        for e, direction in order_plan:
            val = self.compile_expr(e, post_map)
            key = sort_key(self.as_term(val)) if val[0] == "term" else val[1]
            order_cols.append(key.desc() if direction == "desc" else key.asc())
        if order_cols:
            out = out.orderBy(*order_cols)
        sel, names = [], []
        for e, name in proj_plan:
            sel.append(self.expr_term(e, post_map).alias(vcol(name)))
            names.append(name)
        return Bindings(out.select(*sel), names, set(names))

    # ------------------------------------------------------------------
    # CONSTRUCT / ASK / UPDATE
    # ------------------------------------------------------------------

    def compile_construct(self, q: ConstructQuery) -> DataFrame:
        bindings = self.compile_select(
            SelectQuery(projections=[], where=q.where, limit=q.limit)
        )
        bdf = bindings.df
        has_bnodes = any(
            isinstance(t, BNode) for tp in q.template for t in (tp.s, tp.p, tp.o))
        if has_bnodes:
            # Fresh-bnode-per-solution semantics require ONE identity per
            # row shared by every template triple.  monotonically_increasing_id
            # is only stable if materialized once — each template projection
            # re-evaluating it could see different ids (and must not bake
            # the template-triple index into the label).
            bdf = bdf.withColumn(
                "__rowid", F.monotonically_increasing_id()).localCheckpoint(eager=True)
        colmap = {v: bdf[vcol(v)] for v in bindings.variables}
        outs = []
        bnode_tag = F.conv(F.col("__rowid").cast("string"), 10, 16) if has_bnodes else None
        # per-construction nonce: labels from separate construct() calls
        # must not collide, or unioning two constructed graphs would merge
        # their (independently fresh) bnodes
        nonce = next(_construct_nonce) if has_bnodes else 0
        for tp in q.template:
            def enc(term):
                if isinstance(term, Var):
                    c = colmap.get(term.name)
                    if c is None:
                        raise QueryExecutionError(f"CONSTRUCT var ?{term.name} unbound")
                    return c
                if isinstance(term, BNode):
                    # label depends on (construction, template bnode name,
                    # solution row)
                    return make_term(
                        KIND_BNODE, F.concat(F.lit(f"ct{nonce}_{term}_"), bnode_tag)
                    )
                return term_to_struct(term)

            s = enc(tp.s)
            p = enc(tp.p)
            o = enc(tp.o)
            outs.append(
                bdf.select(
                    s["kind"].alias("s_kind"), s["lex"].alias("s"),
                    p["lex"].alias("p"),
                    o["kind"].alias("o_kind"), o["lex"].alias("o"),
                    o["dt"].alias("o_dt"), o["lang"].alias("o_lang"),
                ).filter(s.isNotNull() & p.isNotNull() & o.isNotNull())
            )
        out = outs[0]
        for d in outs[1:]:
            out = out.unionByName(d)
        return out.dropDuplicates()

    def compile_ask(self, q: AskQuery) -> bool:
        if self.use_ids and not self._analyzed:
            self._analyzed = True
            self.id_only, self.late = self._analyze_id_vars(q)
        return self.compile_group(q.where).df.limit(1).count() > 0
