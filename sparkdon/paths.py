"""Property-path evaluation — the recursive tier (SURVEY.md §2.8, §4.2).

Catalyst has no recursion, so ``p*`` / ``p+`` (G3/G4), bnode closure (G5)
and rule fixpoints (G7) run as driver-controlled semi-naive loops:

    frontier ← seed
    while frontier ≠ ∅:
        frontier ← (frontier ⋈ step) − seen     # one distributed join
        frontier.localCheckpoint()               # cut lineage growth
        seen ← seen ∪ frontier

Each iteration is one shuffle join; ``localCheckpoint()`` keeps the plan
from growing linearly with iterations (SURVEY.md §4.2 item 1).  Anchored
closures (a constant on either end — the common case in the corpus, e.g.
``?x rdfs:subClassOf* :Agent``) BFS from the anchor so the working set is
the reachable cone, not the full relation; only a fully unanchored
``?x p* ?y`` pays for the complete transitive closure.

An anchored closure runs in one of three tiers, picked by the size of
its step relation (:func:`anchored_closure`):

- **driver** — the anchors are a term list on the driver (constant
  endpoints, all-constant ``VALUES``) and the step has fewer than
  :data:`CLOSURE_IDS_MIN_STEP` rows and a measured byte estimate within
  ``spark.sql.autoBroadcastJoinThreshold``: the step is collected once
  (one bounded job) and walked in Python.  At that size every
  distributed BFS level would broadcast the whole step anyway.
- **struct loop** — the distributed BFS on term structs, for anchor
  DataFrames (sideways information passing, ``GRAPH ?g``) and for steps
  over the broadcast threshold; the step side of each level broadcasts
  when it fits.
- **id loop** — the same BFS on 64-bit term ids, for steps of at least
  :data:`CLOSURE_IDS_MIN_STEP` rows.

Reference exercisers: ``rdfs:subClassOf*`` DBpedia_Schema_Queries#cell77-82,
``rdfs:member+`` Inference_Over_RDF_Containers#cell58, ``^rdfs:member``
from a literal anchor #cell56,64.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdon.algebra import Path
from sparkdon.errors import QueryExecutionError
# shared threshold parser (moved to sizing.py in r17 so the PageRank
# loop's copy cannot drift); old private name kept for in-repo callers
from sparkdon.sizing import broadcast_threshold_bytes as _broadcast_threshold_bytes
from sparkdon.terms import BNode, IRI, KIND_BNODE, KIND_IRI, KIND_LIT, Literal, make_term

#: iteration guard for runaway graphs; each iteration is one BFS level, so
#: this bounds path length, not data size.
MAX_ITERATIONS = 200


def _pairs_for_link(compiler, iri: IRI) -> DataFrame:
    t = compiler.triples.filter(F.col("p") == str(iri))
    return t.select(
        make_term(F.col("s_kind"), F.col("s")).alias("start"),
        make_term(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang")).alias("end"),
    )


def _const_struct_row(term):
    if isinstance(term, IRI):
        return (KIND_IRI, str(term), None, None)
    if isinstance(term, BNode):
        return (KIND_BNODE, str(term), None, None)
    if isinstance(term, Literal):
        return (KIND_LIT, term.lex, term.datatype, term.lang)
    raise QueryExecutionError(f"bad path anchor {term!r}")


TERM_STRUCT_DDL = "struct<kind:string,lex:string,dt:string,lang:string>"


def eval_pairs(compiler, path) -> DataFrame:
    """Evaluate a (non-closure) path expression to a (start, end) relation."""
    if isinstance(path, IRI):
        return _pairs_for_link(compiler, path)
    if not isinstance(path, Path):
        raise QueryExecutionError(f"unsupported path {path!r}")
    if path.op == "link":
        return _pairs_for_link(compiler, path.parts[0])
    if path.op == "inv":
        inner = eval_pairs(compiler, path.parts[0])
        return inner.select(F.col("end").alias("start"), F.col("start").alias("end"))
    if path.op == "seq":
        left = eval_pairs(compiler, path.parts[0]).withColumnRenamed("end", "mid")
        right = eval_pairs(compiler, path.parts[1]).withColumnRenamed("start", "mid")
        return left.join(right, on="mid").select("start", "end")
    if path.op == "alt":
        return eval_pairs(compiler, path.parts[0]).unionByName(
            eval_pairs(compiler, path.parts[1])
        )
    if path.op == "nps":
        # Negated property set (spec §18.4): forward triples whose
        # predicate is not in the forward set, unioned with reversed
        # triples whose predicate is not in the inverse set.  Each branch
        # is one predicate NOT-IN filter over the triple scan.
        fwd, inv = path.parts
        t = compiler.triples
        outs = []
        if fwd or not inv:  # `!()` matches every forward triple
            tf = t.filter(~F.col("p").isin([str(i) for i in fwd])) if fwd else t
            outs.append(tf.select(
                make_term(F.col("s_kind"), F.col("s")).alias("start"),
                make_term(F.col("o_kind"), F.col("o"), F.col("o_dt"),
                          F.col("o_lang")).alias("end")))
        if inv:
            ti = t.filter(~F.col("p").isin([str(i) for i in inv]))
            outs.append(ti.select(
                make_term(F.col("o_kind"), F.col("o"), F.col("o_dt"),
                          F.col("o_lang")).alias("start"),
                make_term(F.col("s_kind"), F.col("s")).alias("end")))
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o)
        return out
    if path.op in ("star", "plus", "opt"):
        # A closure NESTED inside a composite path (:p/:q*, (^:p)+/..,
        # (:p*|:q)): evaluate the inner relation and close it with the
        # shared semi-naive machinery.  Zero-length arms (star/opt)
        # match every term in the graph per spec §18.4 ZeroOrMorePath —
        # the same domain the top-level unanchored evaluation uses.
        # This is deliberately the FULL closure: nesting denies the
        # anchored-BFS/SIP fast paths their anchor, and a full closure
        # joined into the rest of the sequence is the general answer
        # (the documented last-resort cost, same as unanchored p*).
        inner = eval_pairs(compiler, path.parts[0])
        if path.op == "opt":
            closed = inner
        elif path.op == "plus":
            return transitive_closure(inner)
        else:
            closed = transitive_closure(inner)
        zero = all_nodes(compiler).select(
            F.col("node").alias("start"), F.col("node").alias("end"))
        return closed.unionByName(zero).distinct()
    raise QueryExecutionError(f"unsupported path op {path.op}")


def all_nodes(compiler) -> DataFrame:
    """Every term occurring in the graph (zero-length path domain)."""
    t = compiler.triples
    subs = t.select(make_term(F.col("s_kind"), F.col("s")).alias("node"))
    objs = t.select(
        make_term(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang")).alias("node")
    )
    return subs.unionByName(objs).distinct()


def _retire(df: DataFrame | None) -> None:
    """Release the pinned blocks of a SUPERSEDED ``localCheckpoint`` frame.

    Every BFS level checkpoints a new generation; without this, a deep
    closure pins O(depth) copies of seen/frontier in the block manager
    and a long session accumulates them until executors GC-thrash (the
    leak reproduces on a 200k-node depth-17 tree).  The frame must be
    provably dead: a released checkpoint is unrecoverable (lineage was
    truncated).  Best-effort via the LogicalRDD handle — if the internal
    accessor ever changes, closures degrade to the old pinned-forever
    behavior rather than failing."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _is_checkpoint(df: DataFrame) -> bool:
    """Whether ``df`` reads straight off checkpointed blocks: its
    analyzed plan is a ``LogicalRDD`` over a checkpointed RDD (a frame
    made by ``createDataFrame`` is a ``LogicalRDD`` too, but recomputes).
    Best-effort like :func:`_retire`: an unreadable plan counts as not
    checkpointed."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        return (plan.getClass().getSimpleName() == "LogicalRDD"
                and plan.rdd().isCheckpointed())
    except Py4JError:
        return False


#: Run the semi-naive closure loops on 64-bit term ids instead of term
#: structs (round 10).  Every BFS level is a shuffle join + a subtract;
#: with raw terms those shuffles move ~60-120-byte (kind, lex, dt, lang)
#: structs PER ITERATION — at 100 TB the iterated string-key shuffles
#: dominate closure cost.  Id mode hashes each endpoint once up front
#: (operators/dictionary.term_id — xxhash64, join-free, deterministic),
#: runs the whole fixpoint on 8-byte longs (≈3.4× less raw shuffle
#: measured, single-long join hashing), and decodes the final pairs with
#: two id→term joins against a decode map built from the step relation.
#: Same trust model as the compiler's ``use_ids`` join mode: id equality
#: ⇔ term equality modulo the documented 2⁻⁶⁵-per-pair xxhash64 odds.
#: Toggle exists for A/B measurement (scripts/shuffle_bytes.py rows in
#: PERF.md), not as a correctness hedge.
CLOSURE_IDS = True

#: Cost-based representation choice: encoding pays two fixed jobs (the
#: id map + decode-map checkpoint, then the final decode joins) to
#: shrink every BFS level's shuffle.  Isolated quiet-host best-of-3 at
#: sf0.1 (PERF.md round 10) measured that fixed cost at ~1.2 s per
#: closure on graphs whose whole step relation is ~15k rows — pure
#: overhead there, while at 10⁸+ step rows the per-level savings
#: dominate by construction.  So the wrappers count the RAW step plan
#: (a scan-side aggregate, no shuffle, no materialization — the id
#: path must never pay a struct-relation shuffle, that being its whole
#: point) and encode only at or above this bar; the same decision
#: shape as AQE's size-based plan choices.  Raw rows over-count vs
#: distinct rows, which only errs toward ids on duplicate-heavy
#: relations — where id-side dedup is exactly the cheap path anyway.
#: The 100× scale probe's
#: replica graph (~1.5M step rows) exercises the id path; the sf0.01
#: driver gates exercise the struct path, and the ``*_ids`` gates force
#: the id path via ``CLOSURE_IDS_MIN_STEP = 0`` so BOTH representations
#: stay oracle-green every round.
CLOSURE_IDS_MIN_STEP = 1_000_000


def _sid(struct_col):
    """Term-struct column → 64-bit content-hash id (shared ``term_id``)."""
    from sparkdon.operators.dictionary import term_id

    return term_id(struct_col["kind"], struct_col["lex"],
                   struct_col["dt"], struct_col["lang"])


def _encode_step(step: DataFrame, extra_nodes: DataFrame | None = None
                 ) -> tuple[DataFrame, DataFrame]:
    """Encode a (start, end) struct relation to long ids.

    Returns ``(encoded_step, decode_map)`` where the decode map is the
    distinct (id, term) pairs over every node of the step relation (plus
    ``extra_nodes`` — anchors may have no edges yet still appear in the
    zero-length output).  The map is checkpointed once; the closure
    result references it lazily, so it stays pinned exactly as long as
    the returned closure frame itself."""
    nodes = (step.select(F.col("start").alias("node"))
             .unionByName(step.select(F.col("end").alias("node"))))
    if extra_nodes is not None:
        nodes = nodes.unionByName(extra_nodes.select("node"))
    dec = (nodes.distinct()
           .select(_sid(F.col("node")).alias("__nid"), F.col("node"))
           .localCheckpoint(eager=True))
    enc = step.select(_sid(F.col("start")).alias("start"),
                      _sid(F.col("end")).alias("end"))
    return enc, dec


def _decode_pairs(ids: DataFrame, dec: DataFrame, *cols: str) -> DataFrame:
    """Join id columns back to term structs (inner — every id in the
    closure originates from the decode map's node set)."""
    out = ids
    for c in cols:
        d = dec.select(F.col("__nid").alias(c),
                       F.col("node").alias("__dec_" + c))
        out = out.join(d, on=c, how="inner")
    return out.select(*[F.col("__dec_" + c).alias(c) for c in cols])


#: Conservative broadcast-hash-table cost per STEP row: (long, long) id
#: pairs are fixed-width; term-struct rows carry unbounded RDF lexical
#: forms, so their estimate is MEASURED (per-row overhead for the
#: struct/hash-relation machinery plus 2 bytes per lex/dt/lang char —
#: UTF-16 in the hashed relation), never assumed (r17, advisor find:
#: the former flat 320 B/row badly undercounted multi-KB literals and
#: could force-broadcast past executor memory).
_BCAST_BYTES_ID_ROW = 64
_BCAST_BYTES_STRUCT_ROW_OVERHEAD = 200


def _step_stats(step: DataFrame) -> tuple[int, int]:
    """(row count, conservative broadcast byte estimate) of a raw
    (start, end) term-struct step relation, in ONE scan-side aggregate
    (no shuffle, no materialization — the same single job the old bare
    ``count()`` paid; the length sums ride along as two more partial
    aggregates)."""
    def _chars(c):
        s = F.col(c)
        return (F.length(F.coalesce(s["lex"], F.lit("")))
                + F.length(F.coalesce(s["dt"], F.lit("")))
                + F.length(F.coalesce(s["lang"], F.lit(""))))

    row = step.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_chars("start") + _chars("end")).alias("chars")).collect()[0]
    n = row["n"]
    est = n * _BCAST_BYTES_STRUCT_ROW_OVERHEAD + 2 * (row["chars"] or 0)
    return n, est


def _step_join_side(step: DataFrame, n_rows: int | None, ids: bool,
                    struct_bytes: int | None = None) -> DataFrame:
    """Deliberate per-level join-strategy pick for the closure loops
    (r16, guide §3.1 "broadcast the side you KNOW fits"): the callers
    hold an exact upper bound on the step's row count (the same count
    that chose the id representation), which beats Catalyst's estimate
    for a checkpointed frame (UnknownPartitioning, no stats).  When the
    byte estimate fits the session broadcast threshold, hint the
    broadcast so every BFS level joins frontier⋈step with no Exchange
    and no sort on either side; otherwise (or when the size is
    unknown) leave Catalyst's choice — the pre-r16 per-level
    sort-merge join — so a 100 TB step relation never force-broadcasts.

    The id path costs a fixed 64 B/row; the struct path uses the
    caller's MEASURED ``struct_bytes`` (unbounded RDF literals make any
    flat per-row constant unsafe) and declines the hint when no
    measurement is available.

    An anchored closure whose anchors are a driver-side term list never
    gets here with a step that would broadcast as structs: that step
    goes to the driver tier (:func:`_driver_closure`) instead.  The
    struct hint therefore serves the unanchored loop and anchor
    DataFrames (SIP, ``GRAPH ?g``); the id hint serves every step at or
    above :data:`CLOSURE_IDS_MIN_STEP` rows."""
    if n_rows is None:
        return step
    thr = _broadcast_threshold_bytes(step.sparkSession)
    if thr <= 0:
        return step
    if ids:
        return F.broadcast(step) if n_rows * _BCAST_BYTES_ID_ROW <= thr \
            else step
    if struct_bytes is None:
        return step
    return F.broadcast(step) if struct_bytes <= thr else step


#: Compact the accumulated generation list into one materialized frame
#: every this-many BFS levels, so the per-level anti-join plan depth
#: stays O(1) on very deep closures (the gate graphs converge in 2-3
#: levels; the 200k-node probe tree in 17).
_SEEN_COMPACT_LEVELS = 24


def _lazy_union(frames: list) -> DataFrame:
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def transitive_closure(step: DataFrame) -> DataFrame:
    """Full semi-naive transitive closure of a (start, end) relation.

    Representation is chosen by measured size (see
    :data:`CLOSURE_IDS_MIN_STEP`): big step relations iterate on 8-byte
    term ids and decode at the edge; small ones skip the fixed
    encode/decode cost.  The decision counts the RAW step plan — a
    scan-side aggregate with no shuffle — so the id path never
    materializes the struct relation at all: its distinct runs on the
    16-byte encoded rows (the whole point of the mode), and the struct
    path keeps its original distinct+checkpoint.  The loop body is
    representation-agnostic; the measured count AND byte estimate also
    feed the loop's step-side broadcast pick (:func:`_step_join_side`
    — raw rows only over-count the distinct step, erring toward NOT
    broadcasting)."""
    n_raw = bytes_raw = None
    if CLOSURE_IDS:
        n_raw, bytes_raw = _step_stats(step)
    if n_raw is not None and n_raw >= CLOSURE_IDS_MIN_STEP:
        enc, dec = _encode_step(step)
        enc = enc.distinct().localCheckpoint(eager=True)
        closed = _closure_loop(enc, n_rows=n_raw, ids=True)
        return _decode_pairs(closed, dec, "start", "end")
    return _closure_loop(step.distinct().localCheckpoint(eager=True),
                         n_rows=n_raw, ids=False, struct_bytes=bytes_raw)


def _closure_loop(step: DataFrame, n_rows: int | None = None,
                  ids: bool = False,
                  struct_bytes: int | None = None) -> DataFrame:
    """The semi-naive loop (column-type-agnostic: structs or longs;
    ``step`` must arrive distinct + checkpointed).

    The step relation is materialized once up front: every iteration
    joins AND anti-joins against it, and without the checkpoint each
    iteration would re-execute the step's whole upstream plan (for the
    rdf-ized gate graphs, a 14-branch union scan).

    r16 restructure (guide §1.2 "remove passes", §2.1, §3.1), oracle-
    equivalent by construction:

    - ``seen`` is never re-materialized.  The closure accumulates the
      DISTINCT, mutually-disjoint delta generations (each eagerly
      checkpointed; together they ARE the result), and per-level
      novelty is a left-anti join of the (already distinct) candidate
      set against their lazy union — equivalent to the former
      ``subtract`` because closure endpoints are non-null by
      construction (term structs / xxhash64 ids) and both sides are
      distinct.  One materialization job per level instead of two, and
      pinned storage is exactly |closure| with nothing superseded (the
      old shape re-wrote the full union every level and peaked at
      2×|closure| during the swap).
    - the step side of the per-level join rides as an explicit
      broadcast when the caller-measured count provably fits
      (:func:`_step_join_side`), removing both join Exchanges and both
      sorts from every level; above the threshold the plan is exactly
      the pre-r16 per-level sort-merge join.
    - every ``_SEEN_COMPACT_LEVELS`` levels the generation list is
      compacted into one materialized frame used ONLY as the anti-join
      side (the result stays the generation list), so plan depth is
      bounded on deep chains; a superseded compact frame retires."""
    join_step = _step_join_side(step, n_rows, ids, struct_bytes)
    gens = [step]
    seen_frames = [step]
    compacted = None  # the current anti-join accelerator, if any
    delta = step
    for _ in range(MAX_ITERATIONS):
        new = (
            delta.withColumnRenamed("end", "mid")
            .join(join_step.withColumnRenamed("start", "mid"), on="mid")
            .select("start", "end")
            .distinct()
        )
        delta = (
            new.join(_lazy_union(seen_frames), on=["start", "end"],
                     how="left_anti")
            .localCheckpoint(eager=True)
        )
        if delta.isEmpty():
            _retire(delta)
            _retire(compacted)
            return _lazy_union(gens)
        gens.append(delta)
        seen_frames.append(delta)
        if len(seen_frames) >= _SEEN_COMPACT_LEVELS:
            old_compacted = compacted
            compacted = _lazy_union(seen_frames).localCheckpoint(eager=True)
            seen_frames = [compacted]
            _retire(old_compacted)
    raise QueryExecutionError("path closure did not converge")


def _collect_small_step(step: DataFrame):
    """The step's rows when the driver tier may take it, else None.

    The tier needs fewer than :data:`CLOSURE_IDS_MIN_STEP` rows (the id
    bar is checked first, so forcing it to 0 keeps the id loop) and a
    :func:`_step_stats`-style byte estimate within the broadcast
    threshold.  Every row costs at least the per-row overhead, so no
    step over ``threshold / overhead`` rows can fit: one bounded
    ``limit(cap + 1).collect()`` both sizes the step and fetches it,
    and the estimate is summed on the driver."""
    thr = _broadcast_threshold_bytes(step.sparkSession)
    cap = min(thr // _BCAST_BYTES_STRUCT_ROW_OVERHEAD,
              CLOSURE_IDS_MIN_STEP - 1)
    if thr <= 0 or cap < 0:  # broadcasts off, or the id loop forced
        return None
    rows = step.limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    chars = sum(len(f) for r in rows for term in r for f in term[1:]
                if f is not None)
    if len(rows) * _BCAST_BYTES_STRUCT_ROW_OVERHEAD + 2 * chars > thr:
        return None
    return rows


def _driver_closure(spark, rows, anchors: list, forward: bool,
                    include_zero: bool) -> DataFrame:
    """The driver tier: per-anchor BFS over the collected step rows,
    returned as one local (anchor, node) term-struct DataFrame.

    Same semantics as :func:`_anchored_loop`: ``include_zero`` pairs
    every anchor with itself; otherwise an anchor pairs with itself only
    when a cycle re-reaches it.  A backward closure walks the reversed
    step, and a cone still growing after :data:`MAX_ITERATIONS` levels
    raises."""
    adj: dict[tuple, set] = {}
    for r in rows:
        a, b = tuple(r[0]), tuple(r[1])
        if not forward:
            a, b = b, a
        adj.setdefault(a, set()).add(b)
    out = []
    for anchor in dict.fromkeys(_const_struct_row(t) for t in anchors):
        seen = {anchor}
        frontier = [anchor]
        cycle = False
        for _ in range(MAX_ITERATIONS):
            nxt = []
            for node in frontier:
                for m in adj.get(node, ()):
                    if m not in seen:
                        seen.add(m)
                        nxt.append(m)
                    elif m == anchor:
                        cycle = True
            if not nxt:
                break
            frontier = nxt
        else:
            raise QueryExecutionError("path closure did not converge")
        if not (include_zero or cycle):
            seen.discard(anchor)
        out.extend((anchor, node) for node in seen)
    return spark.createDataFrame(
        out, f"anchor {TERM_STRUCT_DDL}, node {TERM_STRUCT_DDL}")


def anchored_closure(spark, step: DataFrame, anchors,
                     forward: bool, include_zero: bool) -> DataFrame:
    """BFS closure from a set of anchor nodes, with per-anchor provenance.

    ``anchors`` is a list of terms (constants, VALUES) or a one-column
    ``node`` DataFrame (SIP, ``GRAPH ?g``).  Three tiers, picked by the
    step's size:

    - **driver** (:func:`_driver_closure`): list anchors and a step
      under :data:`CLOSURE_IDS_MIN_STEP` rows whose byte estimate fits
      the broadcast threshold — one bounded collect, a Python BFS, a
      local result frame;
    - **id loop**: steps of at least :data:`CLOSURE_IDS_MIN_STEP` raw
      rows — the BFS frontier carries (anchor_id, node_id) long pairs,
      16 bytes per row through every per-level shuffle, and the final
      (anchor, node) pairs decode via two id→term joins;
    - **struct loop**: everything else, on term structs.

    The loop body (:func:`_anchored_loop`) is representation-agnostic;
    the measured count AND byte estimate also feed the loop's step-side
    broadcast pick (:func:`_step_join_side`)."""
    if not isinstance(anchors, DataFrame):
        rows = _collect_small_step(step)
        if rows is not None:
            return _driver_closure(spark, rows, anchors, forward,
                                   include_zero)
        anchors = spark.createDataFrame(
            [(_const_struct_row(t),) for t in anchors],
            f"node {TERM_STRUCT_DDL}")
    n_raw = bytes_raw = None
    if CLOSURE_IDS:
        n_raw, bytes_raw = _step_stats(step)
    if n_raw is not None and n_raw >= CLOSURE_IDS_MIN_STEP:
        enc_step, dec = _encode_step(step, extra_nodes=anchors)
        enc_step = enc_step.localCheckpoint(eager=True)
        enc_anchors = anchors.select(_sid(F.col("node")).alias("node"))
        pairs = _anchored_loop(spark, enc_step, enc_anchors, forward,
                               include_zero, n_rows=n_raw, ids=True)
        return _decode_pairs(pairs, dec, "anchor", "node")
    return _anchored_loop(spark, step.localCheckpoint(eager=True), anchors,
                          forward, include_zero, n_rows=n_raw, ids=False,
                          struct_bytes=bytes_raw)


def _anchored_loop(spark, step: DataFrame, anchors: DataFrame,
                   forward: bool, include_zero: bool,
                   n_rows: int | None = None, ids: bool = False,
                   struct_bytes: int | None = None) -> DataFrame:
    """The anchored-BFS loop (column-type-agnostic: structs or longs;
    ``step`` must arrive checkpointed).

    anchors: one-column DF ``node``.  Returns (anchor, node) pairs where
    ``node`` is reachable from ``anchor`` along ≥1 steps (≥0 with
    ``include_zero``).  The frontier carries the anchor column and
    novelty is keyed on the (anchor, node) PAIR, so a whole anchor set
    (VALUES-driven or SIP-harvested) BFSes in one sequence of distributed
    joins — overlapping cones don't truncate each other, and each level
    is still one join regardless of anchor count.  The working set is
    the union of the anchors' reachable cones, never the full transitive
    closure.

    r16 restructure (guide §1.2, §2.1, §3.1 — same shape as
    :func:`_closure_loop`), oracle-equivalent by construction:

    - ``seen`` is never re-materialized: the loop accumulates the
      disjoint frontier generations (base = generation 0; each eagerly
      checkpointed; together they are exactly the star result) and
      per-level novelty is a left-anti join against their lazy union —
      one materialization job per level instead of two (endpoints are
      non-null by construction, so anti ≡ subtract on distinct sides).
    - the per-level ``nxt ∩ base`` cycle side-accumulator (a checkpoint
      job per level, and a second evaluation of the lazy ``nxt`` join)
      is replaced by ONE exit join: ∪ₖ next(frontierₖ) ∩ base =
      next(∪ₖ frontierₖ) = next(seen) ∩ base, because next(·)
      distributes over union.  Only the plus path pays it.
    - the step join side broadcasts when the caller-measured count
      provably fits (:func:`_step_join_side`); otherwise the plan is
      the pre-r16 per-level sort-merge join.
    - the generation list compacts every ``_SEEN_COMPACT_LEVELS``
      levels (anti-join side only), bounding plan depth on deep cones."""
    step_ckpt = step  # the caller's checkpointed frame — retired at exit
    if not forward:
        # lazy swap over the pinned blocks; no second materialization
        step = step.select(F.col("end").alias("start"), F.col("start").alias("end"))
    join_step = _step_join_side(step, n_rows, ids, struct_bytes)
    base = anchors.select(F.col("node").alias("anchor"), F.col("node")).distinct() \
        .localCheckpoint(eager=True)
    gens = [base]
    seen_frames = [base]
    compacted = None  # the current anti-join accelerator, if any
    frontier = base
    for _ in range(MAX_ITERATIONS):
        nxt = (
            frontier.join(join_step, frontier["node"] == join_step["start"])
            .select(frontier["anchor"], join_step["end"].alias("node"))
            .distinct()
        )
        frontier = (
            nxt.join(_lazy_union(seen_frames), on=["anchor", "node"],
                     how="left_anti")
            .localCheckpoint(eager=True)
        )
        if frontier.isEmpty():
            _retire(frontier)
            break
        gens.append(frontier)
        seen_frames.append(frontier)
        if len(seen_frames) >= _SEEN_COMPACT_LEVELS:
            old_compacted = compacted
            compacted = _lazy_union(seen_frames).localCheckpoint(eager=True)
            seen_frames = [compacted]
            _retire(old_compacted)
    else:
        raise QueryExecutionError("path closure did not converge")
    _retire(compacted)
    seen = _lazy_union(gens)
    if include_zero:
        _retire(step_ckpt)
        # (anchor, anchor) zero-length pairs + everything reached — the
        # disjoint generations, base included, read straight off their
        # checkpointed blocks
        return seen
    # plus: distance-≥1 pairs are the non-base generations, plus the
    # anchors a cycle re-reaches — next(seen) ∩ base, computed once
    # (disjoint from every generation: an (a, a) candidate can never
    # survive the anti join against base, so no final distinct needed)
    cycles = (
        seen.join(join_step, seen["node"] == join_step["start"])
        .select(seen["anchor"], join_step["end"].alias("node"))
        .join(base, ["anchor", "node"], "left_semi")
        .distinct()
        .localCheckpoint(eager=True)
    )
    _retire(step_ckpt)
    reached = gens[1:] + [cycles]
    if len(gens) == 1:
        # no frontier ever materialized: the result is the cycle hits
        _retire(base)
        return cycles
    result = _lazy_union(reached)
    _retire(base)
    return result


def eval_path(compiler, path, start_const, end_const,
              start_anchors=None, end_anchors=None) -> DataFrame:
    """Full path evaluation → (start, end) term-struct pairs.

    Closure paths dispatch on anchoring; everything else is joins/unions
    over the step relation.  ``start_anchors``/``end_anchors`` optionally
    carry a VALUES-derived anchor TERM LIST for a var endpoint — the
    closure then BFSes the anchors' cones (with per-anchor provenance)
    instead of computing the full transitive closure.
    """
    spark = compiler.spark
    if isinstance(path, Path) and path.op in ("star", "plus", "opt"):
        inner = path.parts[0]
        step = eval_pairs(compiler, inner)
        include_zero = path.op in ("star", "opt")
        if path.op == "opt":
            zero = all_nodes(compiler).select(
                F.col("node").alias("start"), F.col("node").alias("end"))
            return step.unionByName(zero).distinct()
        # anchors arrive as a term LIST (constants / VALUES) or as a
        # one-column ``node`` DATAFRAME (sideways information passing: the
        # already-joined group prefix supplies the bound endpoint values
        # without any driver-side collect)
        fwd = bwd = None
        if start_const is not None:
            fwd = [start_const]
        elif start_anchors is not None:
            fwd = start_anchors
        if fwd is None:
            if end_const is not None:
                bwd = [end_const]
            elif end_anchors is not None:
                bwd = end_anchors
        if fwd is not None or bwd is not None:
            forward = fwd is not None
            pairs = anchored_closure(spark, step, fwd if forward else bwd,
                                     forward, include_zero)
            if forward:
                return pairs.select(F.col("anchor").alias("start"),
                                    F.col("node").alias("end"))
            return pairs.select(F.col("node").alias("start"),
                                F.col("anchor").alias("end"))
        closure = transitive_closure(step)
        if include_zero:
            zero = all_nodes(compiler).select(
                F.col("node").alias("start"), F.col("node").alias("end"))
            closure = closure.unionByName(zero).distinct()
        return closure
    return eval_pairs(compiler, path)


def fixpoint_union(store: DataFrame, produce_new,
                   max_iterations: int = MAX_ITERATIONS,
                   produce_delta=None) -> DataFrame:
    """Forward-chaining rule closure (G7): repeatedly apply
    ``produce_new(store) -> new_triples_df`` and union until no new triples.

    Used by the session layer for INSERT-WHERE rules run to fixpoint
    (Inference_Over_RDF_Containers#cell17,26,33).

    r17 semi-naive rewrite (guide §1.2 "remove passes"; VERDICT r16
    #4).  Two structural changes, both result-equivalent:

    - **Delta-driven rounds.**  When the caller supplies
      ``produce_delta(delta, store) -> candidates_df`` (see
      ``session.update_to_fixpoint`` for the per-atom rewrite that
      derives it from a conjunctive rule), every round after the first
      applies the rule only where at least one body atom matches a
      LAST-ROUND triple.  Correct by the standard semi-naive
      invariant: after round i, ``current`` ⊇ produce(current_{i-1}),
      so any derivation new at round i+1 must use ≥1 triple of
      ``delta_i`` — and ``produce_delta`` (each body atom redirected to
      the delta in turn, every other atom seeing the FULL current
      store) covers every such derivation, including multi-delta ones.
      Requires a MONOTONIC rule body (the caller checks); without
      ``produce_delta`` the loop is the old full re-derivation.
    - **The store is never re-materialized.**  Rounds accumulate the
      disjoint checkpointed delta generations (seed included); the
      working store is their lazy union, exactly the r16 closure-loop
      shape — checkpoint writes drop from O(rounds × |store|) to
      O(|store|), and ``subtract`` (≡ EXCEPT DISTINCT) keeps each
      generation distinct and disjoint from all earlier ones.  The
      generation list compacts every ``_SEEN_COMPACT_LEVELS`` rounds to
      bound plan depth on deep fixpoints.

    A store that is already a checkpoint (every endpoint graph after its
    first write) seeds the generation list as is: copying it again
    before round one would only duplicate its blocks.  It belongs to
    the caller, so compaction never retires it."""
    seed = store if _is_checkpoint(store) else store.localCheckpoint(eager=True)
    gens = [seed]
    current = seed
    delta = None
    for _ in range(max_iterations):
        if produce_delta is not None and delta is not None:
            cand = produce_delta(delta, current)
        else:
            cand = produce_new(current)
        new = cand.subtract(current).localCheckpoint(eager=True)
        if new.isEmpty():
            _retire(new)
            return current
        gens.append(new)
        delta = new
        current = _lazy_union(gens)
        if len(gens) >= _SEEN_COMPACT_LEVELS:
            # compact everything EXCEPT the newest delta (it drives the
            # next round and must stay a distinct disjoint frame) into
            # one materialized base, then retire the superseded
            # generation checkpoints — plan depth stays O(1) on deep
            # fixpoints, pinned storage stays exactly |store|
            old = gens[:-1]
            base = _lazy_union(old).localCheckpoint(eager=True)
            for g in old:
                if g is not store:
                    _retire(g)
            gens = [base, delta]
            current = _lazy_union(gens)
    raise QueryExecutionError("rule fixpoint did not converge")
