"""Seeded random property-path battery: random edge sets through the
engine's recursive path machinery vs a pure-Python reachability
reference.

paths.py is the hand-written 'hard 10%' (semi-naive fixpoint loops,
anchored BFS, SIP) — exactly where a wrong frontier dedup or off-by-one
iteration silently loses pairs.  Each case builds a random directed
graph over a small node space (cycles, self-loops, multi-predicate
edges all arise naturally), runs `p*` / `p+` / `^p` / `p1/p2` / `p?` /
`p1|p2` through the full engine, and compares the pair set against an
independent closure computed with plain Python sets.
"""

from __future__ import annotations

import contextlib
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkdon.session import inline  # noqa: E402

N_GRAPHS = 6
SEED = 20260815
NODES = 8


def random_graph(rng):
    """{pred: set[(s, o)]} over n0..n7 — dense enough for cycles."""
    edges = {"p": set(), "q": set()}
    for pred in edges:
        for _ in range(rng.randint(6, 14)):
            edges[pred].add((rng.randrange(NODES), rng.randrange(NODES)))
    return edges


def to_turtle(edges):
    lines = ["@prefix : <http://x.com/> ."]
    for pred, pairs in edges.items():
        for s, o in pairs:
            lines.append(f":n{s} :{pred} :n{o} .")
    return "\n".join(lines)


def ref_closure(pairs, reflexive_nodes=None):
    """Transitive closure of a pair set; with reflexive_nodes adds the
    zero-length pairs p* requires (every subject/object in the graph)."""
    reach = {}
    for s, o in pairs:
        reach.setdefault(s, set()).add(o)
    changed = True
    while changed:
        changed = False
        for s in list(reach):
            new = set()
            for mid in reach[s]:
                new |= reach.get(mid, set())
            if not new <= reach[s]:
                reach[s] |= new
                changed = True
    out = {(s, o) for s, os_ in reach.items() for o in os_}
    if reflexive_nodes is not None:
        out |= {(n, n) for n in reflexive_nodes}
    return out


def engine_pairs(e, path_expr):
    q = f"SELECT ?s ?o {{ ?s {path_expr} ?o }}"
    rows = e.select_raw(q).select("v_s", "v_o").collect()

    def node(t):
        lex = t[1]
        return int(lex.rsplit("n", 1)[-1])

    return {(node(r["v_s"]), node(r["v_o"])) for r in rows}


@pytest.fixture(scope="module")
def graphs(spark):
    rng = random.Random(SEED)
    out = []
    for _ in range(N_GRAPHS):
        edges = random_graph(rng)
        out.append((edges, inline(to_turtle(edges), spark)))
    return out


def test_path_star_and_plus(graphs):
    for edges, e in graphs:
        nodes = {x for prs in edges.values() for pr in prs for x in pr}
        p = edges["p"]
        assert engine_pairs(e, ":p+") == ref_closure(p)
        # p*: closure plus zero-length on EVERY term in the graph
        assert engine_pairs(e, ":p*") == ref_closure(p, reflexive_nodes=nodes)


def test_path_inverse_and_seq(graphs):
    for edges, e in graphs:
        p, q = edges["p"], edges["q"]
        assert engine_pairs(e, "^:p") == {(o, s) for s, o in p}
        want_seq = {(s, o2) for s, o in p for o1, o2 in q if o == o1}
        assert engine_pairs(e, ":p/:q") == want_seq


def test_path_alternation_and_optional(graphs):
    for edges, e in graphs:
        nodes = {x for prs in edges.values() for pr in prs for x in pr}
        p, q = edges["p"], edges["q"]
        assert engine_pairs(e, "(:p|:q)") == p | q
        assert engine_pairs(e, ":p?") == p | {(n, n) for n in nodes}


def test_path_inverse_plus(graphs):
    """(^:p)+ is the closure of the REVERSED edge set — frontier
    direction bugs show up here and nowhere else."""
    for edges, e in graphs:
        rev = {(o, s) for s, o in edges["p"]}
        assert engine_pairs(e, "(^:p)+") == ref_closure(rev)


def test_path_seq_into_star(graphs):
    """:p/:q* — one p-hop then ANY number of q-hops (zero included, so
    every p-edge endpoint survives): composing a plain step with a
    closure exercises the join between the BGP tier and the recursive
    tier."""
    for edges, e in graphs:
        p, q = edges["p"], edges["q"]
        qreach = {}
        for s, o in ref_closure(q):
            qreach.setdefault(s, set()).add(o)
        want = set(p)  # zero q-hops
        for s, o in p:
            for t in qreach.get(o, ()):
                want.add((s, t))
        assert engine_pairs(e, ":p/:q*") == want


def test_path_plus_over_sequence(graphs):
    """(:p/:q)+ — the closure's STEP is itself composite."""
    for edges, e in graphs:
        p, q = edges["p"], edges["q"]
        step = {(s, o2) for s, o in p for o1, o2 in q if o == o1}
        assert engine_pairs(e, "(:p/:q)+") == ref_closure(step)


def test_path_inverse_of_sequence(graphs):
    """^(:p/:q) reverses the composed relation (≡ ^:q/^:p)."""
    for edges, e in graphs:
        p, q = edges["p"], edges["q"]
        step = {(s, o2) for s, o in p for o1, o2 in q if o == o1}
        assert engine_pairs(e, "^(:p/:q)") == {(o, s) for s, o in step}


def test_path_star_over_alternation(graphs):
    for edges, e in graphs:
        nodes = {x for prs in edges.values() for pr in prs for x in pr}
        both = edges["p"] | edges["q"]
        assert engine_pairs(e, "(:p|:q)*") == ref_closure(
            both, reflexive_nodes=nodes)


BROADCAST = "spark.sql.autoBroadcastJoinThreshold"


@contextlib.contextmanager
def distributed_loops(spark):
    """``threshold=-1`` turns the driver tier off, so anchored closures
    run the distributed struct loop."""
    old = spark.conf.get(BROADCAST)
    spark.conf.set(BROADCAST, "-1")
    try:
        yield
    finally:
        spark.conf.set(BROADCAST, old)


def test_closure_id_and_struct_representations_agree(spark):
    """Round 10: the cost-based representation choice
    (paths.CLOSURE_IDS_MIN_STEP) must be invisible to results — the same
    closure evaluated on term structs and on forced 64-bit ids returns
    identical pairs, for both the full transitive closure and the
    anchored multi-cone BFS.  The anchored query also runs its default
    driver tier (these steps are broadcast-sized), which must agree
    with both distributed loops."""
    from sparkdon import paths
    from sparkdon.session import inline

    ttl = "@prefix : <http://example.com/> .\n" + "\n".join(
        f":n{i} :edge :n{(i * 7 + 3) % 23} ." for i in range(23)) + (
        "\n:n0 :edge :n5 . :n5 :edge :n0 .")  # cycle
    e = inline(ttl, spark)
    q_plus = "SELECT ?x ?y { ?x :edge+ ?y }"
    q_star = ("SELECT ?s ?x { VALUES ?s { :n0 :n7 } ?s :edge* ?x }")

    def rows(q):
        raw = e.select_raw(q)
        return sorted(tuple(r[c]["lex"] for c in raw.columns)
                      for r in raw.collect())

    star_driver = rows(q_star)
    old = paths.CLOSURE_IDS_MIN_STEP
    try:
        with distributed_loops(spark):
            paths.CLOSURE_IDS_MIN_STEP = 10 ** 9  # struct path
            plus_struct, star_struct = rows(q_plus), rows(q_star)
        paths.CLOSURE_IDS_MIN_STEP = 0  # forced id path
        plus_ids, star_ids = rows(q_plus), rows(q_star)
    finally:
        paths.CLOSURE_IDS_MIN_STEP = old
    assert plus_ids == plus_struct and len(plus_struct) > 23
    assert star_ids == star_struct == star_driver and len(star_struct) > 2


def test_deep_chain_closure_through_compaction(spark):
    """r16: a 30-node chain drives both semi-naive loops past
    ``paths._SEEN_COMPACT_LEVELS`` (24), exercising the generation-list
    compaction (the anti-join side collapses to one materialized frame
    mid-closure).  The pair set must still be the exact reference
    closure — for the full fixpoint (p+) and the anchored BFS (p*), the
    latter both in the driver tier and in the distributed loop."""
    from sparkdon.session import inline

    n = 30
    ttl = "@prefix : <http://x.com/> .\n" + "\n".join(
        f":n{i} :p :n{i + 1} ." for i in range(n - 1))
    e = inline(ttl, spark)
    raw = e.select_raw("SELECT ?s ?o { ?s :p+ ?o }")
    got = {(r["v_s"]["lex"], r["v_o"]["lex"]) for r in raw.collect()}
    want = {(f"http://x.com/n{i}", f"http://x.com/n{j}")
            for i in range(n) for j in range(i + 1, n)}
    assert got == want

    def anchored():
        raw2 = e.select_raw("SELECT ?o { :n0 :p* ?o }")
        return {r["v_o"]["lex"] for r in raw2.collect()}

    want2 = {f"http://x.com/n{i}" for i in range(n)}
    assert anchored() == want2
    with distributed_loops(spark):
        assert anchored() == want2


CYCLE_TTL = """@prefix : <http://x.com/> .
:a :p :b . :b :p :c . :c :p :a . :d :p :b .
:c :q "leaf" . :e :q :c .
"""


@pytest.fixture(scope="module")
def cycle(spark):
    return inline(CYCLE_TTL, spark)


def lexes(e, q):
    raw = e.select_raw(q)
    return sorted(tuple(r[c]["lex"].rsplit("/", 1)[-1] for c in raw.columns)
                  for r in raw.collect())


@pytest.mark.parametrize("q, want", [
    # + on a cycle that re-reaches the anchor: the anchor is in its cone
    ("SELECT ?o { :a :p+ ?o }", [("a",), ("b",), ("c",)]),
    # + from a node off the cycle: never re-reached, so not paired
    ("SELECT ?o { :d :p+ ?o }", [("a",), ("b",), ("c",)]),
    ("SELECT ?o { :d :p* ?o }", [("a",), ("b",), ("c",), ("d",)]),
    # backward closures from a literal anchor (reversed step)
    ('SELECT ?s { ?s (:q|:p)+ "leaf" }',
     [("a",), ("b",), ("c",), ("d",), ("e",)]),
    ('SELECT ?s { "leaf" (^:q)+ ?s }', [("c",), ("e",)]),
    # two overlapping VALUES cones keep per-anchor provenance
    ("SELECT ?s ?o { VALUES ?s { :a :d } ?s :p+ ?o }",
     [("a", "a"), ("a", "b"), ("a", "c"),
      ("d", "a"), ("d", "b"), ("d", "c")]),
])
def test_driver_tier_matches_distributed_loop(spark, cycle, monkeypatch, q, want):
    """Broadcast-sized steps with driver-side anchors run as a Python
    BFS (no distributed loop at all) and answer exactly what the
    distributed struct loop answers."""
    from sparkdon import paths

    with distributed_loops(spark):
        assert lexes(cycle, q) == want

    def no_loop(*a, **k):
        raise AssertionError("driver tier expected")

    monkeypatch.setattr(paths, "_anchored_loop", no_loop)
    assert lexes(cycle, q) == want


def test_driver_tier_iteration_guard(spark, monkeypatch):
    """A cone deeper than ``MAX_ITERATIONS`` levels raises in the driver
    tier as in the loops; one level shallower converges."""
    from sparkdon import paths
    from sparkdon.errors import QueryExecutionError

    e = inline("@prefix : <http://x.com/> .\n" + "\n".join(
        f":n{i} :p :n{i + 1} ." for i in range(5)), spark)  # n0 .. n5
    monkeypatch.setattr(paths, "MAX_ITERATIONS", 3)
    with pytest.raises(QueryExecutionError, match="did not converge"):
        e.select_raw("SELECT ?o { :n0 :p+ ?o }")
    assert lexes(e, "SELECT ?o { :n3 :p+ ?o }") == [("n4",), ("n5",)]


def test_anchored_closure_job_count(spark, monkeypatch):
    """A constant-anchored ``:p+`` over a small step costs at most two
    Spark jobs inside ``eval_path`` (the bounded step collect); the
    per-level distributed loop ran 54 here."""
    from sparkdon import paths
    from tests.conftest import spark_jobs

    e = inline("@prefix : <http://x.com/> .\n" + "\n".join(
        f":n{i} :p :n{(i + 1) % 7} ." for i in range(7)), spark)
    counts = []
    orig = paths.eval_path

    def counted(*a, **k):
        out, n = spark_jobs(spark, lambda: orig(*a, **k))
        counts.append(n)
        return out

    monkeypatch.setattr(paths, "eval_path", counted)
    got = lexes(e, "SELECT ?o { :n0 :p+ ?o }")
    assert got == [(f"n{i}",) for i in range(7)]
    assert counts and max(counts) <= 2
