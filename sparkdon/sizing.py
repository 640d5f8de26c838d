"""Shared size/threshold helpers for deliberate join-strategy picks.

One definition of the ``spark.sql.autoBroadcastJoinThreshold`` parser so
the closure loops (:mod:`sparkdon.paths`) and the PageRank loop
(:mod:`sparkdon.pipeline.clusters`) cannot drift on the subtle
suffix-parsing rules (r17, advisor find: two hand-rolled copies), and
one :func:`spread_narrow_scan` for the relational flagship and the
pipeline gates (a leaf module, so neither package imports the other)."""

from __future__ import annotations


def broadcast_threshold_bytes(spark) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes (≤0 disables).

    Accepts the same forms Spark does: a bare byte count or a
    ``k/m/g``/``kb/mb/gb``/``b`` suffix, case-insensitive."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
                             "10485760")).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw, mult = raw[: -len(suf)], m
            break
    try:
        return int(float(raw)) * mult
    except ValueError:
        return 10 << 20


def spread_narrow_scan(docs):
    """Spread a too-narrow batch scan before heavy narrow per-row work.

    A zero-shuffle plan inherits the SCAN's partitioning, and a small
    corpus arriving as one parquet file runs its whole narrow stage on
    one core (gopher_repetition measured 8.0 → 3.2 s on the 5k
    fixture; the flagship's 600k-row broadcast-join/agg chain ran on 1
    of 32 cores).  Repartitions ONLY when the scan has fewer partitions
    than the cluster — at corpus scale partitions >= cores and no
    shuffle is added.  Streaming frames pass through untouched (.rdd
    is illegal on them; micro-batch planning spreads those itself)."""
    if docs.isStreaming:
        return docs
    p = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < p:
        return docs.repartition(p)
    return docs
