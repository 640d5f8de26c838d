"""Shared gate registry for the pipeline package: every family module
registers its driver-contract entries here, and the package facade
(:mod:`sparkdon.pipeline`) re-exports ``QUERIES`` / ``ORACLE`` exactly
as the former monolithic module did.

SHARED-FRAME PINNING POLICY (r16/r17, the code twin of the
OPTIMIZATION_r16.md "Policy" paragraph).  Multi-consumer subtrees are
materialized once through :func:`pin_shared` instead of re-evaluated
per plan arm.  Eagerness rule: EAGER whenever any consumer is a
broadcast build or consumers are concurrent stages of one final plan
(a lazy frame would be materialized concurrently by the
broadcast-build thread and the main job — duplicated evaluation plus
block-manager convoys, the r16 measured pathology); LAZY only where
the FIRST consumer is provably synchronous and single-threaded (a
driver ``collect``/``count``, or an eager checkpoint downstream that
materializes the whole chain in one job) — the first action then
absorbs the materialization instead of paying a standalone job (the
r17 action-count cut).

FAULT-TOLERANCE TRADE-OFF (guide §5): the default primitive,
``localCheckpoint``, stores UNREPLICATED blocks on the executors and
TRUNCATES lineage — on a real cluster, losing an executor mid-query
kills the query instead of recomputing the lost partitions.  That is
the right trade at fixture scale and on a single-node local[*] runner
(no executor to lose that the driver would survive), but a multi-hour
100 TB dedup/ANN job on a real cluster should swap the primitive via
``SPARKDON_SHARED_FRAME_MODE``:

- ``local`` (default): ``localCheckpoint`` — fastest, unreplicated,
  lineage truncated.
- ``reliable``: ``DataFrame.checkpoint`` — blocks written to the
  session's checkpoint directory (``setCheckpointDir``, typically
  HDFS/object storage); survives executor loss.  The caller must have
  set a checkpoint dir.
- ``persist``: ``persist(MEMORY_AND_DISK)`` — keeps lineage, so lost
  partitions RECOMPUTE instead of failing; eager mode materializes via
  a count.  Heavier memory pressure; plan stays un-truncated (deep
  iterative lineages may re-grow — prefer ``reliable`` for loops).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Dict

from pyspark.sql import DataFrame, SparkSession

from sparkdon.sizing import spread_narrow_scan  # noqa: F401 — re-exported

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: Dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


#: Pipeline gates retired from the driver battery at a cycle-boundary
#: swap (the r16 swap retired ``x_dedup_substring_hashed`` and
#: ``x_embed_norm`` — same lifecycle as relational's RETIRED tier,
#: r15): they stay callable with their oracles so pytest keeps the
#: driver-style compare (tests/test_retired_gates.py), but no longer
#: occupy battery slots.
RETIRED: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
RETIRED_ORACLE: Dict[str, str] = {}


def retired(name: str, sql: str | None = None):
    def deco(fn):
        RETIRED[name] = fn
        if sql is not None:
            RETIRED_ORACLE[name] = sql
        return fn
    return deco


def pin_shared(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize a multi-consumer subtree once (module docstring has
    the policy and the fault-tolerance trade-off).  The primitive is
    selected by ``SPARKDON_SHARED_FRAME_MODE`` (read at call time so a
    long-lived session can be reconfigured): ``local`` (default) →
    ``localCheckpoint``; ``reliable`` → ``checkpoint`` (requires a
    checkpoint dir); ``persist`` → ``persist(MEMORY_AND_DISK)`` with an
    eager count when ``eager``."""
    mode = os.environ.get("SPARKDON_SHARED_FRAME_MODE", "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if mode == "persist":
        from pyspark import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    raise ValueError(
        f"SPARKDON_SHARED_FRAME_MODE={mode!r}: expected local | reliable "
        "| persist")


def sigmoid(z):
    """``1 / (1 + e^-z)`` as a Column — shared by every learned model
    (quality_lr, the hashed-n-gram classifier)."""
    from pyspark.sql import functions as F

    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def binary_logloss(p, y):
    """Clamped binary cross-entropy as a Column: the 1e-12 floor keeps
    ``log`` finite when a confident model meets a mislabeled row.  One
    definition so the clamp/precision discipline cannot drift between
    trainers."""
    from pyspark.sql import functions as F

    return -(y * F.log(F.greatest(p, F.lit(1e-12)))
             + (F.lit(1.0) - y) * F.log(F.greatest(F.lit(1.0) - p,
                                                   F.lit(1e-12))))


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Late-binding fixture loader: resolve ``table`` through the
    package facade at call time, so callers that patch
    ``sparkdon.pipeline.table`` (the old monolith's surface — several
    tests inject in-memory fixtures that way) redirect every family
    module's loads, exactly as they did when all gates lived in one
    module.  Unpatched, this is :func:`sparkdon.relational.table`."""
    from sparkdon import pipeline as _facade

    return _facade.table(spark, sf_dir, name)
