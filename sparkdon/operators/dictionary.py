"""Term-dictionary encoding for the triple store (SURVEY.md §4.3 "term
dictionary optional v2: int IDs for IRIs to shrink shuffles").

At 100 TB, shuffling triple joins on raw IRI strings moves ~60-120 bytes
per key; encoding terms as 64-bit IDs cuts shuffle volume ~8-15× and
makes join/group hashing a single long comparison.

Design (no global sort, no driver bottleneck):
- ``term_id`` = ``xxhash64(kind, lex, dt, lang)`` — computed per row,
  embarrassingly parallel, deterministic across runs/clusters.  Collision
  probability for n distinct terms is ~n²/2⁶⁵ (≈0.03 for a billion
  terms); :func:`build_dictionary` verifies injectivity on the actual
  data and raises if a collision exists, at which point the salvage path
  is a per-collision disambiguation — not implemented until someone wins
  that lottery.
- the dictionary (id → term) is itself a DataFrame, partitioned by id,
  used only at the edges (decode of final results); the whole query plan
  runs on longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkdon.errors import SparkdonError

#: sentinel so (dt=NULL) hashes differently from (dt='') — built lazily,
#: Column construction needs an active SparkContext
NULL_SENTINEL = "\x00"


def term_id(kind, lex, dt=None, lang=None):
    """64-bit content hash of a term — the shared id function for both the
    storage-layer dictionary and the compiler's ``use_ids`` join mode."""
    null_str = F.lit(None).cast("string")
    dt = dt if dt is not None else null_str
    lang = lang if lang is not None else null_str
    return F.xxhash64(kind, lex, F.coalesce(dt, F.lit(NULL_SENTINEL)),
                      F.coalesce(lang, F.lit(NULL_SENTINEL)))


def term_id_sql(kind: str, lex: str, dt: str = "CAST(NULL AS STRING)",
                lang: str = "CAST(NULL AS STRING)") -> str:
    """Spark SQL text of :func:`term_id` over SQL expressions (column
    names or engine literals, never query constants); ``chr(0)`` is
    :data:`NULL_SENTINEL`, so both forms give the same bits."""
    return (f"xxhash64({kind}, {lex}, coalesce({dt}, chr(0)), "
            f"coalesce({lang}, chr(0)))")


_tid = term_id


def build_dictionary(triples: DataFrame, check_collisions: bool = True) -> DataFrame:
    """All distinct terms with their 64-bit IDs: (term_id, kind, lex, dt, lang)."""
    subs = triples.select(
        F.col("s_kind").alias("kind"), F.col("s").alias("lex"),
        F.lit(None).cast("string").alias("dt"), F.lit(None).cast("string").alias("lang"))
    preds = triples.select(
        F.lit("iri").alias("kind"), F.col("p").alias("lex"),
        F.lit(None).cast("string").alias("dt"), F.lit(None).cast("string").alias("lang"))
    objs = triples.select(
        F.col("o_kind").alias("kind"), F.col("o").alias("lex"),
        F.col("o_dt").alias("dt"), F.col("o_lang").alias("lang"))
    terms = subs.unionByName(preds).unionByName(objs).dropDuplicates()
    out = terms.select(
        _tid(F.col("kind"), F.col("lex"), F.col("dt"), F.col("lang")).alias("term_id"),
        "kind", "lex", "dt", "lang",
    )
    if check_collisions:
        clashes = out.groupBy("term_id").count().filter(F.col("count") > 1).limit(1)
        if not clashes.isEmpty():
            raise SparkdonError(
                "xxhash64 term-id collision detected — disambiguate or widen ids")
    return out


def encode_triples(triples: DataFrame) -> DataFrame:
    """Triple table → (s_id, p_id, o_id) longs.  Pure map stage — IDs are
    content hashes, so no dictionary join is needed to encode."""
    return triples.select(
        _tid(F.col("s_kind"), F.col("s"), F.lit(None), F.lit(None)).alias("s_id"),
        _tid(F.lit("iri"), F.col("p"), F.lit(None), F.lit(None)).alias("p_id"),
        _tid(F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang")).alias("o_id"),
    )


def build_dense_dictionary(triples: DataFrame) -> DataFrame:
    """Distinct terms with DENSE sequential ids: (dense_id, kind, lex, dt, lang).

    The content-hash ids of :func:`term_id` are join-free to compute but
    incompressible (uniform 64-bit noise), so on corpora whose term
    strings compress well the id-encoded shuffle can lose its wire-byte
    win to LZ4 (measured in PERF.md).  Dense ids fix that: terms sorted
    by (kind, lex, dt, lang) get consecutive longs, so ids that co-occur
    (same namespace, same table) are numerically adjacent and the shuffle
    stream delta/dictionary-compresses.

    Built with ``zipWithIndex`` — a sortWithinPartitions after a range
    repartition plus one count-per-partition job, NO single-partition
    window (a ``row_number() OVER (ORDER BY ...)`` would serialize the
    dictionary through one task at 100 TB).  Encoding triples with dense
    ids requires a dictionary JOIN per position (ids are positional, not
    content-derived) — a one-time ingestion cost a persistent store
    amortizes across every later query; content-hash mode stays the
    default for ad-hoc sessions.
    """
    subs = triples.select(
        F.col("s_kind").alias("kind"), F.col("s").alias("lex"),
        F.lit(None).cast("string").alias("dt"), F.lit(None).cast("string").alias("lang"))
    preds = triples.select(
        F.lit("iri").alias("kind"), F.col("p").alias("lex"),
        F.lit(None).cast("string").alias("dt"), F.lit(None).cast("string").alias("lang"))
    objs = triples.select(
        F.col("o_kind").alias("kind"), F.col("o").alias("lex"),
        F.col("o_dt").alias("dt"), F.col("o_lang").alias("lang"))
    terms = (subs.unionByName(preds).unionByName(objs).dropDuplicates()
             .repartitionByRange("kind", "lex")
             .sortWithinPartitions("kind", "lex", "dt", "lang"))
    spark = terms.sparkSession
    schema = terms.schema
    pairs = terms.rdd.zipWithIndex().map(lambda t: (t[1], *t[0]))
    from pyspark.sql.types import LongType, StructField, StructType
    out_schema = StructType([StructField("dense_id", LongType(), False)]
                            + list(schema.fields))
    return spark.createDataFrame(pairs, out_schema)


def encode_triples_dense(triples: DataFrame, dense_dict: DataFrame) -> DataFrame:
    """Triple table → (s_id, p_id, o_id) dense longs via three dictionary
    joins (shuffle joins at scale; the dictionary is bigger than any
    broadcast threshold on a real corpus).  One-time ingestion cost."""
    def dict_for(prefix: str) -> DataFrame:
        return dense_dict.select(
            F.col("dense_id").alias(f"{prefix}_id"),
            F.col("kind").alias(f"{prefix}__kind"), F.col("lex").alias(f"{prefix}__lex"),
            F.col("dt").alias(f"{prefix}__dt"), F.col("lang").alias(f"{prefix}__lang"))

    enc = triples.select(
        F.col("s_kind"), F.col("s"), F.col("p"),
        F.col("o_kind"), F.col("o"), F.col("o_dt"), F.col("o_lang"))
    sd, pd_, od = dict_for("s"), dict_for("p"), dict_for("o")
    enc = enc.join(sd, (enc["s_kind"] == sd["s__kind"]) & (enc["s"] == sd["s__lex"])
                   & sd["s__dt"].isNull() & sd["s__lang"].isNull(), "left")
    enc = enc.join(pd_, (pd_["p__kind"] == "iri") & (enc["p"] == pd_["p__lex"])
                   & pd_["p__dt"].isNull() & pd_["p__lang"].isNull(), "left")
    enc = enc.join(od, (enc["o_kind"] == od["o__kind"]) & (enc["o"] == od["o__lex"])
                   & enc["o_dt"].eqNullSafe(od["o__dt"])
                   & enc["o_lang"].eqNullSafe(od["o__lang"]), "left")
    return enc.select("s_id", "p_id", "o_id")


def decode_column(encoded: DataFrame, id_col: str, dictionary: DataFrame) -> DataFrame:
    """Join an id column back to its term (used at the result edge only)."""
    d = dictionary.select(
        F.col("term_id").alias(id_col),
        F.col("kind").alias(f"{id_col}_kind"), F.col("lex").alias(f"{id_col}_lex"),
        F.col("dt").alias(f"{id_col}_dt"), F.col("lang").alias(f"{id_col}_lang"))
    return encoded.join(d, on=id_col, how="left")
