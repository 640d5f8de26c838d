"""Token/shingle-level deduplication: exact, fingerprint, winnowing,
MinHash LSH, n-gram Jaccard, SimHash, chunk-level and cross-corpus dedup.

Split out of the former monolithic ``sparkdon/pipeline.py`` (round 9);
every gate registers into the shared :mod:`sparkdon.pipeline` registry,
so ``pipeline.QUERIES`` / ``pipeline.ORACLE`` and every public name are
unchanged for callers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ._registry import (pin_shared, register, retired, spread_narrow_scan,
                        table)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------

@register(
    "x_dedup_exact",
    "SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS copies "
    "FROM documents GROUP BY md5(text)",
)
def x_dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on content; keeper = min doc_id.
    One shuffle on the hash; map-side partial agg handles the heavy
    duplicates."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(F.min("doc_id").alias("keeper"), F.count(F.lit(1)).alias("copies"))
    )


@register(
    "x_fingerprint",
    "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp "
    "FROM documents",
)
def x_fingerprint(spark, sf_dir):
    """Document fingerprint: normalization (lower, strip non-alnum) + md5 —
    the canonical near-exact-dup key."""
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", "").cast("binary")).alias("fp"),
    )


#: winnowing fingerprint parameters: k-token grams, window of w gram
#: hashes; each window contributes its (lexicographic) min md5 — the
#: standard MOSS/winnowing scheme, giving position-robust fingerprints
#: with guaranteed coverage (every w consecutive grams share a pick).
WINNOW_K, WINNOW_W = 3, 4


@register(
    "x_fingerprint_winnow",
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "g AS (SELECT doc_id, list_transform(generate_series(1, len(t) - 2), "
    " i -> md5(concat_ws(' ', t[i], t[i+1], t[i+2]))) AS h FROM toks), "
    "w AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(h) - 3), "
    " j -> list_min(h[j:j+3]))) AS fp FROM g) "
    "SELECT DISTINCT doc_id, fp FROM w",
)
def x_fingerprint_winnow(spark, sf_dir):
    """Rolling-hash document fingerprinting (winnowing): md5 over each
    3-token gram, then the min hash of every 4-gram window, dedup'd per
    document.  Pure codegen array expressions — the token and gram-hash
    arrays are lambda-bound so each is computed once per row; a narrow
    map + explode, no shuffle before the final DISTINCT.  md5-string
    mins are portable, so the DuckDB oracle reproduces fingerprints
    bit-for-bit."""
    k, w = WINNOW_K, WINNOW_W
    docs = table(spark, sf_dir, "documents")
    grams = (
        f"transform(if(size(t) >= {k}, sequence(1, size(t) - {k - 1}), array()), "
        " i -> md5(cast(concat_ws(' ', element_at(t, i), element_at(t, i+1), "
        "  element_at(t, i+2)) as binary)))"
    )
    wins = (
        f"transform(if(size(g) >= {w}, sequence(1, size(g) - {w - 1}), array()), "
        f" j -> array_min(slice(g, j, {w})))"
    )
    expr = (f"transform(array(split(text, ' ')), t -> "
            f" transform(array({grams}), g -> {wins})[0])[0]")
    return (
        docs.select("doc_id", F.explode(F.array_distinct(F.expr(expr))).alias("fp"))
    )


#: shared SQL fragments for shingling (DuckDB side)
_DUCK_SHINGLES = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t)-2), "
    " i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS s FROM toks) "
)


def _spark_shingles(df: DataFrame) -> DataFrame:
    """3-word shingles per doc, computed with array expressions (codegen).

    The ``transform(array(split(..)), t -> ...)`` wrapper binds the token
    array to a lambda variable so the text is tokenized ONCE per row —
    referencing ``split(text)`` directly inside the per-shingle lambda
    would re-split the document for every element access.

    Documents shorter than 3 tokens yield an EMPTY shingle array: the
    index range must be guarded with ``if(size >= 3, ...)`` because
    Spark's ``sequence(1, 0)`` is the *descending* [1, 0] (not empty
    like DuckDB's generate_series), which would drive ``element_at``
    out of bounds and kill the whole job on the first short document."""
    return df.select(
        "doc_id",
        F.expr(
            "transform(array(split(text, ' ')), t -> "
            " transform(if(size(t) >= 3, sequence(1, size(t) - 2), array()), "
            "  i -> concat_ws(' ', element_at(t, i), element_at(t, i+1), "
            "   element_at(t, i+2))))[0]"
        ).alias("shingles"),
    )


N_HASHES = 16
BAND_ROWS = 4  # 4 bands x 4 rows
MINHASH_P = 4_294_967_291  # largest prime < 2^32


def _minhash_bands(spark, sf_dir) -> DataFrame:
    """Per-doc banded MinHash signature.

    minhash_k(doc) = min over shingles of (h1 + k·h2) mod P, where
    h1/h2 are the two 32-bit halves of ONE md5 per shingle and P is the
    largest prime < 2³² (Kirsch-Mitzenmacher double hashing — k derived
    hash functions from one strong hash).  One md5 per shingle instead
    of one per (shingle, k) is a 16× cut in hash work — md5 dominated
    the signature pass.  The mod-P wrap is what keeps the k functions
    usefully independent: without it k·h2 dominates the ordering for
    large k and the 16 mins collapse toward argmin(h2), inflating
    false-positive buckets ~6×.  All intermediates stay < 16·2³² ≪ 2⁶³,
    so no overflow semantics are involved and DuckDB reproduces every
    value exactly.

    Shape: explode shingles once, then ONE hash-aggregate computing all
    16 mins (map-side partial min → tiny shuffle keyed by doc_id).  A
    per-column ``array_min(transform(...))`` formulation is 10× slower:
    Catalyst collapses the shingle projection into every signature
    column, re-tokenizing the document 16 times.
    """
    return _bands_of(table(spark, sf_dir, "documents"))


def _bands_of(docs: DataFrame) -> DataFrame:
    """Banded MinHash signature of an arbitrary (doc_id, text) frame —
    the fixture-independent body of :func:`_minhash_bands` (tests and
    the overflow-routing path feed constructed corpora through it)."""
    md5 = F.md5(F.col("s").cast("binary"))
    # r16: the shingle explode + per-shingle md5 is the heavy narrow
    # segment of the signature pass; spread it off a one-file scan's
    # single split (guide §2.5 — no-op once partitions >= cores)
    docs = spread_narrow_scan(docs)
    exploded = _spark_shingles(docs).select(
        "doc_id", F.explode("shingles").alias("s")
    ).select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    sigs = exploded.groupBy("doc_id").agg(
        *[
            F.min((F.col("h1") + k * F.col("h2")) % MINHASH_P).alias(f"mh{k}")
            for k in range(N_HASHES)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"mh{b * BAND_ROWS + r}").cast("string")
                                     for r in range(BAND_ROWS)]).cast("binary")).alias("bk"),
        )
        for b in range(N_HASHES // BAND_ROWS)
    ]
    # one explode instead of a 4-way union — the signature aggregate is
    # evaluated once, not once per band
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bandkey")
    ).select("doc_id", F.col("bandkey.band").alias("band"), F.col("bandkey.bk").alias("bk"))


_DUCK_BANDS = (
    _DUCK_SHINGLES +
    ", hs AS (SELECT doc_id, "
    "  CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h1, "
    "  CAST(concat('0x', substr(md5(s), 9, 8)) AS BIGINT) AS h2 FROM sh), "
    "mh AS (SELECT doc_id, seed, min((h1 + seed * h2) % 4294967291) AS m "
    "  FROM hs, (SELECT unnest(generate_series(0, 15)) AS seed) seeds "
    "  GROUP BY doc_id, seed), "
    "bands AS (SELECT doc_id, seed // 4 AS band, "
    "  md5(string_agg(m::VARCHAR, '|' ORDER BY seed)) AS bk "
    "  FROM mh GROUP BY doc_id, seed // 4) "
)


# Degenerate buckets (boilerplate-heavy corpora: empty docs, license
# headers) otherwise blow up quadratically — a 1 M-doc bucket is 5·10¹¹
# pairs.  Capped buckets are DROPPED from pair generation and surfaced
# via minhash_overflow_buckets(); at 100 TB an operator routes them to
# exact dedup instead.  The cap is far above any sf0.01 bucket size, so
# the oracle gate is unchanged.
MINHASH_BUCKET_CAP = 1000


def _bucket_pairs(bands: DataFrame, cap: int = MINHASH_BUCKET_CAP) -> DataFrame:
    """Bucket-local pair generation from sorted id lists, with a size cap."""
    buckets = (
        bands.groupBy("band", "bk")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= F.lit(cap)))
    )
    pairs = buckets.select(
        F.explode(
            F.flatten(
                F.expr(
                    "transform(ids, (x, i) -> "
                    " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS d1, y AS d2)))"
                )
            )
        ).alias("pair")
    )
    return pairs.select(F.col("pair.d1").alias("d1"), F.col("pair.d2").alias("d2")).distinct()


def minhash_overflow_buckets(spark, sf_dir,
                             cap: int = MINHASH_BUCKET_CAP) -> DataFrame:
    """Monitoring twin of x_dedup_minhash: the (band, bk, n_docs) buckets
    the cap excluded from pair generation."""
    return (
        _minhash_bands(spark, sf_dir)
        .groupBy("band", "bk")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > cap)
    )


def routed_minhash_pairs(docs: DataFrame,
                         cap: int = MINHASH_BUCKET_CAP) -> DataFrame:
    """MinHash-LSH candidate pairs with the overflow fallback WIRED IN
    (not just monitored): buckets over the cap are excluded from
    quadratic pair generation, and their documents are routed through
    exact-hash dedup instead — identical-text groups emit star pairs
    (min-id representative ↔ every other member).  The union is the
    production candidate set for a boilerplate-heavy corpus.

    Why this is the right 100 TB fallback: a degenerate bucket is almost
    always an *exact*-duplicate pile (empty docs, license headers), and
    exact groups need only |group|−1 star edges to land every member in
    the right connected component downstream — linear where bucket-local
    pair generation would be quadratic.  Near-dup-but-not-identical
    members of an overflowed bucket are the one recall loss; they are
    exactly what ``minhash_overflow_buckets`` keeps reporting for
    operator follow-up.

    Shapes: the exact path is one md5 map + one window-min keyed on the
    text hash — no collected id arrays, so even a single million-doc
    identical pile streams through; the star explode is the filter
    ``doc_id != rep``."""
    bands = _bands_of(docs)
    lsh = _bucket_pairs(bands, cap)
    over = (
        bands.groupBy("band", "bk")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > cap)
        .select("band", "bk")
    )
    over_docs = bands.join(over, ["band", "bk"]).select("doc_id").distinct()
    texts = docs.join(over_docs, "doc_id").select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("th"))
    w = Window.partitionBy("th")
    star = (
        texts.withColumn("d1", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("d1"))
        .select("d1", F.col("doc_id").alias("d2"))
    )
    return lsh.unionByName(star).distinct()


@register(
    "x_dedup_minhash",
    _DUCK_BANDS +
    "SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM bands a "
    "JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id",
)
def x_dedup_minhash(spark, sf_dir):
    """Near-dup candidates via banded MinHash LSH (shingle → minhash →
    band → bucket).  Pairs are generated WITHIN each bucket from a
    sorted collect_list — one aggregate over the signatures instead of a
    self-join (which would re-evaluate the signature subtree per side).
    Bucket fan-out is bounded by bucket size (capped at
    MINHASH_BUCKET_CAP), never corpus size."""
    return _bucket_pairs(_minhash_bands(spark, sf_dir))


@register(
    "x_dedup_jaccard",
    # every document keeps a row even with ZERO shingles (short/empty
    # docs — the explode drops them, so the pair frame must rebuild
    # from documents; r13 random-corpus fuzz find): empty-union pairs
    # then divide by zero, which DuckDB yields as NULL — the Spark
    # side's explicit guard emits the same NULL
    _DUCK_SHINGLES +
    ", shl AS (SELECT doc_id, list_distinct(list(s)) AS sh FROM sh GROUP BY doc_id), "
    "ds AS (SELECT d.doc_id, coalesce(shl.sh, CAST([] AS VARCHAR[])) AS sh "
    " FROM documents d LEFT JOIN shl USING (doc_id)) "
    "SELECT a.doc_id AS d1, b.doc_id AS d2, "
    "CAST(FLOOR(10000.0 * len(list_intersect(a.sh, b.sh)) "
    " / len(list_distinct(a.sh || b.sh))) AS BIGINT) AS jac_scaled "
    "FROM ds a JOIN ds b ON b.doc_id = a.doc_id + 1",
)
def x_dedup_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard similarity on consecutive-doc pairs (the
    verification stage that would follow LSH candidate generation).

    A pair whose union of shingle sets is EMPTY (both docs shorter than
    the shingle width) has undefined similarity: emit NULL, matching
    the DuckDB oracle's division-by-zero result — under ANSI mode the
    unguarded divide is a job-killing ArithmeticException, which the
    fixture (no short docs) never exercised; the random-corpus
    differential battery (r13) did."""
    # spread + checkpoint (r16, guide §2.4/§2.5): sh feeds both
    # sides of the consecutive-doc self-join — one evaluation of the
    # shingle pass instead of two, computed on all cores
    sh = _spark_shingles(
        spread_narrow_scan(table(spark, sf_dir, "documents"))).select(
        "doc_id", F.array_distinct("shingles").alias("sh")) \
        .transform(pin_shared)
    a, b = sh.alias("a"), sh.alias("b")
    union_n = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(
        union_n > 0,
        F.floor(
            10000.0
            * F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
            / union_n))
    return (
        a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1)
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            jac.alias("jac_scaled"),
        )
    )


_SIMHASH_ORACLE = (
    # token hash = first 8 md5 bytes as unsigned big-endian, split into two
    # 32-bit halves so every shift stays inside BIGINT; bit i accumulates
    # +1/-1 per token, and the final word re-packs bit 63 as the sign bit
    # (-2^63) to match Spark's signed LongType.  sum(BIGINT) is HUGEINT in
    # DuckDB, hence the outer CAST.
    "WITH toks AS (SELECT doc_id, "
    " unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok "
    " FROM documents), "
    "h AS (SELECT doc_id, "
    " CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS hi, "
    " CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS lo FROM toks), "
    "bits AS (SELECT doc_id, p.i, "
    " SUM(CASE WHEN (CASE WHEN p.i < 32 THEN (lo >> p.i) & 1 "
    "  ELSE (hi >> (p.i - 32)) & 1 END) = 1 THEN 1 ELSE -1 END) AS acc "
    " FROM h, (SELECT unnest(generate_series(0, 63)) AS i) p "
    " GROUP BY doc_id, p.i), "
    "sh AS (SELECT doc_id, CAST(SUM(CASE WHEN acc > 0 THEN "
    " (CASE WHEN i = 63 THEN -9223372036854775808 ELSE (1::BIGINT << i) END) "
    " ELSE 0 END) AS BIGINT) AS simhash FROM bits GROUP BY doc_id) "
    "SELECT d.doc_id, coalesce(sh.simhash, 0) AS simhash "
    "FROM documents d LEFT JOIN sh USING (doc_id)"
)


@register("x_dedup_simhash", _SIMHASH_ORACLE)
def x_dedup_simhash(spark, sf_dir):
    """SimHash-64 per document via Arrow-batched ``mapInPandas``.
    Deterministic: token hashes come from md5, so the DuckDB oracle
    replicates the bit math exactly (md5-hex halves → 32-bit shifts →
    ±1 bit votes → signed-64 repack).  At scale this is one narrow map
    stage — no shuffle.  The signature map IS the work and inherits the
    scan's partitioning, so a one-file fixture would run it on one core:
    ``spread_narrow_scan`` guards that (measured 2.09 → 0.64 s at sf0.1,
    PERF.md r12 A/B; a no-op once scan partitions ≥ cores)."""
    def compute(batches):
        # r16 (guide §4.2 "do the heavy lifting in native code inside
        # the UDF"): md5 was already C (hashlib), but the 64-slot bit
        # voting ran as two 64-iteration Python loops PER TOKEN.  The
        # votes are now one vectorized numpy pass per document —
        # bit-identical math (same md5-prefix uint64, same >0 vote
        # threshold, same signed-64 repack), pinned by the oracle gate
        # and the pytest fixture.
        import hashlib

        import numpy as np
        import pandas as pd

        shifts = np.arange(64, dtype=np.uint64)

        for pdf in batches:
            out = []
            for t in pdf["text"]:
                toks = (t or "").split()
                if not toks:
                    out.append(0)
                    continue
                hs = np.frombuffer(
                    b"".join(hashlib.md5(tok.encode()).digest()[:8]
                             for tok in toks),
                    dtype=">u8").astype(np.uint64)
                bits = (hs[:, None] >> shifts[None, :]) & np.uint64(1)
                acc = (2 * bits.astype(np.int64) - 1).sum(axis=0)
                v = int((((acc > 0).astype(np.uint64)) << shifts).sum(
                    dtype=np.uint64))
                # reinterpret as signed 64-bit for Spark LongType
                out.append(v - (1 << 64) if v >= (1 << 63) else v)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    docs = spread_narrow_scan(table(spark, sf_dir, "documents"))
    return docs.select("doc_id", "text").mapInPandas(
        compute, "doc_id long, simhash long")


#: passage granularity for chunk-level exact dedup: consecutive
#: non-overlapping token windows (the whitespace-token analogue of the
#: CCNet/RefinedWeb line-level dedup — the fixture has no newlines)
CHUNK_TOKENS = 10

#: occurrence count at which a chunk/window key takes the broadcast lane
#: of :func:`_join_back_skew_robust`.  The hot-key SET size is bounded by
#: |occurrences| / threshold — at 10¹² corpus tokens and 10⁵ threshold
#: that is ≤ 10⁷ keys, of which only the truly pathological few carry
#: meaningful weight; raise the bar if the broadcast estimate exceeds the
#: driver budget.  Module-level so tests (and operators with measured
#: corpora) can lower it to exercise the hot lane.
HOT_KEY_MIN_COUNT = 100_000


def _join_back_skew_robust(occ: DataFrame, per_key: DataFrame, key: str,
                           hot_min: int | None = None) -> DataFrame:
    """Join per-key aggregates back to their occurrences, skew-robustly.

    ``per_key`` must carry a ``cnt`` column (occurrences per key).  The
    round-9 agg+join rewrite removed the window co-residency constraint,
    but measurement (scripts/skew_probe.py, round 10) showed the claimed
    AQE skew-split never actually engages for this plan shape: the
    aggregate's output partitioning (hash by key) already satisfies the
    sort-merge join's requirement, so agg → sort → join fuse into ONE
    stage with no shuffle boundary on the build side, and
    ``OptimizeSkewedJoin`` — which pattern-matches a join whose BOTH
    children are shuffle stages — cannot fire.  A hot key's occurrences
    therefore still pile into a single reducer task.

    The fix is a differentiated join, all plain DataFrame ops:

    - keys with ``cnt >= hot_min`` (bounded set: ≤ |occ| / hot_min rows
      by construction) join through a BROADCAST lane — the hot key's
      occurrences never co-locate at all;
    - the remaining keys join through the normal shuffle lane, which is
      skew-free by construction (every key in it has < hot_min rows);
      hot occurrences are peeled off that lane by a broadcast anti-join
      against the (tiny) hot key set.

    ``per_key`` is eagerly ``localCheckpoint``-ed because three plan
    arms read it (hot lane, anti filter, cold lane — two of them
    BROADCAST builds on their own threads, so the materialization must
    complete before the arms race for it): one materialization instead
    of three recomputed aggregations — the same "persist the chunk
    dictionary" move a production ExactSubstr pipeline makes.

    On a corpus with NO hot key (every gate fixture) the hot side is
    empty, the broadcast is an empty relation, and the output is
    bit-identical to the plain join — which is how the oracle gates keep
    certifying this exact production path."""
    hot_min = HOT_KEY_MIN_COUNT if hot_min is None else hot_min
    per_key = per_key.transform(pin_shared)
    hot = per_key.filter(F.col("cnt") >= hot_min)
    cold = per_key.filter(F.col("cnt") < hot_min)
    occ_hot = occ.join(F.broadcast(hot), key, "inner")
    occ_cold = (occ.join(F.broadcast(hot.select(key)), key, "left_anti")
                .join(cold, key))
    return occ_hot.unionByName(occ_cold)


def _chunk_expr(n: int = CHUNK_TOKENS) -> str:
    """Spark SQL expression: the text column's consecutive
    non-overlapping ``n``-token chunk array (lambda-bound so the text
    tokenizes once per row).  Shared by :func:`x_chunk_dedup` and its
    invariant test so the chunking rule has exactly one definition."""
    return (
        "transform(array(split(text, ' ')), t -> "
        " transform(if(size(t) >= 1, sequence(1, cast(ceil(size(t) / "
        f"{n}.0) as int)), array()), "
        f" i -> concat_ws(' ', slice(t, (i-1)*{n}+1, {n}))))[0]"
    )


@register(
    "x_chunk_dedup",
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "cl AS (SELECT doc_id, list_transform("
    f" generate_series(1, CAST(ceil(len(t) / {CHUNK_TOKENS}.0) AS BIGINT)), "
    f" i -> array_to_string(t[(i-1)*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}], ' ')) AS cs "
    " FROM toks), "
    "ch AS (SELECT doc_id, unnest(generate_series(1, len(cs))) AS ci, "
    " unnest(cs) AS chunk FROM cl), "
    "k AS (SELECT doc_id, ci, chunk, row_number() OVER "
    " (PARTITION BY chunk ORDER BY doc_id, ci) AS rn FROM ch) "
    "SELECT doc_id, COUNT(*) AS n_chunks, "
    "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    "md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ci), "
    " '')) AS clean_md5 FROM k GROUP BY doc_id",
)
def x_chunk_dedup(spark, sf_dir):
    """Passage-level exact dedup (the line-dedup pass of CCNet /
    RefinedWeb, at 10-token chunk granularity since the fixture has no
    newlines): split every document into consecutive non-overlapping
    token chunks, keep only the globally FIRST occurrence of each chunk
    (ordered by doc_id, then position), and reassemble the cleaned
    text.  Output per document: chunk count, kept count, and the md5 of
    the reassembled text — the oracle verifies the reassembly
    byte-for-byte, so chunking, the keep rule, and the ordered
    re-concatenation are all checked.

    100 TB shape (r9 rewrite + r10 hot-lane fix): the keep rule is
    computed as a chunk-keyed AGGREGATE — min(struct(doc_id, ci)) per
    chunk — joined back to the occurrences, NOT as a row_number window.
    Identical output (rn=1 ⟺ the row IS the min struct), but the
    aggregate runs a map-side partial combine — a boilerplate chunk
    occurring 10M times (license headers, the 100 TB pathology) reduces
    to one row per map task before the shuffle — and the join back runs
    through :func:`_join_back_skew_robust`, whose broadcast hot lane
    keeps a hot chunk's occurrences from ever co-locating on one
    reducer (measured in scripts/skew_probe.py; AQE alone cannot split
    this join — see the helper's docstring).  Then one doc_id shuffle
    for reassembly."""
    docs = spread_narrow_scan(table(spark, sf_dir, "documents"))
    # ch feeds the first-occurrence agg AND both join-back lanes —
    # checkpointed so the scan + chunk explode is evaluated
    # once (r16, guide §2.4); spread keeps it parallel (§2.5)
    ch = docs.select(
        "doc_id", F.posexplode(F.expr(_chunk_expr())).alias("p", "chunk")
    ).select("doc_id", (F.col("p") + 1).alias("ci"), "chunk") \
        .transform(pin_shared)
    first = ch.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "ci")).alias("first_occ"),
        F.count(F.lit(1)).alias("cnt"))
    k = _join_back_skew_robust(ch, first, "chunk").withColumn(
        "is_first",
        (F.col("first_occ") == F.struct("doc_id", "ci")).cast("int"))
    kept = F.when(F.col("is_first") == 1, F.struct("ci", "chunk"))
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("is_first").cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["chunk"]),
                " ",
            ).cast("binary")
        ).alias("clean_md5"),
    )


@register(
    "x_dedup_intra",
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
    "cl AS (SELECT doc_id, list_transform("
    f" generate_series(1, CAST(ceil(len(t) / {CHUNK_TOKENS}.0) AS BIGINT)), "
    f" i -> array_to_string(t[(i-1)*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}], ' ')) AS cs "
    " FROM toks), "
    "ch AS (SELECT doc_id, unnest(generate_series(1, len(cs))) AS ci, "
    " unnest(cs) AS chunk FROM cl), "
    "k AS (SELECT doc_id, ci, chunk, row_number() OVER "
    " (PARTITION BY doc_id, chunk ORDER BY ci) AS rn FROM ch) "
    "SELECT doc_id, COUNT(*) AS n_chunks, "
    "CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, "
    "md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN chunk END, ' ' ORDER BY ci), "
    " '')) AS clean_md5 FROM k GROUP BY doc_id",
)
def x_dedup_intra(spark, sf_dir):
    """WITHIN-document repeated-chunk removal (round 9) — the intra-doc
    pass of the CCNet/RefinedWeb line-dedup family: a chunk repeated
    inside the SAME document keeps only its first occurrence, but may
    freely repeat across documents (that cross-doc case is
    :func:`x_chunk_dedup`'s job).  This is the stage that strips
    within-page boilerplate repetition — repeated nav blocks, footer
    echoes, copy-pasted paragraphs — before cross-corpus dedup sees the
    text.  Output per document: chunk count, kept count, and the md5 of
    the reassembled cleaned text (byte-verified by the oracle).

    100 TB shape: strictly easier than the cross-doc variant — the
    dedup window keys on (doc_id, chunk), so the shuffle carries
    doc-locality and NO global hot groups exist by construction (a
    chunk's group never outgrows its own document).  One (doc_id,
    chunk) shuffle for the window, one doc_id shuffle for reassembly —
    and on a doc_id-BUCKETED corpus BOTH disappear (the doc_id
    HashPartitioning satisfies the (doc_id, chunk) clustering by the
    subset rule, and the reassembly consumes the same layout):
    plan-asserted zero-Exchange in
    tests/test_bucketing.py::test_bucketed_corpus_intra_dedup_is_exchange_free."""
    docs = table(spark, sf_dir, "documents")
    ch = docs.select(
        "doc_id", F.posexplode(F.expr(_chunk_expr())).alias("p", "chunk")
    ).select("doc_id", (F.col("p") + 1).alias("ci"), "chunk")
    w = Window.partitionBy("doc_id", "chunk").orderBy("ci")
    k = ch.withColumn("rn", F.row_number().over(w))
    kept = F.when(F.col("rn") == 1, F.struct("ci", "chunk"))
    return k.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long")
        .alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(kept)),
                            lambda s: s["chunk"]),
                " ",
            ).cast("binary")
        ).alias("clean_md5"),
    )


@register(
    "x_cross_dedup",
    _DUCK_BANDS +
    "SELECT n.doc_id, "
    "CAST(COUNT(DISTINCT r.doc_id) AS BIGINT) AS n_ref_hits, "
    "CAST(CASE WHEN COUNT(r.doc_id) > 0 THEN 1 ELSE 0 END AS BIGINT) "
    " AS is_dup "
    "FROM (SELECT * FROM bands WHERE doc_id % 97 <> 0) n "
    "LEFT JOIN (SELECT * FROM bands WHERE doc_id % 97 = 0) r "
    " ON n.band = r.band AND n.bk = r.bk "
    "GROUP BY n.doc_id",
)
def x_cross_dedup(spark, sf_dir):
    """Cross-corpus near-dup screening — the incremental-ingestion
    batch story: every NEW document (here the doc_id % 97 ≠ 0 slice)
    is checked for MinHash band collisions against a REFERENCE corpus
    (the % 97 = 0 slice standing in for 'what we already trained on'),
    WITHOUT any new-vs-new pairing.  The near-dup complement of exact
    8-gram ``x_contamination``, and the batch twin of the
    streaming-vs-static band join (streaming/neardup.py).  Output per
    new doc: distinct reference docs collided with, and the dup flag.

    100 TB shape: both sides reduce to (band, bk) keys before joining —
    signatures are 4 band rows/doc regardless of text size; the
    reference side's band index is small (and in the real topology
    PRECOMPUTED once, stored bucketed on (band, bk), and reused by
    every ingest batch) so the join broadcasts; the new corpus never
    self-joins, so ingest cost is linear in the batch."""
    # A shared checkpoint of bands was tried and REVERTED (r16): the
    # reference slice is the BROADCAST side, so a lazy checkpoint gets
    # materialized concurrently by the broadcast-build thread and the
    # main job (duplicate evaluation + block contention — the
    # intermittent-slowdown signature), and eager materialization costs
    # a standalone job that the two pruned re-evaluations undercut at
    # this fixture (min-of-3 1.23 s recompute vs 1.52 s checkpointed).
    bands = _minhash_bands(spark, sf_dir)
    # pinned hint: the fixture's reference slice is known-tiny and the
    # gate's driver-verified plan is the broadcast one
    return _cross_dedup_bands(
        bands.filter(F.col("doc_id") % 97 != 0),
        bands.filter(F.col("doc_id") % 97 == 0),
        broadcast_ref=True)


def _cross_dedup_bands(new_bands: DataFrame, ref_bands: DataFrame,
                       broadcast_ref: bool = False) -> DataFrame:
    ref = ref_bands.select(F.col("doc_id").alias("ref_id"), "band", "bk")
    if broadcast_ref:
        ref = F.broadcast(ref)
    hits = (new_bands.join(ref, ["band", "bk"], "left")
            .groupBy("doc_id")
            .agg(F.countDistinct("ref_id").alias("n_ref_hits")))
    return hits.select(
        "doc_id",
        F.col("n_ref_hits").cast("long").alias("n_ref_hits"),
        F.when(F.col("n_ref_hits") > 0, 1).otherwise(0).cast("long")
        .alias("is_dup"))


def cross_dedup(new_docs: DataFrame, ref_docs: DataFrame,
                broadcast_ref: bool = False) -> DataFrame:
    """Frame-level incremental-ingest screen (the public twin of the
    ``x_cross_dedup`` gate): flag every NEW (doc_id, text) document
    whose MinHash bands collide with any REFERENCE document — "have we
    already trained on this?" — without any new-vs-new pairing.
    Returns one row per new doc: ``(doc_id, n_ref_hits, is_dup)``.

    The intended composition is snapshot-incremental curation: read the
    current corpus version (:func:`sparkdon.sources.snapshots.
    read_snapshot`) as the reference, screen the arriving crawl slice,
    and commit only the survivors as the next version — pinned
    end-to-end in test_crawl_pipeline.py.  At 100 TB the reference
    side's band index is precomputed once per version and reused by
    every ingest batch; ingest cost stays linear in the batch.

    ``broadcast_ref`` defaults to FALSE: a 100 TB reference corpus's
    band index is itself corpus-scale (4 rows/doc) and force-
    broadcasting it would OOM every executor — unhinted, AQE upgrades
    the (band, bk) shuffle join to a broadcast join exactly when the
    reference is actually small.  Pass True only when the reference is
    known-tiny and you want the hint pinned ahead of AQE (the gated
    fixture query does).

    A new doc too short to shingle (< 3 tokens) has no bands and can
    never near-dup-match; it still gets its row (n_ref_hits=0,
    is_dup=0) — dropping it here would silently delete every short
    crawl page from the survivor join.  Screening those is exact
    dedup's job, not MinHash's."""
    hits = _cross_dedup_bands(_bands_of(new_docs), _bands_of(ref_docs),
                              broadcast_ref=broadcast_ref)
    ids = new_docs.select("doc_id").distinct()
    return ids.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_ref_hits", F.lit(0)).cast("long").alias("n_ref_hits"),
        F.coalesce("is_dup", F.lit(0)).cast("long").alias("is_dup"))


#: a chunk present in at least this many DISTINCT documents is
#: boilerplate (the fixture's planted cross-doc chunks top out at 6
#: docs; production corpora use line-frequency bars like RefinedWeb's)


#: duplicated-substring window length (tokens): any exact duplicate
#: passage of >= SUBSTR_L tokens across the corpus contains at least one
#: aligned duplicated L-window, so window-level detection finds every
#: long duplicate span (Lee et al., "Deduplicating Training Data Makes
#: Language Models Better" — the ExactSubstr family, re-expressed as
#: sliding-window hashing instead of a monolithic suffix array)
SUBSTR_L = 8


#: shared oracle for the text-keyed gate and its xxhash64 twin: both
#: produce the identical (doc_id, n_windows, n_dup, dup_cover) relation —
#: the hash never appears in the output, so DuckDB needn't replay it
_SUBSTR_ORACLE = (
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents"
    f" WHERE len(string_split(text, ' ')) >= {SUBSTR_L}), "
    f"win AS (SELECT doc_id, i, array_to_string(t[i : i + {SUBSTR_L - 1}], ' ') AS w "
    f" FROM toks, LATERAL unnest(generate_series(1, len(t) - {SUBSTR_L - 1})) AS u(i)), "
    "c AS (SELECT doc_id, i, COUNT(*) OVER (PARTITION BY w) AS cnt FROM win), "
    "base AS (SELECT doc_id, COUNT(*) AS n_windows, "
    " CAST(SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup "
    " FROM c GROUP BY doc_id), "
    f"sp AS (SELECT doc_id, i AS s, i + {SUBSTR_L - 1} AS e FROM c WHERE cnt > 1), "
    "brk AS (SELECT doc_id, s, e, CASE WHEN s > COALESCE(MAX(e) OVER "
    " (PARTITION BY doc_id ORDER BY s "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) "
    " THEN 1 ELSE 0 END AS nb FROM sp), "
    "isl AS (SELECT doc_id, s, e, SUM(nb) OVER (PARTITION BY doc_id "
    " ORDER BY s ROWS UNBOUNDED PRECEDING) AS island FROM brk), "
    "cov AS (SELECT doc_id, CAST(SUM(mx - mn + 1) AS BIGINT) AS dup_cover "
    " FROM (SELECT doc_id, island, MIN(s) AS mn, MAX(e) AS mx FROM isl "
    "  GROUP BY doc_id, island) GROUP BY doc_id) "
    "SELECT base.doc_id, n_windows, n_dup, "
    "COALESCE(dup_cover, 0) AS dup_cover "
    "FROM base LEFT JOIN cov USING (doc_id)"
)


@register("x_dedup_substring", _SUBSTR_ORACLE)
def x_dedup_substring(spark, sf_dir):
    """ExactSubstr-style duplicated-passage detection (round 9): slide
    an ``SUBSTR_L``-token window (stride 1) over every document, flag
    windows whose text occurs anywhere else in the corpus (including
    elsewhere in the same document), and report per document the window
    count, the duplicated-window count, and the TOKEN COVERAGE of the
    duplicated region — overlapping flagged windows merged into maximal
    spans via a gaps-and-islands pass, which is exactly the "how much of
    this document is copied text" number the Lee-et-al. trim step needs.

    This is the sliding-window re-expression of suffix-array ExactSubstr
    dedup: any duplicate passage of >= L tokens contains an aligned
    duplicated L-window, so span coverage lower-bounds true duplicate
    coverage by at most L-1 tokens per span end.

    100 TB shape: the occurrence count is a window-keyed AGGREGATE
    (map-side partial combine — a hot boilerplate window reduces to one
    row per map task before the shuffle) joined back to the
    occurrences; the join is an equi-join AQE's skew-split can break
    up, unlike a window partition (r9 rewrite, same rationale as
    x_chunk_dedup).  Then one doc_id shuffle shared by the island merge
    and the final aggregate.  No suffix array, no global sort, no
    driver state — the classic single-node suffix-array bottleneck of
    ExactSubstr is replaced by hash shuffles.  At real scale the window text would be replaced
    by its xxhash64 before shuffling (collision-safe at 64 bits for
    dedup purposes); the gate shuffles the text itself so the oracle is
    bit-exact."""
    docs = spread_narrow_scan(table(spark, sf_dir, "documents")).select(
        "doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= SUBSTR_L)
    # win feeds the occurrence-count agg AND both join-back lanes; cnt
    # feeds the per-doc base agg AND the span lane — checkpointed so
    # each is evaluated once, not once per arm (r16, guide §2.4; the
    # "before" plan scans documents.parquet 8×).  The spread above keeps
    # the window explode off a single core on a one-file fixture (§2.5).
    # win's checkpoint is LAZY and that is safe: its sole first consumer
    # is the eager per-key checkpoint inside _join_back_skew_robust,
    # which materializes it in one single-threaded job at build — no
    # broadcast arm can race it.  cnt's is EAGER because its two
    # consumers (base agg, span lane) are concurrent stages of the final
    # plan.
    win = docs.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, size(t) - {SUBSTR_L - 1}), "
            f" i -> concat_ws(' ', slice(t, i, {SUBSTR_L})))")
        ).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w") \
        .transform(pin_shared, eager=False)
    wc = win.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    cnt = _join_back_skew_robust(win, wc, "w").transform(pin_shared)
    base = cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup"))
    sp = cnt.filter(F.col("cnt") > 1).select(
        "doc_id", F.col("i").alias("s"),
        (F.col("i") + SUBSTR_L - 1).alias("e"))
    w_prev = (Window.partitionBy("doc_id").orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("s")
             .rowsBetween(Window.unboundedPreceding, 0))
    isl = (sp
           .withColumn("nb", F.when(
               F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
               1).otherwise(0))
           .withColumn("island", F.sum("nb").over(w_run)))
    cov = (isl.groupBy("doc_id", "island")
           .agg((F.max("e") - F.min("s") + 1).alias("span"))
           .groupBy("doc_id")
           .agg(F.sum("span").cast("long").alias("dup_cover")))
    return (base.join(cov, "doc_id", "left")
            .select("doc_id", "n_windows", "n_dup",
                    F.coalesce("dup_cover", F.lit(0)).cast("long")
                    .alias("dup_cover")))


def dedup_substring_hashed(docs: DataFrame, L: int = SUBSTR_L) -> DataFrame:
    """Production twin of :func:`x_dedup_substring`: identical output,
    but the occurrence-count shuffle carries ``xxhash64(window)`` (8
    bytes) instead of the L-token window TEXT — the shuffle-volume cut
    the gate's docstring promises.  A 64-bit key over < 2^40 windows has
    collision probability < 1e-7 per corpus (birthday bound), and a
    collision only ever OVER-counts a window as duplicated — dedup-safe.
    Equality with the text-keyed gate is pytest-asserted on the fixture,
    and the twin is oracle-gated directly as ``x_dedup_substring_hashed``
    (round 10): the hash never reaches the OUTPUT columns, so the
    text-keyed DuckDB oracle applies verbatim."""
    # same shared-evaluation checkpoints as the text-keyed gate (r16,
    # guide §2.4): win feeds the count agg + both join-back lanes (lazy
    # — safely materialized by the eager per-key checkpoint inside
    # _join_back_skew_robust at build), cnt feeds the base agg + the
    # span lane (eager — concurrent final-plan stages)
    win = spread_narrow_scan(docs).select(
        "doc_id", F.split("text", " ").alias("t")).filter(
        F.size("t") >= L).select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, size(t) - {L - 1}), "
            f" i -> concat_ws(' ', slice(t, i, {L})))")).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"),
             F.xxhash64("w").alias("wh")) \
        .transform(pin_shared, eager=False)
    wc = win.groupBy("wh").agg(F.count(F.lit(1)).alias("cnt"))
    cnt = _join_back_skew_robust(win, wc, "wh").transform(pin_shared)
    base = cnt.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0)).cast("long")
        .alias("n_dup"))
    sp = cnt.filter(F.col("cnt") > 1).select(
        "doc_id", F.col("i").alias("s"), (F.col("i") + L - 1).alias("e"))
    w_prev = (Window.partitionBy("doc_id").orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("s")
             .rowsBetween(Window.unboundedPreceding, 0))
    isl = (sp
           .withColumn("nb", F.when(
               F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1)),
               1).otherwise(0))
           .withColumn("island", F.sum("nb").over(w_run)))
    cov = (isl.groupBy("doc_id", "island")
           .agg((F.max("e") - F.min("s") + 1).alias("span"))
           .groupBy("doc_id")
           .agg(F.sum("span").cast("long").alias("dup_cover")))
    return (base.join(cov, "doc_id", "left")
            .select("doc_id", "n_windows", "n_dup",
                    F.coalesce("dup_cover", F.lit(0)).cast("long")
                    .alias("dup_cover")))

@retired("x_dedup_substring_hashed", _SUBSTR_ORACLE)
def x_dedup_substring_hashed(spark, sf_dir):
    """The xxhash64 production path of ExactSubstr-style passage
    detection, oracle-gated (round 10, VERDICT r9 item 4): the window
    occurrence-count shuffle moves 8-byte hashes, everything downstream
    of the count is identical to ``x_dedup_substring``, and the output
    relation carries no hash — so the driver compares it against the
    same bit-exact DuckDB oracle as the text-keyed gate.  RETIRED from
    the battery at the r16 swap (its output relation is identical to
    the registered text gate's; hashed/text equivalence stays
    pytest-pinned) — the driver-style compare continues in
    tests/test_retired_gates.py."""
    return dedup_substring_hashed(table(spark, sf_dir, "documents"))


#: DuckDB oracle for :func:`x_trim_spans` — the span-trim endgame of the
#: ExactSubstr family.  Shares x_dedup_substring's window/island
#: construction; the trim mark is "not the corpus-first occurrence of
#: this window text" (ROW_NUMBER over (doc_id, i) per window == 1 keeps),
#: then the kept token positions reassemble with string_agg.  Docs too
#: short to window (< SUBSTR_L tokens, includes empty text) pass through
#: verbatim; null text passes through as null (trim of nothing).
_TRIM_ORACLE = (
    "WITH toks AS (SELECT doc_id, text, string_split(text, ' ') AS t "
    " FROM documents), "
    f"longd AS (SELECT * FROM toks WHERE len(t) >= {SUBSTR_L}), "
    f"win AS (SELECT doc_id, i, array_to_string(t[i : i + {SUBSTR_L - 1}], ' ') AS w "
    f" FROM longd, LATERAL unnest(generate_series(1, len(t) - {SUBSTR_L - 1})) AS u(i)), "
    "marked AS (SELECT doc_id, i, "
    " ROW_NUMBER() OVER (PARTITION BY w ORDER BY doc_id, i) AS rn "
    " FROM win), "
    f"sp AS (SELECT doc_id, i AS s, i + {SUBSTR_L - 1} AS e FROM marked WHERE rn > 1), "
    "brk AS (SELECT doc_id, s, e, CASE WHEN s > COALESCE(MAX(e) OVER "
    " (PARTITION BY doc_id ORDER BY s "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) "
    " THEN 1 ELSE 0 END AS nb FROM sp), "
    "isl AS (SELECT doc_id, s, e, SUM(nb) OVER (PARTITION BY doc_id "
    " ORDER BY s ROWS UNBOUNDED PRECEDING) AS island FROM brk), "
    "spans AS (SELECT doc_id, island, MIN(s) AS mn, MAX(e) AS mx "
    " FROM isl GROUP BY doc_id, island), "
    "pos AS (SELECT doc_id, i, t[i] AS tok FROM longd, "
    " LATERAL unnest(generate_series(1, len(t))) AS g(i)), "
    "keep AS (SELECT p.doc_id, p.i, p.tok FROM pos p LEFT JOIN spans s "
    " ON p.doc_id = s.doc_id AND p.i BETWEEN s.mn AND s.mx "
    " WHERE s.doc_id IS NULL), "
    "rem AS (SELECT doc_id, CAST(SUM(mx - mn + 1) AS BIGINT) AS n_removed "
    " FROM spans GROUP BY doc_id), "
    "outl AS (SELECT l.doc_id, "
    " COALESCE(k.text, '') AS text, COALESCE(r.n_removed, 0) AS n_removed "
    " FROM longd l "
    " LEFT JOIN (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS text "
    "  FROM keep GROUP BY doc_id) k ON l.doc_id = k.doc_id "
    " LEFT JOIN rem r ON l.doc_id = r.doc_id) "
    "SELECT doc_id, text, n_removed FROM outl "
    "UNION ALL "
    "SELECT doc_id, text, CAST(0 AS BIGINT) AS n_removed FROM toks "
    f"WHERE len(t) < {SUBSTR_L} OR t IS NULL"
)


def trim_duplicated_spans(docs: DataFrame, L: int = SUBSTR_L,
                          hashed: bool = False) -> DataFrame:
    """The ExactSubstr ENDGAME (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): remove every duplicated
    passage from all but its corpus-FIRST occurrence and reassemble the
    text — where :func:`x_dedup_substring` measures duplicated-span
    coverage, this APPLIES the trim.  Returns
    ``(doc_id, text, n_removed)``: the reassembled text and how many
    tokens were cut.

    Semantics, window-granular: an ``L``-token window occurrence is
    trimmed iff it is NOT the first occurrence of its window text in
    corpus order (ordered by ``(doc_id, position)``) — so for
    NON-self-overlapping occurrences the first copy of a duplicated
    passage survives verbatim and every later copy loses exactly the
    duplicated tokens (trimmed windows merge into maximal spans via
    the same gaps-and-islands pass as the coverage gate; every trimmed
    token is genuinely duplicated text, since each trimmed window's
    text occurs elsewhere).  Periodic text is the exception to
    first-copy preservation: when a run self-overlaps (the same token
    repeated ≥ ``L + 1`` times, or any period-p repeat longer than
    ``L + p`` tokens), the run's SECOND window is already a duplicate
    of its first, so its trim span eats back into the first occurrence
    and the run collapses toward a single period (e.g. 9 × ``'a'``
    with ``L=8`` trims to ``'a'``).  The oracle implements the same
    rule, so the engines agree; this is a property of window-granular
    ExactSubstr marking itself, not an implementation divergence.  Duplicates shorter than
    ``L`` tokens are below the detection floor, as in the paper.  Docs
    too short to window pass through verbatim; null text passes
    through null (a trim never invents or drops documents — the
    explode-CTE silent-loss class the r13 random battery caught).

    100 TB shape: identical to ``x_dedup_substring`` — one window-keyed
    aggregate (map-side combine; ``min(struct(doc_id, i))`` rides the
    same shuffle as the count) joined back through the hot/cold skew
    lane, one doc-keyed island pass, then the per-doc span list (doc-
    bounded, never corpus-bounded) joins back and the reassembly is a
    JVM higher-order ``filter`` over the token array — no Python, no
    global sort, no suffix array.  ``hashed=True`` is the production
    path (the occurrence shuffle carries xxhash64(window), 8 bytes vs
    L tokens; a collision can only over-trim, and only the marking key
    is hashed — output text is always rebuilt from real tokens)."""
    toks = spread_narrow_scan(docs).select(
        "doc_id", F.col("text"), F.split("text", " ").alias("t"))
    # longd feeds the window explode AND the final reassembly join; win
    # feeds the first-occurrence agg AND both join-back lanes —
    # checkpointed so each subtree is evaluated once, not once per plan
    # arm (r16, guide §2.4; the spread keeps the explode parallel on a
    # one-file fixture, §2.5).  Both checkpoints are LAZY, which is safe
    # here: the chain's sole first consumer is the eager per-key
    # checkpoint inside _join_back_skew_robust, which materializes
    # longd and win in one single-threaded job at build.
    longd = toks.filter(F.size("t") >= L).transform(pin_shared, eager=False)
    key = (F.xxhash64("w") if hashed else F.col("w")).alias("k")
    win = longd.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(1, size(t) - {L - 1}), "
            f" i -> concat_ws(' ', slice(t, i, {L})))")).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"), key) \
        .transform(pin_shared, eager=False)
    per_key = win.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min(F.struct("doc_id", "i")).alias("first"))
    occ = _join_back_skew_robust(win, per_key, "k")
    sp = occ.filter(
        F.struct("doc_id", "i") != F.col("first")).select(
        "doc_id", F.col("i").alias("s"), (F.col("i") + L - 1).alias("e"))
    w_prev = (Window.partitionBy("doc_id").orderBy("s")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_run = (Window.partitionBy("doc_id").orderBy("s")
             .rowsBetween(Window.unboundedPreceding, 0))
    spans = (sp
             .withColumn("nb", F.when(
                 F.col("s") > F.coalesce(F.max("e").over(w_prev),
                                         F.lit(-1)), 1).otherwise(0))
             .withColumn("island", F.sum("nb").over(w_run))
             .groupBy("doc_id", "island")
             .agg(F.min("s").alias("mn"), F.max("e").alias("mx"))
             .groupBy("doc_id")
             .agg(F.collect_list(F.struct("mn", "mx")).alias("spans"),
                  F.sum(F.col("mx") - F.col("mn") + 1).cast("long")
                  .alias("n_removed")))
    trimmed = (
        longd.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("spans").isNull(), F.col("text"))
            .otherwise(F.concat_ws(" ", F.expr(
                # filter's lambda index is 0-based; spans are 1-based
                "filter(t, (x, i) -> not exists(spans, "
                "s -> i + 1 >= s.mn and i + 1 <= s.mx))")))
            .alias("text"),
            F.coalesce("n_removed", F.lit(0)).cast("long")
            .alias("n_removed")))
    passthrough = (toks.filter(F.col("t").isNull() | (F.size("t") < L))
                   .select("doc_id", "text",
                           F.lit(0).cast("long").alias("n_removed")))
    return trimmed.unionByName(passthrough)


@register("x_trim_spans", _TRIM_ORACLE)
def x_trim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate-style wrapper for :func:`trim_duplicated_spans` — built and
    oracle-verified in r14, REGISTERED at the r16 cycle-boundary swap
    (took the battery slot of the retired ``x_dedup_substring_hashed``,
    whose output relation the text-keyed gate already verifies; the
    hashed/text equivalence stays pytest-pinned).  Dossier: byte-exact
    ``_TRIM_ORACLE``, doc-partitioned-window plan test, 100× probe 38.2
    (sub-linear), permanent seed_sweep docs-tier member since r14."""
    return trim_duplicated_spans(table(spark, sf_dir, "documents"))


def tune_minhash_bands(threshold: float, num_perm: int,
                       fp_weight: float = 0.5) -> tuple[int, int]:
    """Pick (bands, rows) for a MinHash LSH index targeting a Jaccard
    ``threshold`` — the classic S-curve optimization (Mining of Massive
    Datasets §3.4; same integral-error search the public datasketch
    library uses).  Collision probability at similarity s is
    ``1 - (1 - s^rows)^bands``; the search minimizes
    ``fp_weight · ∫₀^t P(s) ds + (1-fp_weight) · ∫ₜ¹ (1-P(s)) ds``
    over every (b, r) with b·r ≤ num_perm.

    Driver-side and tiny (≤ num_perm² candidates, closed-form probe) —
    the output just parameterizes the distributed band keys."""
    if not 0 < threshold < 1:
        raise ValueError("threshold must be in (0, 1)")
    if num_perm < 2:
        raise ValueError("num_perm must be >= 2")

    def _err(b: int, r: int) -> float:
        steps = 100
        fp = fn = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = 1.0 - (1.0 - s ** r) ** b
            if s < threshold:
                fp += p
            else:
                fn += 1.0 - p
        return fp_weight * fp / steps + (1 - fp_weight) * fn / steps

    best, best_e = (1, num_perm), float("inf")
    for r in range(1, num_perm + 1):
        for b in range(1, num_perm // r + 1):
            e = _err(b, r)
            if e < best_e:
                best, best_e = (b, r), e
    return best
