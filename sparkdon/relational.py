"""Relational analogues of the SURVEY.md §2 operator inventory over the
driver's TPC-H-ish parquet tables (TESTDATA.md / FIXTURES.md §B).

Each entry here is registered in ``__spark_entry__.queries()`` with a
matching DuckDB oracle in ``ORACLE`` — the driver hash-compares both at
sf0.01 (row-count + schema + order-insensitive value-hash).

Scale notes (these run at 100 TB, not just sf0.1):
- Dimension sides (``region``, ``nation``, ``supplier``, inline VALUES
  tables) are explicitly ``broadcast()`` — no shuffle of the fact table
  for those joins.
- Aggregations are expressed as ``groupBy().agg()`` so Catalyst plans
  partial (map-side) + final hash aggregation; no driver-side loops.
- Constant filters are plain Column predicates on the scan so they push
  into the Parquet reader (``PushedFilters`` — verified in
  tests/test_plans.py).
- Double-typed aggregates are wrapped in ``round(x, 2)`` in BOTH engines:
  summation order across partitions is nondeterministic, so bit-exact
  float equality with a single-node oracle is not a meaningful contract.
- Top-k queries always carry a deterministic tie-break key so the
  selected SET is well-defined; Spark plans them as TakeOrderedAndProject.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sparkdon.sizing import spread_narrow_scan

QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: Dict[str, str] = {}


def register(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql
        return fn
    return deco


#: Gates retired from the driver battery at the r15 cycle-boundary swap
#: (PERF.md r13 design note): they stay callable with their oracles so
#: pytest keeps the driver-style compare (tests/test_retired_gates.py),
#: but no longer occupy battery slots.
RETIRED: Dict[str, Callable[[SparkSession, str], DataFrame]] = {}
RETIRED_ORACLE: Dict[str, str] = {}


def retired(name: str, sql: str | None = None):
    def deco(fn):
        RETIRED[name] = fn
        if sql is not None:
            RETIRED_ORACLE[name] = sql
        return fn
    return deco


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # events.parquet carries TIMESTAMP(NANOS), which Spark's parquet reader
    # rejects; read nanos as long and convert to a micros timestamp (the
    # same truncation DuckDB applies).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")))
    return df


def money(col: Column | str) -> Column:
    """Exact decimal view of a 2-decimal money column.

    Rounding a *double* differs between Spark (HALF_UP on the shortest
    decimal repr) and DuckDB (arithmetic on the raw double) exactly at
    .xx5 boundaries — which synthetic price*discount data hits constantly.
    Computing in DECIMAL is exact in both engines; results are cast back
    to DOUBLE at the end so the output schema stays engine-neutral.
    """
    if isinstance(col, str):
        col = F.col(col)
    return col.cast("decimal(18,2)")


def dbl(col: Column) -> Column:
    return col.cast("double")


# ---------------------------------------------------------------------------
# P — projections / filters / predicates (SURVEY.md §2.2)
# ---------------------------------------------------------------------------

@register(
    "p1_scan_filter",
    "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_returnflag = 'R'",
)
def p1_scan_filter(spark, sf_dir):
    """P1: single-pattern scan with a pushed constant filter."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "p3_constant_pushdown",
    "SELECT p_partkey, p_name, p_size FROM part WHERE p_brand = 'Brand#13' AND p_size > 20",
)
def p3_constant_pushdown(spark, sf_dir):
    """P3: constants in several positions; both predicates reach the scan."""
    return (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#13") & (F.col("p_size") > 20))
        .select("p_partkey", "p_name", "p_size")
    )


@register(
    "p4_projection_expr",
    "SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.1 AS DECIMAL(3,1)) "
    "AS DOUBLE) AS tax_est FROM orders",
)
def p4_projection_expr(spark, sf_dir):
    """P4: SELECT-list expression with alias (exact decimal math)."""
    return table(spark, sf_dir, "orders").select(
        "o_orderkey",
        dbl(money("o_totalprice") * F.lit("0.1").cast("decimal(3,1)")).alias("tax_est"),
    )


@register(
    "p5_filter_compare",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "WHERE o_totalprice > 100000 AND o_orderstatus <> 'F'",
)
def p5_filter_compare(spark, sf_dir):
    """P5: comparison operators = != > < on numeric and string columns."""
    return (
        table(spark, sf_dir, "orders")
        .filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") != "F"))
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "p6_bool_connectives",
    "SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH') "
    "AND NOT (o_orderstatus = 'F')",
)
def p6_bool_connectives(spark, sf_dir):
    """P6: AND / OR / NOT connectives."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        ((F.col("o_orderpriority") == "1-URGENT") | (F.col("o_orderpriority") == "2-HIGH"))
        & ~(F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_orderpriority")


@register(
    "p7_filter_in",
    "SELECT o_orderkey, o_orderpriority FROM orders "
    "WHERE o_orderpriority IN ('1-URGENT', '5-LOW')",
)
def p7_filter_in(spark, sf_dir):
    """P7: FILTER IN — compiles to a hash-set membership, pushed to scan."""
    return (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority").isin("1-URGENT", "5-LOW"))
        .select("o_orderkey", "o_orderpriority")
    )


@register(
    "p8_bind",
    "SELECT l_orderkey, l_linenumber, "
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) "
    "AS DOUBLE) AS net_price FROM lineitem",
)
def p8_bind(spark, sf_dir):
    """P8: BIND — computed column via withColumn."""
    return (
        table(spark, sf_dir, "lineitem")
        .withColumn("net_price", dbl(money("l_extendedprice") * (F.lit(1) - money("l_discount"))))
        .select("l_orderkey", "l_linenumber", "net_price")
    )


@register(
    "p9_values_join",
    "WITH v(r_name, zone) AS (VALUES ('AMERICA', 'west'), ('ASIA', 'east')) "
    "SELECT n.n_name, v.zone FROM v "
    "JOIN region r ON r.r_name = v.r_name "
    "JOIN nation n ON n.n_regionkey = r.r_regionkey",
)
def p9_values_join(spark, sf_dir):
    """P9: VALUES inline table, broadcast-joined (it is tiny by
    construction, so never shuffle the big side)."""
    v = spark.createDataFrame([("AMERICA", "west"), ("ASIA", "east")], ["r_name", "zone"])
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .join(F.broadcast(v), "r_name")
        .select("n_name", "zone")
    )


# ---------------------------------------------------------------------------
# J — joins (SURVEY.md §2.3)
# ---------------------------------------------------------------------------

@register(
    "j1_inner_join_chain",
    "SELECT n.n_name, COUNT(*) AS order_cnt FROM orders o "
    "JOIN customer c ON o.o_custkey = c.c_custkey "
    "JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "GROUP BY n.n_name",
)
def j1_inner_join_chain(spark, sf_dir):
    """J1: the BGP-join analogue — fact ⋈ dim ⋈ dim with the dimension
    side broadcast (customer is not tiny at 100 TB, so only nation is
    forced-broadcast; customer⋈orders shuffles on the key)."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )


@register(
    "j2_left_outer",
    "SELECT c.c_custkey, COUNT(o.o_orderkey) AS order_cnt FROM customer c "
    "LEFT JOIN orders o ON o.o_custkey = c.c_custkey GROUP BY c.c_custkey",
)
def j2_left_outer(spark, sf_dir):
    """J2: OPTIONAL analogue — customers keep a row (count 0) with no orders."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("order_cnt"))
    )


@register(
    "j3_anti_not_exists",
    "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)",
)
def j3_anti_not_exists(spark, sf_dir):
    """J3: FILTER NOT EXISTS with a correlated condition — left_anti join
    (the filter goes on the anti side BEFORE the join, like SPARQL's
    NOT EXISTS { ... FILTER(...) } — DBpedia_Schema_Queries#cell46)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "j4_minus",
    "SELECT s_suppkey, s_name FROM supplier WHERE s_nationkey NOT IN "
    "(SELECT n_nationkey FROM nation JOIN region ON n_regionkey = r_regionkey "
    " WHERE r_name = 'EUROPE')",
)
def j4_minus(spark, sf_dir):
    """J4: MINUS analogue — suppliers minus those in European nations.
    The removal set is a dimension, so it is broadcast for the anti join."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    euro = (
        n.join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
               n.n_regionkey == r.r_regionkey)
        .select("n_nationkey")
    )
    return (
        s.join(F.broadcast(euro), s.s_nationkey == euro.n_nationkey, "left_anti")
        .select("s_suppkey", "s_name")
    )


@register(
    "j5_semi_exists",
    "SELECT c_custkey, c_acctbal FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey "
    " AND o.o_totalprice > 200000)",
)
def j5_semi_exists(spark, sf_dir):
    """J5: EXISTS — left_semi join with a correlated condition."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# A — aggregations (SURVEY.md §2.4)
# ---------------------------------------------------------------------------

@register(
    "a1_group_count",
    "SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem GROUP BY l_returnflag",
)
def a1_group_count(spark, sf_dir):
    """A1: the signature census shape — GROUP BY + COUNT(*)
    (reference: DBpedia_Schema_Queries.ipynb#cell10)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a2_group_expr",
    "SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year, COUNT(*) AS cnt "
    "FROM orders GROUP BY 1",
)
def a2_group_expr(spark, sf_dir):
    """A2: GROUP BY expression (year of a timestamp)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a3_count_distinct",
    "SELECT COUNT(DISTINCT o_custkey) AS cust_cnt FROM orders",
)
def a3_count_distinct(spark, sf_dir):
    """A3: COUNT(DISTINCT) — Spark plans a two-stage distinct aggregate."""
    return table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").alias("cust_cnt")
    )


@register("a4_global_agg", "SELECT COUNT(*) AS cnt FROM lineitem")
def a4_global_agg(spark, sf_dir):
    """A4: global aggregate, no GROUP BY — 1-row result."""
    return table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "a5_group_multi_pattern",
    "SELECT o.o_orderpriority, COUNT(*) AS cnt, "
    "CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "GROUP BY o.o_orderpriority",
)
def a5_group_multi_pattern(spark, sf_dir):
    """A5: grouped aggregate over a multi-pattern (join) body."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dbl(F.sum(money("l_quantity"))).alias("sum_qty"),
        )
    )


@register(
    "a6_subquery_filter",
    "SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12",
)
def a6_subquery_filter(spark, sf_dir):
    """A6: aggregate subquery + outer FILTER (SPARQL's HAVING emulation —
    DBpedia_Schema_Queries#cell62)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 12)
    )


@register("a7_distinct", "SELECT DISTINCT c_mktsegment FROM customer")
def a7_distinct(spark, sf_dir):
    """A7: DISTINCT projection."""
    return table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@register(
    "a8_bag_decollect",
    "SELECT event_type, COUNT(*) AS cnt FROM events GROUP BY event_type",
)
def a8_bag_decollect(spark, sf_dir):
    """A8: Bag decollection shape — item + multiplicity
    (gastrodon _decollect_Bag, gastrodon/__init__.py:436-449)."""
    return (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "a9_multi_agg",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) "
    "AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
    "GROUP BY l_returnflag, l_linestatus",
)
def a9_multi_agg(spark, sf_dir):
    """TPC-H Q1 shape: SUM/AVG/COUNT beyond reference parity (SURVEY.md
    §2.4 'absent from reference' row — we exceed it).  All money sums are
    exact decimal, surfaced as double."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dbl(F.sum(money("l_quantity"))).alias("sum_qty"),
            dbl(F.sum(money("l_extendedprice"))).alias("sum_base_price"),
            dbl(F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))).alias(
                "sum_disc_price"
            ),
            (dbl(F.sum(money("l_quantity"))) / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# O — sorts / limits / top-k (SURVEY.md §2.5)
# ---------------------------------------------------------------------------

@register(
    "o1_order_asc",
    "SELECT n_nationkey, n_name FROM nation ORDER BY n_name",
)
def o1_order_asc(spark, sf_dir):
    """O1: ORDER BY ascending (hash compare is order-insensitive; the
    ordering itself is asserted in tests/test_relational.py)."""
    return table(spark, sf_dir, "nation").select("n_nationkey", "n_name").orderBy("n_name")


@register(
    "o2_topk_desc",
    "SELECT c_custkey, c_acctbal FROM customer "
    "ORDER BY c_acctbal DESC, c_custkey LIMIT 20",
)
def o2_topk_desc(spark, sf_dir):
    """O2/O4: ORDER BY DESC + LIMIT with a deterministic tie-break —
    Spark plans TakeOrderedAndProject (no global sort)."""
    return (
        table(spark, sf_dir, "customer")
        .select("c_custkey", "c_acctbal")
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "o3_order_computed",
    "SELECT l_orderkey, l_linenumber, "
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))) "
    "AS DOUBLE) AS net "
    "FROM lineitem ORDER BY net DESC, l_orderkey, l_linenumber LIMIT 50",
)
def o3_order_computed(spark, sf_dir):
    """O3: ORDER BY a computed key (the lexical-vs-numeric footgun from
    RDFContainers#cell50-52 — here the key is typed, so numeric)."""
    return (
        table(spark, sf_dir, "lineitem")
        .withColumn("net", dbl(money("l_extendedprice") * (F.lit(1) - money("l_discount"))))
        .select("l_orderkey", "l_linenumber", "net")
        .orderBy(F.desc("net"), "l_orderkey", "l_linenumber")
        .limit(50)
    )


@register(
    "o4_limit_topk",
    "SELECT o_orderkey, o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def o4_limit_topk(spark, sf_dir):
    """O4: top-k orders by price."""
    return (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# U — set operations (SURVEY.md §2.6)
# ---------------------------------------------------------------------------

@register(
    "u1_union",
    "SELECT c_custkey AS entity_key, c_name AS entity_name, c_acctbal AS acctbal, "
    "'customer' AS kind FROM customer "
    "UNION ALL SELECT s_suppkey, s_name, s_acctbal, 'supplier' FROM supplier",
)
def u1_union(spark, sf_dir):
    """U1: UNION (bag semantics, like SPARQL UNION) of two projections."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_key"),
        F.col("c_name").alias("entity_name"),
        F.col("c_acctbal").alias("acctbal"),
        F.lit("customer").alias("kind"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_key"),
        F.col("s_name").alias("entity_name"),
        F.col("s_acctbal").alias("acctbal"),
        F.lit("supplier").alias("kind"),
    )
    return c.unionByName(s)


@retired(
    "u2_except",
    "SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000 "
    "EXCEPT SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'",
)
def u2_except(spark, sf_dir):
    """U2: set difference (EXCEPT DISTINCT — ``subtract``): high-balance
    customers minus those with an urgent order.  Retired from the
    battery r15 (U2 semantics stay gated via j4_minus/sparql_minus)."""
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("custkey"))
    )
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("custkey"))
    )
    return c.subtract(o)


@retired(
    "u3_intersect",
    "SELECT DISTINCT c_nationkey AS nationkey FROM customer "
    "INTERSECT SELECT DISTINCT s_nationkey FROM supplier",
)
def u3_intersect(spark, sf_dir):
    """U3: intersection.  Retired from the battery r15 (U3 semantics
    stay gated via j5_semi_exists/sparql_not_exists)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# ---------------------------------------------------------------------------
# F — scalar functions (SURVEY.md §2.7)
# ---------------------------------------------------------------------------

@retired(
    "f1_str_cast",
    "SELECT n_nationkey, CAST(n_nationkey AS VARCHAR) AS key_str FROM nation",
)
def f1_str_cast(spark, sf_dir):
    """F1: STR() — value→lexical-string conversion.  Retired from the
    battery r15 (STR stays gated via sparql_strfuncs/o3's casts)."""
    return table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_nationkey").cast("string").alias("key_str")
    )


@register(
    "f3_strstarts",
    "SELECT p_partkey, p_type FROM part WHERE p_type LIKE 'ECON%'",
)
def f3_strstarts(spark, sf_dir):
    """F3: STRSTARTS — startswith pushes down as a StringStartsWith filter."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.col("p_type").startswith("ECON"))
        .select("p_partkey", "p_type")
    )


@register(
    "f4_substr",
    "SELECT c_custkey, SUBSTR(c_name, 1, 8) AS name_prefix FROM customer",
)
def f4_substr(spark, sf_dir):
    """F4: SUBSTR (1-based in SPARQL, Spark, and DuckDB alike)."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey", F.substring("c_name", 1, 8).alias("name_prefix")
    )


@register(
    "f5_regex",
    "SELECT event_id, TRY_CAST(regexp_extract(props, '\"k\": ([0-9]+)', 1) AS INT) AS k "
    "FROM events WHERE regexp_matches(props, '\"k\": [0-9]+')",
)
def f5_regex(spark, sf_dir):
    """F5: REGEX — rlike filter + regexp_extract projection.  The cast
    is TRY on both engines: a captured digit run wider than int32 (a
    crawl-scale id in the props) was a job-killing ANSI throw here and
    a CAST error in DuckDB — NULL on both instead (r13 random-events
    fuzz find)."""
    return (
        table(spark, sf_dir, "events")
        .filter(F.col("props").rlike('"k": [0-9]+'))
        .select(
            "event_id",
            F.regexp_extract("props", '"k": ([0-9]+)', 1)
            .try_cast("int").alias("k"),
        )
    )


@register(
    "f6_numeric_cast",
    "SELECT event_id, CAST(FLOOR(value) AS BIGINT) AS value_int FROM events",
)
def f6_numeric_cast(spark, sf_dir):
    """F6: xsd:integer() cast analogue.  floor() before the cast because
    double→int cast truncates in Spark but rounds in DuckDB — floor makes
    the contract explicit in both."""
    return table(spark, sf_dir, "events").select(
        "event_id", F.floor("value").cast("long").alias("value_int")
    )


@register(
    "f7_count_expr",
    "SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS custs, COUNT(*) AS orders_cnt "
    "FROM orders GROUP BY o_orderstatus",
)
def f7_count_expr(spark, sf_dir):
    """F7: COUNT inside expressions / mixed with plain COUNT."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("custs"),
            F.count(F.lit(1)).alias("orders_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# Q — session/API analogues that are SQL-expressible
# ---------------------------------------------------------------------------

@register(
    "q10_seq_decollect",
    "SELECT user_id, array_to_string(list(event_type ORDER BY ts, event_id), chr(31)) AS seq "
    "FROM events GROUP BY user_id",
)
def q10_seq_decollect(spark, sf_dir):
    """Q10/O5: Seq decollection — ordered collect per group
    (gastrodon _decollect_Seq, gastrodon/__init__.py:452-463).
    sort_array(collect_list(struct(...))) keeps the whole thing in a
    single hash-aggregate: no window, no second shuffle.

    The gate projects the sequence joined on US (unit separator, 0x1f)
    rather than as an array column: the driver's canonicalizer sorts
    pandas cells and list cells are unhashable.  Same contract, scalar
    column."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
            "\x1f",
        ).alias("seq")
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The headline query for ``entry()``: revenue census by region and
    order-year — scan → broadcast dim joins → group → order (the
    property-census shape of DBpedia_Schema_Queries#cell10, writ
    relational)."""
    l = spread_narrow_scan(table(spark, sf_dir, "lineitem"))
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", F.year("o_orderdate").alias("o_year"))
        .agg(
            F.count(F.lit(1)).alias("line_cnt"),
            dbl(F.sum(money("l_extendedprice") * (F.lit(1) - money("l_discount")))).alias(
                "revenue"
            ),
        )
        .orderBy(F.desc("revenue"))
    )


_LANGS = ["de", "en", "es", "fr", "zh"]


@register(
    "x_pivot_source_lang",
    "SELECT source, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN lang = '{lg}' THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_{lg}" for lg in _LANGS)
    + ", COUNT(*) AS n_total FROM documents GROUP BY source",
)
def x_pivot_source_lang(spark, sf_dir):
    """Pivot / crosstab (round 9): the per-source × per-language
    document count matrix — the corpus-composition report every
    training-data dashboard starts with.  Uses ``pivot`` with an
    EXPLICIT value list: passing the languages up front removes the
    extra distinct-values collect pass Spark otherwise runs, keeping the
    plan a single partial+final hash aggregate (lang cardinality ×
    source cardinality cells — model-sized, never corpus-sized)."""
    # r16 (guide §1.2 "remove passes"): the former pivot + separate
    # total + join scanned and aggregated twice and paid a join for the
    # n_total column; conditional sums compute the identical matrix in
    # ONE partial+final aggregate over one scan — the exact shape of
    # the oracle SQL (each n_lg = SUM(CASE WHEN lang = lg THEN 1 END),
    # so a (source, lang) cell with no rows is 0 on both paths, which
    # is what the coalesce produced before)
    d = table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        *[F.sum(F.when(F.col("lang") == lg, 1).otherwise(0))
          .cast("long").alias(f"n_{lg}") for lg in _LANGS],
        F.count(F.lit(1)).alias("n_total"))


@register(
    "x_events_rollup",
    "SELECT event_type, CAST(CAST(ts AS DATE) AS VARCHAR) AS day, "
    "COUNT(*) AS n, "
    "CAST(SUM(CAST(FLOOR(value * 10000) AS BIGINT)) AS BIGINT) AS val_scaled "
    "FROM events GROUP BY ROLLUP (event_type, CAST(CAST(ts AS DATE) AS VARCHAR))",
)
def x_events_rollup(spark, sf_dir):
    """ROLLUP (round 9): event counts and value totals at three grains
    in one pass — (event_type, day), event_type subtotal, grand total —
    the OLAP hierarchy aggregate Spark executes as a single Expand +
    hash aggregate (each input row fans out to its grouping sets
    map-side; one shuffle total, NOT one per grain).  Values are
    floor-scaled to integers BEFORE summation so both engines sum
    exactly (the double-sum order-dependence rule).  NULL group keys
    mark the subtotal rows, as in standard SQL ROLLUP."""
    e = table(spark, sf_dir, "events")
    return (
        e.select(
            "event_type",
            F.to_date("ts").cast("string").alias("day"),
            F.floor(F.col("value") * 10000).cast("long").alias("v"),
        )
        .rollup("event_type", "day")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum("v").cast("long").alias("val_scaled"))
    )
