"""Relational + reference-surface declared queries.

Reference surface (SURVEY.md §2.1): reshape P1/P2, legacy parse P3, token
routing G1-G3 — each as a named query. Analytics surface (SURVEY.md §7 phase 3):
filters, all join families, hash/sort aggregations, rollup/cube/grouping sets,
windows, sorts/top-k, set ops, scalar/date/json functions — all stock Catalyst.

Scale notes per query are in the docstrings; the common patterns:
  - dimension joins are broadcast() explicitly (region/nation/supplier are tiny
    at any SF; fact tables shuffle only when the key demands it)
  - aggregations are partial (map-side combine) by construction via groupBy
  - filters sit directly on the scan so Catalyst pushes them into parquet
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from hdfs2cass_spark.functions.ts import epoch_micros, epoch_millis
from pyspark.sql.functions import broadcast

from ..operators.joins import size_guarded_broadcast
from ..operators.legacy import format_legacy_lines, parse_legacy_lines
from ..operators.partitioning import binary_key_expr, with_bucket, with_token
from ..operators.reshape import melt_to_mutations, reshape_cql
from ..sources.readers import load_table, read_records, write_avro
from .present import present_sorted
from .registry import declare

NOW_MS = 42  # fixed clock for reshape queries (reference tests pin millis=42)


def _dec(c, prec: int = 25, scale: int = 6):
    """Exact-accumulation cast: double -> decimal (see registry docstring)."""
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({prec},{scale})")


def _qsum(c):
    """Quantized exact sum of a double measure, emitted as DOUBLE.

    floor(v * 1e6) -> int64 -> SUM -> /1e6: order-independent exact long
    accumulation, and ~4x cheaper than decimal(25,6) sums (measured 0.99 s
    vs 0.26 s for q1's four sums at sf0.1 — long adds stay in codegen'd
    registers, decimals allocate Java objects per row). Truncation at 1e-6 is
    applied identically by DuckDB (same IEEE double product, same floor), so
    oracle hashes still match bit-for-bit. Oracle twin:
    CAST(SUM(CAST(floor(v * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0

    Headroom: int64 holds quantized PER-GROUP value-sums up to ~9.2e12
    (9.2e18 / 1e6). TPC-H q1 at sf>=~200 (~1e9 lineitem rows/group x ~3e4
    avg extendedprice) crosses it — ANSI mode throws, non-ANSI wraps
    silently. Past that scale, switch the affected sums to _dec()
    decimal(38,6) accumulation (exact at any SF, ~4x dearer — measured).
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(F.floor(col * 1000000).cast("bigint")).cast("double") / 1000000.0


# ---------------------------------------------------------------------------
# Reference surface
# ---------------------------------------------------------------------------


@declare(
    "cql_reshape_customer",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS _rowkey,
           c_custkey, c_name, c_nationkey, c_acctbal,
           CAST(42000 AS BIGINT) AS writetime,
           CAST(0 AS INTEGER) AS ttl
    FROM customer
    """,
    doc="P1 AvroToCQL semantics: rowkey + values in schema order + writetime/ttl "
    "defaults under a fixed clock; c_mktsegment dropped via ignore.",
)
def cql_reshape_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return reshape_cql(cust, rowkey="c_custkey", ignore=["c_mktsegment"], now_ms=NOW_MS)


@declare(
    "thrift_melt_nation",
    oracle="""
    SELECT CAST(n_name AS VARCHAR) AS key, 'n_nationkey' AS name,
           CAST(n_nationkey AS VARCHAR) AS value,
           CAST(42 AS BIGINT) AS ts, CAST(0 AS INTEGER) AS ttl
    FROM nation
    UNION ALL
    SELECT CAST(n_name AS VARCHAR), 'n_regionkey',
           CAST(n_regionkey AS VARCHAR), CAST(42 AS BIGINT), CAST(0 AS INTEGER)
    FROM nation
    """,
    doc="P2 AvroToThrift semantics: wide row unpivoted to one mutation per "
    "non-key column (ms timestamps).",
)
def thrift_melt_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return melt_to_mutations(nation, rowkey="n_name", now_ms=NOW_MS)


# P3 (legacy line format + strict/permissive parse) has no standalone query:
# legacy_to_sinks_part stages v3 lines via format_legacy_lines and parses them
# back in strict mode, so the round-trip is oracle-verified transitively on
# every driver run (plus the malformed-line cases in tests/test_legacy.py,
# which a projection-shaped oracle can't reach).

# Cassandra token functions are not expressible in DuckDB SQL; the oracle JOINs
# golden-token fixtures computed once by the golden-tested Python murmur3/md5
# implementations (scripts/gen_token_fixtures.py; constants from the
# reference's CassandraKeyComparatorTest.java:53-67). Path derived from
# __file__ so the baked oracle SQL works from any checkout location.
FIXTURES = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), "fixtures"
)
# murmur3 ring [−2^63, 2^63): 8 buckets -> range 2^61; 16 -> 2^60 (exact, no
# remainder). DuckDB needs HUGEINT for the +2^63 rescale.
_M3_BUCKET8 = (
    "CAST((CAST(f.token AS HUGEINT) + 9223372036854775808) // 2305843009213693952 AS INTEGER)"
)


@declare(
    "token_route_customer",
    oracle=f"""
    SELECT c.c_custkey, f.token, {_M3_BUCKET8} AS bucket,
           f.md5_token, CAST(f.md5_bucket8 AS INTEGER) AS md5_bucket
    FROM customer c
    JOIN read_parquet('{FIXTURES}/tokens_customer.parquet') f USING (c_custkey)
    ORDER BY c.c_custkey
    """,
    doc="K1+G1/G2, BOTH partitioner branches off one scan and one typed-key "
    "encode (merged from the former md5_route_customer, round 5): the "
    "Murmur3 LongToken of the TYPED partition key (8-byte big-endian bigint "
    "— CassandraRecordUtils.toByteBuffer) with its exact ring-range bucket, "
    "plus the RandomPartitioner branch (CassandraPartitioner.java:63-65) — "
    "MD5 BigIntegerToken = abs(BigInteger(md5(typed key))), ring [0, 2^127), "
    "128-bit tokens carried as zero-padded sortable strings. 8 buckets, "
    "unshuffled mapping. Oracle = golden-token fixture join.",
)
def token_route_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.partitioning import with_md5_token_bucket

    cust = load_table(spark, sf_dir, "customer")
    df = cust.select("c_custkey", binary_key_expr(cust, ["c_custkey"]).alias("_pk"))
    df = (
        with_md5_token_bucket(df, "_pk", 8, shuffle_seed=None)
        .withColumnRenamed("token", "md5_token")
        .withColumnRenamed("bucket", "md5_bucket")
    )
    df = with_token(df, "_pk")
    # present_sorted, not bare orderBy: the child is MAP-ONLY (scan -> typed
    # key encode -> BOTH token UDFs), so the range sampler would re-run the
    # murmur3 + md5 hops a second time (r13 slope audit: the sf1 probe
    # measured 4.25 s/Mrow with the double execution, 2.28 without — the
    # same defect class present.py documents for the report family)
    return present_sorted(
        with_bucket(df, 8, shuffle_seed=None).select(
            "c_custkey", "token", "bucket", "md5_token", "md5_bucket"
        ),
        "c_custkey",
    )


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------


@declare(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_base_price,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_disc_price,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
           CAST(SUM(CAST(floor(l_quantity * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(floor(l_extendedprice * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_price,
           CAST(SUM(CAST(floor(l_discount * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1 shape: scan -> pushed filter -> hash agg with map-side "
    "partials. One shuffle on the (tiny-cardinality) group key. Measures "
    "accumulate as 1e-6-quantized int64 (_qsum) — exact, order-independent, "
    "and ~4x cheaper than decimal sums.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.expr("TIMESTAMP '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _qsum("l_quantity").alias("sum_qty"),
            _qsum("l_extendedprice").alias("sum_base_price"),
            _qsum(disc_price).alias("sum_disc_price"),
            _qsum(charge).alias("sum_charge"),
            (_qsum("l_quantity") / F.count(F.lit(1))).alias("avg_qty"),
            (_qsum("l_extendedprice") / F.count(F.lit(1))).alias("avg_price"),
            (_qsum("l_discount") / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@declare(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue,
           CAST(o_orderdate AS DATE) AS o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: size-guarded broadcast of the segment-filtered "
    "customer dimension into orders; the orders(x)customer side joins lineitem "
    "UNHINTED — the o_orderdate filter keeps ~95% of orders, so that side is "
    "fact-scale and AQE must pick SMJ vs broadcast from runtime size (an "
    "explicit hint there bypasses the size check and OOMs at 100x). Agg, then "
    "global top-k (sorted limit, no full sort at scale).",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP '1998-06-01 00:00:00'")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP '1998-06-01 00:00:00'")
    )
    return (
        l.join(o.join(size_guarded_broadcast(c), o.o_custkey == c.c_custkey), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate"), "o_orderpriority")
        .agg(_qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@declare(
    "q5_local_supplier_volume",
    oracle="""
    SELECT r_name, n_name,
           CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY r_name, revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: five-way join, single shuffle chain on the fact "
    "keys. nation/region broadcast unconditionally (25/5 rows at EVERY scale "
    "factor); customer/supplier grow with SF (150k/10k rows x SF — GB-scale "
    "at sf100), so their hints are size-guarded: plan-time estimate under the "
    "autoBroadcastJoinThreshold keeps the hint, otherwise AQE decides from "
    "runtime size.",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(size_guarded_broadcast(c), o.o_custkey == c.c_custkey)
        .join(size_guarded_broadcast(s), (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(_qsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy("r_name", F.col("revenue").desc(), "n_name")
    )


@declare(
    "grouping_analytics_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus),
                            (o_year), ())
    """,
    doc="Multi-level grouping analytics in one Catalyst Expand: the full "
    "ROLLUP(status, priority) hierarchy (its three grouping sets listed "
    "explicitly — ROLLUP/CUBE are syntactic sugar over GROUPING SETS and "
    "plan identically) plus a non-hierarchical per-year set. Replaces the "
    "former rollup_order_stats + grouping_sets_sales pair: one scan, one "
    "Expand, same operator evidence.",
)
def grouping_analytics_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(year(o_orderdate) AS INT) AS o_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS total_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus),
                                (CAST(year(o_orderdate) AS INT)), ())
        """
    )


@declare(
    "distinct_users_per_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events,
           TRUE AS approx_ok
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Exact distinct aggregation (two-phase partial/final under AQE) plus "
    "the HyperLogLog++ sketch path verified against it: approx_ok asserts "
    "approx_count_distinct(rsd=0.01) lands within 5% of the exact count "
    "(sketch values themselves differ across engines by design, so the "
    "oracle checks the error bound, not the sketch).",
)
def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    approx = F.approx_count_distinct("user_id", 0.01)
    return (
        e.groupBy("event_type")
        .agg(
            exact.alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            (F.abs(approx - exact) <= 0.05 * exact).alias("approx_ok"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Join families
# ---------------------------------------------------------------------------


@declare(
    "semi_anti_join_customers",
    oracle="""
    WITH spent AS (
      SELECT c_custkey,
             COUNT(o_orderkey) AS n_orders,
             CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(25,6))), 0) AS DOUBLE) AS total_spent
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey),
    tagged AS (
      SELECT 'with_orders' AS tag, c_custkey, c_name FROM customer
      WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      UNION ALL
      SELECT 'without_orders' AS tag, c_custkey, c_name FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
    SELECT t.tag, t.c_custkey, t.c_name, s.n_orders, s.total_spent
    FROM tagged t JOIN spent s USING (c_custkey)
    ORDER BY tag, c_custkey
    """,
    doc="Three join families over the same customer/orders pair in one "
    "result: left semi + left anti (EXISTS / NOT EXISTS — no row "
    "multiplication, the orders side reduced to its join keys; together they "
    "partition the customer table) enriched with the left-outer-join "
    "aggregate (order count and spend, zero rows preserved as count 0). "
    "Absorbs the former left_join_order_counts.",
)
def semi_anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select(F.lit("with_orders").alias("tag"), "c_custkey", "c_name")
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.lit("without_orders").alias("tag"), "c_custkey", "c_name")
    )
    spent = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(_dec("o_totalprice")), F.lit(0).cast("decimal(25,6)"))
            .cast("double")
            .alias("total_spent"),
        )
    )
    return (
        semi.unionByName(anti)
        .join(spent, "c_custkey")
        .select("tag", "c_custkey", "c_name", "n_orders", "total_spent")
        .orderBy("tag", "c_custkey")
    )


@declare(
    "set_ops_distinct_and_bag",
    oracle="""
    SELECT 'nation_both' AS op, CAST(x AS VARCHAR) AS v FROM
      (SELECT c_nationkey AS x FROM customer INTERSECT SELECT s_nationkey FROM supplier) t1
    UNION ALL
    SELECT 'nation_customer_only' AS op, CAST(x AS VARCHAR) AS v FROM
      (SELECT c_nationkey AS x FROM customer EXCEPT SELECT s_nationkey FROM supplier) t2
    UNION ALL
    SELECT 'intersect_all' AS op, p AS v FROM
      (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'
       INTERSECT ALL
       SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F') t3
    UNION ALL
    SELECT 'except_all' AS op, p AS v FROM
      (SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'
       EXCEPT ALL
       SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F') t4
    ORDER BY op, v
    """,
    doc="The full set-operation surface in one result, tagged by op. Distinct "
    "semantics (INTERSECT / EXCEPT on the customer-vs-supplier nation keys) "
    "plus bag semantics (INTERSECT ALL / EXCEPT ALL on order priorities — "
    "multiplicity-preserving per the SQL standard: min / difference of "
    "per-value counts). Spark plans all four as aggregate+join on the value, "
    "no row-pair expansion. Replaces the former set_ops_nations + "
    "bag_set_ops_priorities pair.",
)
def set_ops_distinct_and_bag(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("x"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("x"))
    both = c.intersect(s).withColumn("op", F.lit("nation_both"))
    # subtract = EXCEPT DISTINCT (exceptAll would keep higher-multiplicity keys)
    only = c.subtract(s).withColumn("op", F.lit("nation_customer_only"))
    nations = both.unionByName(only).select("op", F.col("x").cast("string").alias("v"))

    o = load_table(spark, sf_dir, "orders")
    opened = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_orderpriority").alias("v")
    )
    filled = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("v")
    )
    inter = opened.intersectAll(filled).withColumn("op", F.lit("intersect_all"))
    exc = opened.exceptAll(filled).withColumn("op", F.lit("except_all"))
    bags = inter.unionByName(exc).select("op", "v")
    return nations.unionByName(bags).orderBy("op", "v")


@declare(
    "full_outer_balance_cells",
    oracle="""
    WITH c AS (
      SELECT c_nationkey AS nk, CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_k,
             COUNT(*) AS n_cust
      FROM customer GROUP BY 1, 2),
    s AS (
      SELECT s_nationkey AS nk, CAST(floor(s_acctbal / 1000) AS BIGINT) AS bal_k,
             COUNT(*) AS n_supp
      FROM supplier GROUP BY 1, 2)
    SELECT COALESCE(c.nk, s.nk) AS nk,
           COALESCE(c.bal_k, s.bal_k) AS bal_k,
           c.n_cust, s.n_supp
    FROM c FULL OUTER JOIN s ON c.nk = s.nk AND c.bal_k = s.bal_k
    ORDER BY nk, bal_k
    """,
    doc="FULL OUTER join of two aggregates on a composite key — cells where "
    "either side is absent survive with NULL counts (the supplier table's "
    "sparser balance histogram guarantees unmatched rows both ways). Joins "
    "two small aggregates, so the optimizer is free to broadcast one side "
    "(Spark full-outer broadcasts via BroadcastNestedLoopJoin only when "
    "legal; here both sides are post-aggregate small).",
)
def full_outer_balance_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.expr("CAST(floor(c_acctbal / 1000) AS BIGINT)").alias("bal_k"),
        )
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(
            F.col("s_nationkey").alias("nk"),
            F.expr("CAST(floor(s_acctbal / 1000) AS BIGINT)").alias("bal_k"),
        )
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, ["nk", "bal_k"], "full_outer")
    return j.select("nk", "bal_k", "n_cust", "n_supp").orderBy("nk", "bal_k")


# ---------------------------------------------------------------------------
# Windows, sorts, top-k
# ---------------------------------------------------------------------------


@declare(
    "window_rank_customers",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_nationkey, c_acctbal,
             CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS rn,
             CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS rnk,
             CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INTEGER) AS drnk,
             CAST(NTILE(4) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS quartile,
             PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS pct_rank,
             CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS cum_dist
      FROM customer) t
    WHERE rn <= 3 ORDER BY c_nationkey, rn
    """,
    doc="Window ranking family: top-3 customers per nation by balance — "
    "row_number (unique tiebreak), rank, dense_rank, ntile quartiles (over "
    "the tiebreaked order, where ntile is deterministic), percent_rank and "
    "cume_dist (exact rank fractions — identical double division in both "
    "engines). One window partitioning, every ranking function riding it.",
)
def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-first plan (r13 slope audit): the naive form — six window
    functions over every row, then filter rn <= 3 — made Spark's WindowExec
    evaluate the whole rank family on 100% of rows to keep 75. The sf1-decade
    probe measured it at 3.6x DuckDB per row; at 100 TB the full-partition
    sort+window is the whole job. This plan reconstructs every ranking value
    EXACTLY from three cheap scans instead:

      A. top-3 per nation via row_number + filter — Spark plans a PARTIAL
         WindowGroupLimit before the exchange, so each map task ships <= 3
         rows per nation (the shuffle carries ~nothing at any scale)
      B. per-nation row counts — map-side partial aggregate, 25-row shuffle
      C. per-(nation, acctbal) counts restricted to acctbal >= the nation's
         rank-3 value (broadcast threshold join) — the tie neighborhood
         only, map-side combined

    rank/dense_rank over the 75-row subset equal their full-partition values
    (every strictly-greater value already appears inside the top 3);
    percent_rank = (rank-1)/(count-1), cume_dist = |rows >= value|/count and
    ntile(4) = tile of position rn among count rows are the engines' own
    definitions computed as the same integer-derived double divisions, so
    the driver hash matches bit-for-bit."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    cols = ["c_custkey", "c_nationkey", "c_acctbal"]

    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    top3 = (
        c.select(*cols)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )

    counts = c.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("cnt"))

    thresholds = top3.groupBy("c_nationkey").agg(F.min("c_acctbal").alias("_v3"))
    ge_counts = (
        c.select("c_nationkey", "c_acctbal")
        .join(F.broadcast(thresholds), "c_nationkey")
        .filter(F.col("c_acctbal") >= F.col("_v3"))
        .groupBy("c_nationkey", "c_acctbal")
        .agg(F.count(F.lit(1)).alias("_nv"))
    )
    wge = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ge_cum = ge_counts.withColumn("_nge", F.sum("_nv").over(wge)).select(
        "c_nationkey", "c_acctbal", "_nge"
    )

    wr3 = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    out = (
        top3.join(F.broadcast(counts), "c_nationkey")
        .join(F.broadcast(ge_cum), ["c_nationkey", "c_acctbal"])
        .withColumn("rnk", F.rank().over(wr3))
        .withColumn("drnk", F.dense_rank().over(wr3))
    )
    # ntile(4) of position rn among cnt rows: the first (cnt % 4) tiles hold
    # floor(cnt/4)+1 rows — pure integer arithmetic, no window needed
    base = F.floor(F.col("cnt") / 4).cast("long")
    rem = (F.col("cnt") % 4).cast("long")
    big = rem * (base + 1)
    quartile = F.when(
        F.col("rn") <= big, F.ceil(F.col("rn") / (base + 1))
    ).otherwise(rem + F.ceil((F.col("rn") - big) / F.greatest(base, F.lit(1))))
    return (
        out.select(
            "c_custkey",
            "c_nationkey",
            "c_acctbal",
            "rn",
            "rnk",
            "drnk",
            quartile.cast("int").alias("quartile"),
            F.when(F.col("cnt") > 1,
                   (F.col("rnk") - 1).cast("double") / (F.col("cnt") - 1).cast("double"))
            .otherwise(F.lit(0.0))
            .alias("pct_rank"),
            (F.col("_nge").cast("double") / F.col("cnt").cast("double")).alias("cum_dist"),
        )
        .orderBy("c_nationkey", "rn")
    )


@declare(
    "window_moving_avg_events",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE)
             / COUNT(*) OVER w AS moving_avg,
           LAG(value) OVER o AS prev_value,
           value - LAG(value) OVER o AS value_delta,
           LEAD(value) OVER o AS next_value,
           FIRST_VALUE(value) OVER o AS first_value,
           NTH_VALUE(value, 2) OVER o AS second_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
           o AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, event_id
    """,
    doc="Window frame surface in one pass over the per-user event-time "
    "ordering: sliding row-frame moving average (exact decimal sum / count) "
    "+ LAG/LEAD offsets (delta of identical doubles is bit-deterministic). "
    "Both window specs share one shuffle+sort on user_id.",
)
def window_moving_avg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    o = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w = o.rowsBetween(-3, 0)
    prev = F.lag("value").over(o)
    return e.select(
        "event_id",
        "user_id",
        (F.sum(_dec("value")).over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "moving_avg"
        ),
        prev.alias("prev_value"),
        (F.col("value") - prev).alias("value_delta"),
        F.lead("value").over(o).alias("next_value"),
        F.first("value").over(o).alias("first_value"),
        F.nth_value("value", 2).over(o).alias("second_value"),
    ).orderBy("user_id", "event_id")


@declare(
    "topk_parts_by_price",
    oracle="""
    SELECT p_partkey, p_name, p_retailprice FROM part
    ORDER BY p_retailprice DESC, p_partkey LIMIT 20
    """,
    doc="Global top-k: Spark plans TakeOrderedAndProject (heap per partition + "
    "merge), never a full global sort.",
)
def topk_parts_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.select("p_partkey", "p_name", "p_retailprice")
        .orderBy(F.col("p_retailprice").desc(), "p_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Scalar function surface
# ---------------------------------------------------------------------------


@declare(
    "scalar_functions_part",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 5) AS name_prefix,
           CAST(length(p_name) AS INTEGER) AS name_len,
           concat_ws('-', p_brand, p_type) AS brand_type,
           replace(p_type, ' ', '_') AS type_snake,
           abs(p_size - 25) AS size_dist,
           p_size % 7 AS size_mod,
           round(p_retailprice, 1) AS price_rounded,
           CASE WHEN p_size > 25 THEN 'big' ELSE 'small' END AS size_class,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           CAST(regexp_matches(p_brand, '^Brand#[0-9]+$') AS BOOLEAN) AS brand_well_formed,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           CAST(len(str_split(p_name, ' ')) AS INTEGER) AS n_words,
           array_to_string(list_sort(str_split(p_name, ' ')), ',') AS words_sorted,
           list_contains(str_split(p_name, ' '), 'green') AS has_green,
           array_to_string(list_slice(str_split(p_name, ' '), 1, 2), ' ') AS first_two,
           array_to_string(list_transform(str_split(p_name, ' '), w -> upper(w)), ',') AS words_upper,
           CAST(len(list_filter(str_split(p_name, ' '), w -> len(w) > 5)) AS INTEGER) AS n_long_words,
           CAST(list_reduce(list_transform(str_split(p_name, ' '), w -> len(w)),
                            (a, b) -> a + b) AS INTEGER) AS total_word_chars,
           map(['brand', 'type'], [p_brand, p_type])['brand'][1] AS map_brand
    FROM part ORDER BY p_partkey
    """,
    doc="String/math/regex + array/map/higher-order scalar surface — all "
    "whole-stage-codegen built-ins except the HOF lambdas, which Catalyst "
    "evaluates interpreted (the measured reason hot paths keep hashes OUT of "
    "lambdas; here they demonstrate the transform/filter/aggregate API on "
    "short per-row arrays, where interpretation is immaterial). Regex "
    "patterns kept in the RE2∩Java common subset so engines agree; map "
    "access via map_from_arrays + element_at (DuckDB's map[k] returns a "
    "list, hence the [1] unwrap in the oracle).",
)
def scalar_functions_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 5).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.abs(F.col("p_size") - 25).alias("size_dist"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.round("p_retailprice", 1).alias("price_rounded"),
        F.when(F.col("p_size") > 25, "big").otherwise("small").alias("size_class"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.col("p_brand").rlike("^Brand#[0-9]+$").alias("brand_well_formed"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.size(F.split("p_name", " ")).alias("n_words"),
        F.array_join(F.array_sort(F.split("p_name", " ")), ",").alias("words_sorted"),
        F.array_contains(F.split("p_name", " "), "green").alias("has_green"),
        F.array_join(F.slice(F.split("p_name", " "), 1, 2), " ").alias("first_two"),
        F.array_join(
            F.transform(F.split("p_name", " "), lambda w: F.upper(w)), ","
        ).alias("words_upper"),
        F.size(
            F.filter(F.split("p_name", " "), lambda w: F.length(w) > 5)
        ).alias("n_long_words"),
        F.aggregate(
            F.split("p_name", " "), F.lit(0), lambda acc, w: acc + F.length(w)
        ).alias("total_word_chars"),
        F.element_at(
            F.map_from_arrays(
                F.array(F.lit("brand"), F.lit("type")),
                F.array(F.col("p_brand"), F.col("p_type")),
            ),
            F.lit("brand"),
        ).alias("map_brand"),
    ).orderBy("p_partkey")


@declare(
    "date_functions_orders",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(month(o_orderdate) AS INTEGER) AS o_month,
           CAST(day(o_orderdate) AS INTEGER) AS o_day,
           CAST(quarter(o_orderdate) AS INTEGER) AS o_quarter,
           CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INTEGER) AS o_dow,
           CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_week,
           CAST(dayofyear(CAST(o_orderdate AS DATE)) AS INTEGER) AS o_doy,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
           CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start
    FROM orders ORDER BY o_orderkey
    """,
    doc="Date/time scalar surface (outputs as DATE/INT to stay tz-neutral; "
    "the oracle maps DuckDB's 0-based Sunday dayofweek to Spark's 1-based; "
    "add_months and +INTERVAL MONTH agree on month-end clamping).",
)
def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.quarter("o_orderdate").alias("o_quarter"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("month_start"),
        F.last_day(d).alias("month_end"),
        F.dayofweek(d).alias("o_dow"),
        F.weekofyear(d).alias("o_week"),
        F.dayofyear(d).alias("o_doy"),
        F.add_months(d, 3).alias("plus_3_months"),
        F.date_trunc("week", "o_orderdate").cast("date").alias("week_start"),
    ).orderBy("o_orderkey")


@declare(
    "json_extract_events",
    oracle="""
    SELECT event_id, event_type,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)
           END AS k_value
    FROM events ORDER BY event_id
    """,
    doc="JSON path extraction from the string props column. Malformed JSON "
    "and non-numeric values yield NULL on both engines: Spark's "
    "get_json_object already returns NULL for bad JSON but ANSI-mode cast "
    "throws on 'abc' -> try_cast; DuckDB's json functions ERROR on bad JSON "
    "-> json_valid guard. Extracted as DOUBLE, not INT: DuckDB's "
    "string->int cast ROUNDS ('3.5' -> 4) while Spark's nulls, but both "
    "parse doubles identically. Adversarial-input probed, not "
    "fixture-covered.",
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").try_cast("double").alias("k_value"),
    ).orderBy("event_id")


@declare(
    "tumbling_window_events",
    oracle="""
    SELECT 'tumbling' AS kind,
           epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS kind, window_start_ms, '<all>' AS event_type,
           n_events, total_value
    FROM (
      WITH e AS (
        SELECT epoch_us(ts) AS tus, value FROM events WHERE ts IS NOT NULL),
      x AS (
        SELECT tus, value,
               unnest(generate_series((tus - 3600000000) // 900000000 + 1,
                                      tus // 900000000)) AS k
        FROM e)
      SELECT CAST(k * 900000 AS BIGINT) AS window_start_ms,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(floor(value * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_value
      FROM x GROUP BY k)
    ORDER BY kind, window_start_ms, event_type
    """,
    doc="Tumbling 1h AND sliding 1h/15min event-time windows over the same "
    "events, unioned under a `kind` tag (sliding rows aggregate across "
    "types, tagged '<all>'). Each is the batch twin of its Structured "
    "Streaming ingest (streaming/ingest.py computes the identical frames; "
    "tests assert batch==streaming for both). Spark plans window(slide) as "
    "an explode to the up-to-4 covering windows + one hash aggregate; the "
    "oracle derives each event's covering window starts k*900 s from the "
    "half-open containment s <= t < s+1h at full µs precision.",
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _qsum("value").alias("total_value"),
        )
        .select(
            F.lit("tumbling").alias("kind"),
            epoch_millis(F.col("w.start")).alias("window_start_ms"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    sliding = (
        e.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _qsum("value").alias("total_value"),
        )
        .select(
            F.lit("sliding").alias("kind"),
            epoch_millis(F.col("w.start")).alias("window_start_ms"),
            F.lit("<all>").alias("event_type"),
            "n_events",
            "total_value",
        )
    )
    return tumbling.unionByName(sliding).orderBy(
        "kind", "window_start_ms", "event_type"
    )


@declare(
    "counter_column_updates",
    oracle="""
    SELECT CAST(user_id AS VARCHAR) AS key,
           'value_counter' AS column_name,
           CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS counter_delta,
           COUNT(*) AS n_updates
    FROM events GROUP BY CAST(user_id AS VARCHAR) ORDER BY key
    """,
    doc="W2 counter-column semantics (CrunchBulkRecordWriter.java:188-190): "
    "counter mutations accumulate additively per key — expressed as the "
    "pre-aggregated UPDATE ... SET c = c + ? delta the connector would write.",
)
def counter_column_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.col("user_id").cast("string").alias("key"))
        .agg(
            F.sum(F.floor("value").cast("bigint")).alias("counter_delta"),
            F.count(F.lit(1)).alias("n_updates"),
        )
        .select("key", F.lit("value_counter").alias("column_name"), "counter_delta", "n_updates")
        .orderBy("key")
    )


@declare(
    "composite_key_hex",
    oracle="""
    SELECT c_custkey,
           upper(concat(
             lpad(to_hex(strlen(coalesce(c_name, ''))), 4, '0'),
             hex(coalesce(c_name, '')), '00',
             '0008', lpad(to_hex(c_custkey), 16, '0'), '00')) AS pk_hex
    FROM customer ORDER BY c_custkey
    """,
    doc="K1 composite partition keys: the [2-byte len][bytes][0x00] envelope "
    "(CassandraRecordUtils.java:230-261) as the engine builds it "
    "(binary_key_expr), materialized as hex so the oracle can check the "
    "exact wire layout for a (text, bigint) key pair. The length is in bytes "
    "(strlen, not the character count). A NULL component encodes as the "
    "EMPTY buffer (toByteBuffer(null) -> empty, CassandraRecordUtils.java:81-82) "
    "— stated explicitly in the oracle because DuckDB's concat() silently "
    "SKIPS null fragments.",
)
def composite_key_hex(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    pk_hex = F.hex(binary_key_expr(c, ["c_name", "c_custkey"]))  # hex() is upper case
    return c.select("c_custkey", pk_hex.alias("pk_hex")).orderBy("c_custkey")


@declare(
    "pivot_order_status",
    oracle="""
    SELECT o_orderpriority,
           COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
           COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
           COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    doc="Pivot (wide conditional aggregation): order counts by priority x "
    "status. Explicit value list — Spark's two-pass value discovery is a "
    "driver-side collect you never want at 100 TB.",
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
        .na.fill(0)
        .orderBy("o_orderpriority")
    )


@declare(
    "correlated_subquery_balance",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal FROM customer c1
    WHERE c_acctbal > (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
      FROM customer c2 WHERE c2.c_nationkey = c1.c_nationkey)
    ORDER BY c_custkey
    """,
    doc="Correlated scalar subquery (customers above their nation's average "
    "balance) — Catalyst decorrelates it into an aggregate + join.",
)
def correlated_subquery_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer_cs")
    return spark.sql(
        """
        SELECT c_custkey, c_nationkey, c_acctbal FROM customer_cs c1
        WHERE c_acctbal > (
          SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*)
          FROM customer_cs c2 WHERE c2.c_nationkey = c1.c_nationkey)
        ORDER BY c_custkey
        """
    )


@declare(
    "advanced_agg_functions",
    oracle="""
    SELECT c_nationkey,
           string_agg(c_name, ',' ORDER BY c_name) AS all_names,
           arg_max(c_name, c_custkey) AS latest_name,
           arg_min(c_name, c_custkey) AS first_name,
           COUNT(*) FILTER (c_acctbal > 0) AS n_positive,
           bool_and(c_acctbal > -1000) AS all_above_floor,
           bool_or(c_acctbal > 9000) AS any_rich,
           quantile_cont(c_acctbal, 0.5) AS median_bal,
           quantile_cont(c_acctbal, 0.9) AS p90_bal,
           quantile_disc(c_acctbal, 0.5) AS sketch_median,
           quantile_disc(c_acctbal, 0.9) AS sketch_p90,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal
    FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
    """,
    doc="The advanced aggregate surface over one grouping: ordered string "
    "aggregation, arg_max/arg_min, filtered count, boolean aggregates "
    "(every/some), exact percentiles (linear interpolation — verified "
    "identical between Spark percentile() and DuckDB quantile_cont) PLUS the "
    "sketch path: approx_percentile (the KLL-style mergeable summary you run "
    "at 100 TB) at high accuracy is exact nearest-rank, which DuckDB checks "
    "as quantile_disc — the approximate operator itself is oracle-verified, "
    "mirroring the HLL error-bound check in distinct_users_per_type. The "
    "collect_list is bounded per group (names per nation), never a global "
    "collect. Absorbs the former percentiles_by_nation (same grouping, one "
    "shuffle).",
)
def advanced_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return (
        c.groupBy("c_nationkey")
        .agg(
            F.expr("array_join(array_sort(collect_list(c_name)), ',')").alias("all_names"),
            F.expr("max_by(c_name, c_custkey)").alias("latest_name"),
            F.expr("min_by(c_name, c_custkey)").alias("first_name"),
            F.expr("count_if(c_acctbal > 0)").alias("n_positive"),
            F.expr("bool_and(c_acctbal > -1000)").alias("all_above_floor"),
            F.expr("bool_or(c_acctbal > 9000)").alias("any_rich"),
            F.expr("percentile(c_acctbal, 0.5)").alias("median_bal"),
            F.expr("percentile(c_acctbal, 0.9)").alias("p90_bal"),
            F.expr("approx_percentile(c_acctbal, 0.5, 100000)").alias("sketch_median"),
            F.expr("approx_percentile(c_acctbal, 0.9, 100000)").alias("sketch_p90"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
        .orderBy("c_nationkey")
    )


# The array-function surface (sort/distinct/slice/contains/join over tokenized
# text) lives in text_analysis_documents (plans/llm.py) — same table, same
# grain, one scan instead of two.


@declare(
    "asof_join_events",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts AS error_ts,
           (SELECT max(c.ts) FROM events c
            WHERE c.user_id = e.user_id AND c.event_type = 'click' AND c.ts < e.ts
           ) AS last_click_ts
    FROM events e WHERE e.event_type = 'error'
    ORDER BY e.event_id
    """,
    doc="As-of join (each error event matched to the user's most recent prior "
    "click). Spark lacks a native as-of join; the scalable formulation is "
    "union + running last_value over an event-time window — one shuffle on "
    "user_id, no per-row subquery and no range cross-product. (The oracle "
    "uses a correlated subquery — same semantics, DuckDB-friendly.)",
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    # Only clicks (feed the running max) and errors (the output grain) can
    # affect the result — the other ~8/10 event types are dead weight
    # through the exchange + sort + window, so drop them BEFORE the shuffle
    # (semantics-exact: max(click_ts) over earlier SAME-USER events is
    # untouched by removing rows that are neither; verified row-identical
    # at sf0.1, 19,810 output rows; A/B min-of-10 interleaved 0.77→0.61 s
    # under load, and the saved fraction grows with event-type cardinality
    # at 100 TB). The filter also reaches the parquet scan as a pushed
    # IN-predicate.
    tagged = e.filter(F.col("event_type").isin("click", "error")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    # running max of click timestamps per user over a RANGE frame ending 1us
    # before the current event time: exactly the oracle's strict c.ts < e.ts.
    # (A ROWS frame ordered by (ts, event_id) would silently include a click
    # sharing the error's timestamp — a latent divergence the fixtures happen
    # not to exercise.)
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_micros("ts"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    enriched = tagged.withColumn("last_click_ts", F.max("click_ts").over(w))
    return (
        enriched.filter(F.col("event_type") == "error")
        .select("event_id", "user_id", F.col("ts").alias("error_ts"), "last_click_ts")
        .orderBy("event_id")
    )


def session_cte_sql(cols: str, where: str = "") -> str:
    """The ONE 30-minute-gap sessionization CTE text (gaps -> numbered),
    parameterized by the extra event columns to carry — consumed by the
    sessionize_events_batch oracle below AND the session-path oracle
    (plans/sessions.py), so the gap semantics cannot drift between the two
    oracles any more than between the two Spark plans (which share
    :func:`sessionized`)."""
    extra = f", {cols}" if cols else ""
    return f"""gaps AS (
      SELECT user_id, ts, event_id{extra},
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE OR
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events{where}),
    numbered AS (
      SELECT user_id, ts, event_id{extra},
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_no
      FROM gaps)"""


@declare(
    "sessionize_events_batch",
    oracle=f"""
    WITH {session_cte_sql("")}
    SELECT user_id, CAST(session_no AS INTEGER) AS session_no,
           COUNT(*) AS n_events,
           epoch_ms(MIN(ts)) AS session_start_ms,
           epoch_ms(MAX(ts)) AS session_end_ms
    FROM numbered GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
    doc="Batch sessionization (30-min gap): lag -> new-session flag -> running "
    "sum as session number -> per-session aggregate. Two window passes + one "
    "agg, all on the user_id partitioning — the batch twin of the streaming "
    "session_window in streaming/ingest.py.",
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    numbered = sessionized(load_table(spark, sf_dir, "events"))
    return (
        numbered.groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            epoch_millis(F.min("ts")).alias("session_start_ms"),
            epoch_millis(F.max("ts")).alias("session_end_ms"),
        )
        .orderBy("user_id", "session_no")
    )


def sessionized(e: DataFrame) -> DataFrame:
    """Events + (new_session, session_no): the ONE 30-min-gap sessionization
    definition — sessionize_events_batch and the session-path analytics
    (plans/sessions.py) both consume it, so the gap semantics cannot drift.
    Full-precision gap test (µs), matching the oracle's exact
    `ts - LAG(ts) > INTERVAL 30 MINUTE`: whole-second truncation would
    misclassify a gap like 1800.5 s on sub-second timestamps."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull() | (epoch_micros("ts") - epoch_micros(prev_ts) > 1_800_000_000), 1
    ).otherwise(0)
    return e.withColumn("new_session", new_session).withColumn(
        "session_no",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("int"),
    )


# The deterministic hash train/test split lives in corpus_select_split
# (plans/llm.py): the split column is assigned there over the selected corpus,
# exercising the same md5("split:" || doc_id) % 100 membership function.


def _bulk_route_oracle() -> str:
    """Fixture-join oracle for the full bulk-load dataflow: golden tokens for
    the composite (l_orderkey, l_linenumber) envelope + the same seeded
    bucket permutation route_to_buckets applies (shuffled_bucket_map(16, 42),
    mirroring CassandraParams.java:319-328's reducer-list shuffle)."""
    from ..operators.partitioning import shuffled_bucket_map

    perm = shuffled_bucket_map(16, seed=42)
    perm_sql = "[" + ", ".join(str(p) for p in perm) + "]"
    raw = "(CAST(f.token AS HUGEINT) + 9223372036854775808) // 1152921504606846976"
    return f"""
    SELECT f.pk_hex, f.token,
           CAST(({perm_sql})[CAST({raw} AS INTEGER) + 1] AS INTEGER) AS bucket,
           CAST({NOW_MS * 1000} AS BIGINT) AS writetime,
           CAST(0 AS INTEGER) AS ttl
    FROM lineitem l
    JOIN read_parquet('{FIXTURES}/tokens_lineitem.parquet') f
      ON l.l_orderkey = f.l_orderkey AND l.l_linenumber = f.l_linenumber
    ORDER BY f.pk_hex
    """


@declare(
    "bulk_route_lineitem",
    oracle=_bulk_route_oracle(),
    doc="The full bulk-load dataflow on the largest fixture table: reshape "
    "(composite rowkey l_orderkey+l_linenumber) -> token -> ring bucket -> "
    "single shuffle -> in-partition token sort. The headline throughput "
    "number for the reference-parity path. Oracle = golden-token fixture "
    "join reproducing token, shuffled bucket, writetime and ttl.",
)
def bulk_route_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.pipeline import bulk_load

    l = load_table(spark, sf_dir, "lineitem")
    routed = bulk_load(
        l,
        "cql://h/ks/lineitem?reducers=16",
        rowkey=["l_orderkey", "l_linenumber"],
        now_ms=NOW_MS,
    )
    return routed.select(
        F.hex(F.col("_pk")).alias("pk_hex"), "token", "bucket", "writetime", "ttl"
    ).orderBy("pk_hex")


# ---------------------------------------------------------------------------
# P4/P5/P6 declared twins + extension operators (range join, salted agg)
# ---------------------------------------------------------------------------


def _staged_legacy_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 legacy lines deterministically derived from `part` (shared staging
    with legacy_roundtrip_part)."""
    part = load_table(spark, sf_dir, "part")
    staged = part.select(
        F.col("p_partkey").cast("string").alias("k"),
        F.lit("p_name").alias("c"),
        (F.lit(1000) + F.col("p_partkey")).cast("long").alias("ts"),
        F.col("p_size").alias("ttl"),
        F.col("p_name").alias("v"),
    )
    return format_legacy_lines(staged, key="k", colname="c", value="v", timestamp="ts", ttl="ttl")


@declare(
    "legacy_to_sinks_part",
    oracle="""
    SELECT 'cql' AS sink,
           CAST(p_partkey AS VARCHAR) AS key,
           'p_name' AS colname,
           p_name AS value,
           CAST(1000 + p_partkey AS BIGINT) AS writetime,
           CAST(p_size AS INTEGER) AS ttl
    FROM part
    UNION ALL
    SELECT 'thrift' AS sink,
           CAST(p_partkey AS VARCHAR) AS key,
           'p_name' AS colname,
           p_name AS value,
           CAST(1000 + p_partkey AS BIGINT) AS writetime,
           CAST(p_size AS INTEGER) AS ttl
    FROM part
    ORDER BY sink, key
    """,
    doc="P4+P5 on one staged input: parsed v3 legacy lines wrapped into the "
    "CQL insert shape (LegacyHdfsToCQL.java:31-51 — the parsed ms timestamp "
    "bound VERBATIM as writetime, no µs scaling; see operators/legacy.py) AND "
    "into one Thrift Mutation per line (LegacyHdfsToThrift.java:34-54, stays "
    "ms), unioned under a `sink` tag with conformed column names. Mutations "
    "are exploded to rows for oracle comparability (arrays of structs don't "
    "hash-compare across engines).",
)
def legacy_to_sinks_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.legacy import legacy_to_cql, legacy_to_thrift

    parsed = parse_legacy_lines(_staged_legacy_part(spark, sf_dir), mode="strict")
    cql = legacy_to_cql(parsed).select(
        F.lit("cql").alias("sink"), "key", "colname", "value", "writetime", "ttl"
    )
    m = F.explode("mutations").alias("m")
    thrift = (
        legacy_to_thrift(parsed)
        .select("key", m)
        .select(
            F.lit("thrift").alias("sink"),
            "key",
            F.col("m.name").alias("colname"),
            "m.value",
            F.col("m.ts").alias("writetime"),
            F.col("m.ttl").alias("ttl"),
        )
    )
    return cql.unionByName(thrift).orderBy("sink", "key")


# the staging roots of avro_roundtrip_customer with an exit hook registered
_AVRO_STAGING_ROOTS: set[str] = set()


@declare(
    "avro_roundtrip_customer",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    ORDER BY c_custkey
    """,
    doc="S1 front door, driver-hash-checked: the customer table is staged as "
    "REAL Avro container files (deflate codec) by write_avro and read back "
    "through read_records(fmt='avro'). Both go through Spark's own Avro file "
    "source, which encodes on the executors, plans the files' splits and "
    "decodes on the JVM (Hdfs2Cass.java:107-108,135-144 — Avro is the "
    "reference's primary input). Hash-equality against SQL over the original "
    "parquet proves the whole encode -> container -> scan -> decode loop "
    "value-exact.",
)
def avro_roundtrip_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import atexit
    import hashlib
    import shutil
    import tempfile
    import threading

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    # deterministic per-(process, thread, sf-PATH) staging path: repeated
    # calls in one session overwrite the same directory, while two session
    # threads (or two sf dirs sharing a basename) can never race write_avro
    # against the other's lazy Avro scan (ADVICE r11) — the thread id and the
    # full-path hash split them. The scan is lazy, so the root is removed only
    # when the process exits.
    root = os.path.join(
        tempfile.gettempdir(), f"h2c_avro_rt_{os.getpid()}_{threading.get_ident()}"
    )
    if root not in _AVRO_STAGING_ROOTS:
        _AVRO_STAGING_ROOTS.add(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    sf_key = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    stage = os.path.join(root, f"{sf_key}_customer.avro")
    write_avro(cust, stage, codec="deflate")
    return present_sorted(read_records(spark, stage, fmt="avro"), "c_custkey")


@declare(
    "thrift_by_convention",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS key, 'c_name' AS name, c_name AS value,
           CAST(42000 + c_custkey AS BIGINT) AS ts,
           CAST(c_nationkey AS INTEGER) AS ttl
    FROM customer
    UNION ALL
    SELECT CAST(c_custkey AS VARCHAR), 'c_mktsegment', c_mktsegment,
           CAST(42000 + c_custkey AS BIGINT), CAST(c_nationkey AS INTEGER)
    FROM customer
    """,
    doc="P6 Thrift.byConvention (Thrift.java:22-30, ThriftByFieldNamesFn.java:"
    "37-142): special fields found by the conventional names rowkey/timestamp/"
    "ttl; every remaining column becomes one mutation. Mutations exploded to "
    "rows for oracle comparability.",
)
def thrift_by_convention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.reshape import reshape_thrift_by_convention

    cust = load_table(spark, sf_dir, "customer")
    conv = cust.select(
        F.col("c_custkey").alias("rowkey"),
        (F.lit(42000) + F.col("c_custkey")).cast("long").alias("timestamp"),
        F.col("c_nationkey").cast("int").alias("ttl"),
        "c_name",
        "c_mktsegment",
    )
    shaped = reshape_thrift_by_convention(conv)
    m = F.explode("mutations").alias("m")
    return shaped.select("key", m).select(
        "key", "m.name", "m.value", "m.ts", "m.ttl"
    )


# 60 half-open maintenance windows tiling Jan 2024 at 12 h spacing, 1-6 h
# long — both engines derive them from the same epoch-second arithmetic
# (1704067200 = 2024-01-01T00:00:00Z), so no timezone or interval ambiguity.
_WIN_EPOCH = 1704067200
_WIN_N = 60


@declare(
    "range_join_events_windows",
    oracle=f"""
    WITH w AS (
      SELECT range AS window_id,
             make_timestamp((CAST({_WIN_EPOCH} AS BIGINT) + range * 43200) * 1000000) AS w_start,
             make_timestamp((CAST({_WIN_EPOCH} AS BIGINT) + range * 43200 + (1 + range % 6) * 3600) * 1000000) AS w_end
      FROM range({_WIN_N}))
    SELECT e.event_id, w.window_id, epoch_ms(e.ts) AS ts_ms
    FROM events e
    JOIN w ON e.ts >= w.w_start AND e.ts < w.w_end
    ORDER BY event_id, window_id
    """,
    doc="Bucketed range join (operators/rangejoin.py): events joined to the "
    "maintenance windows containing them. Spark plans a raw range predicate "
    "as a nested-loop join; the bucketed formulation maps each point to ONE "
    "hour bucket, explodes each interval to its overlapped buckets, and "
    "equi-joins on the bucket (hash join, plan-asserted) before re-checking "
    "the exact predicate — the events->windows shape a training pipeline "
    "hits constantly, at one shuffle instead of O(points x intervals).",
)
def range_join_events_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import range_join

    e = load_table(spark, sf_dir, "events").select("event_id", "ts")
    start_s = F.lit(_WIN_EPOCH).cast("long") + F.col("id") * 43200
    w = spark.range(_WIN_N).select(
        F.col("id").alias("window_id"),
        F.timestamp_seconds(start_s).alias("w_start"),
        F.timestamp_seconds(start_s + (F.lit(1) + F.col("id") % 6) * 3600).alias("w_end"),
    )
    joined = range_join(e, w, point_ts="ts", start="w_start", end="w_end", bucket_width_sec=3600)
    return joined.select(
        "event_id", "window_id", epoch_millis("ts").alias("ts_ms")
    ).orderBy("event_id", "window_id")


@declare(
    "salted_agg_events",
    oracle="""
    SELECT CASE WHEN user_id % 2 = 0 THEN -1 ELSE user_id END AS skew_key,
           COUNT(*) AS n_rows,
           COUNT(DISTINCT event_id) AS n_distinct
    FROM events
    GROUP BY 1 ORDER BY skew_key
    """,
    doc="Salted two-phase aggregation (operators/skew.py salted_exact_distinct) "
    "on a synthetically skewed key (half of all rows collapse onto one hot "
    "key): the salt is a hash of the VALUE, so per-(key,salt) exact-distinct "
    "partials are disjoint and phase 2 plain-sums them. Result equals the "
    "unsalted aggregate (the oracle) while the hot key's distinct-state "
    "spreads over n reducers — the aggregation analog of AQE skew-join "
    "splitting, for the partial states that don't compress.",
)
def salted_agg_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_exact_distinct

    e = load_table(spark, sf_dir, "events").withColumn(
        "skew_key",
        F.when(F.col("user_id") % 2 == 0, F.lit(-1).cast("bigint")).otherwise(
            F.col("user_id")
        ),
    )
    return salted_exact_distinct(e, "skew_key", "event_id").orderBy("skew_key")

