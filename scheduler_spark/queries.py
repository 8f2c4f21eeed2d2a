"""Driver-facing operator query bank (SURVEY.md §2 coverage).

Every entry pairs a Spark DataFrame program with a DuckDB-runnable ANSI
SQL oracle over the same parquet tables.  Column names/aliases match on
both sides (the driver's compare sorts columns by name before hashing).

Conventions for oracle parity:
- derived integers cast to BIGINT on both sides (DuckDB count/len are
  BIGINT, sum(int) is HUGEINT — always cast);
- float-producing similarity scores rounded to 6 dp on both sides;
- every top-k has a total tiebreaker (unique key last);
- DuckDB regexp_replace needs the 'g' flag to match Spark's
  replace-all default.

Operator-family map (SURVEY.md §2 rows → query names) is in each
section header below.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

Query = Callable[[SparkSession, str], DataFrame]

_SPARK_QUERIES: dict[str, Query] = {}
_ORACLE_SQL: dict[str, str] = {}
_SPREAD_PARTS: dict[tuple, int] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Base table `name`, round-robined across the session's cores.  The
    sf* test tables are single parquet files (one scan split), which would
    pin expression-heavy stages — the interpreted PQ/IVF encode — to ONE
    thread; a production corpus has thousands of natural scan splits.
    The shuffle is trivial at test scale (<1 MB) and restores the
    parallelism the plan would have on real inputs.

    r06: scale-adaptive — when the scan already has at least
    defaultParallelism splits (any real corpus), the repartition is
    skipped entirely, so the helper never costs a corpus-sized shuffle
    at production scale (the round rules' "derive from input size, not
    a constant" discipline)."""
    df = _t(spark, sf_dir, name)
    par = spark.sparkContext.defaultParallelism
    # The split-count probe (df.rdd.getNumPartitions) pays a full
    # physical planning pass (~0.1 s driver time per call, measured);
    # memoize it per (session, path), as _n_rows does.
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _SPREAD_PARTS.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        _SPREAD_PARTS[key] = n
    if n >= par:
        return df
    return df.repartition(par)


_TABLE_ROWS: dict[tuple, int] = {}


def _n_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of a base table, memoized per (session, path).

    count() over parquet is answered from row-group metadata (no data
    scan), so the probe is effectively free at any corpus size."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    n = _TABLE_ROWS.get(key)
    if n is None:
        n = _t(spark, sf_dir, name).count()
        _TABLE_ROWS[key] = n
    return n


def query(name: str, sql: str | None = None):
    def wrap(fn: Query) -> Query:
        _SPARK_QUERIES[name] = fn
        if sql is not None:
            _ORACLE_SQL[name] = sql
        return fn

    return wrap


# ===========================================================================
# §2.4 aggregations / §2.2 filters — pricing summary (scan+filter+groupby)
# ===========================================================================

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(CAST(sum(l_quantity) AS DOUBLE), 2)      AS sum_qty,
           round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
           round(CAST(sum(l_extendedprice*(1-l_discount)) AS DOUBLE), 2) AS sum_disc_price,
           round(CAST(sum(l_extendedprice*(1-l_discount)*(1+l_tax)) AS DOUBLE), 2) AS sum_charge,
           round(avg(l_quantity), 6)      AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6)      AS avg_disc,
           count(*)                       AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    # sums/avgs rounded on BOTH sides: Spark's partial aggregation and
    # DuckDB's accumulation sum doubles in different orders, so raw
    # bit-exact comparison would fail on last-ulp noise.
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity").cast("double"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice").cast("double"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
                ).cast("double"),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ===========================================================================
# §2.3 joins — 3-way join + agg + top-k (shipping priority)
# ===========================================================================

@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(CAST(sum(l_extendedprice*(1-l_discount)) AS DOUBLE), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate  > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ===========================================================================
# §2.3 joins — large⨝large sort-merge join (no broadcast eligibility)
# ===========================================================================

@query(
    "smj_large_join",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(CAST(sum(l_extendedprice*(1-l_discount)) AS DOUBLE), 2) AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate >= TIMESTAMP '1994-01-01'
    GROUP BY o_orderpriority
    """,
)
def smj_large_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB mention⨝mention join shape: two fact tables joined on
    a high-cardinality key where neither side fits a broadcast.  The
    MERGE hint pins the plan to a shuffle sort-merge join at every SF
    (at sf0.01 the optimizer would broadcast; at production scale it
    cannot), so the gate exercises — and tests/test_plans.py asserts —
    the SMJ + AQE(skew-split) path itself."""
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        .hint("merge")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue"),
        )
    )


# ===========================================================================
# §2.3 joins — 6-way star join (local supplier volume)
# ===========================================================================

@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name, round(CAST(sum(l_extendedprice*(1-l_discount)) AS DOUBLE), 2) AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1994-01-01'
      AND o_orderdate <  TIMESTAMP '1996-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(s, (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue")
        )
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           round(CAST(sum(volume) AS DOUBLE), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1995-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 — bilateral trade volume between two nations by ship
    year.  The nation dims join twice (supplier side and customer
    side), both broadcast; the nation-pair predicate lands as a join
    filter so the fact shuffle carries only the two nations' rows."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue")
        )
    )


@query(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
           round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2) AS revenue
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate <  TIMESTAMP '1995-07-01'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, n_name, acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 — top returned-revenue customers for a quarter.  The
    returnflag + date filters push to the scans before the fact-fact
    shuffle; the top-20 ranks on the ROUNDED revenue with a key
    tie-break, the repo's ulp-safe ranked-on-rounded discipline."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey", "c_name", "n_name",
            F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("double"),
                2,
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate,
           round(CAST(o_totalprice AS DOUBLE), 2) AS totalprice,
           round(CAST(sum(l_quantity) AS DOUBLE), 2) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, totalprice
    ORDER BY totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 — large-quantity orders.  The HAVING subquery becomes
    a pre-aggregated semi-join key set (map-side-combined sum, then a
    left-semi on the fact), never a correlated per-row probe; top-100
    ranks on rounded totalprice with the orderkey tie-break."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 200)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
        )
        .agg(F.round(F.sum("l_quantity").cast("double"), 2).alias("total_qty"))
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    "q6_forecast_revenue",
    """
    SELECT round(CAST(sum(l_extendedprice * l_discount) AS DOUBLE), 2)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — forecasting revenue change.  Pure scan-side query:
    all three predicates push into the parquet scan (PushedFilters),
    the aggregate is a single map-side-combined scalar — the plan is
    one stage end-to-end, the shape every selective-scan rollup at
    100 TB should compile to."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * F.col("l_discount")).cast("double"), 2
            ).alias("revenue")
        )
    )


@query(
    "q8_national_market_share",
    """
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_7' THEN volume
                               ELSE 0 END) AS DOUBLE)
                 / sum(volume), 6) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS nation
      FROM part, lineitem, supplier, orders, customer, nation n1,
           nation n2, region
      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        AND c_nationkey = n1.n_nationkey
        AND n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
        AND s_nationkey = n2.n_nationkey
        AND o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                            AND TIMESTAMP '1997-12-31'
        AND p_type = 'STANDARD')
    GROUP BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 — national market share (adapted to the synthetic
    nation names; the reference's fixed-depth star joins generalized
    to a two-role dimension).  The nation dim joins TWICE under
    different roles (customer region gate vs supplier share flag) —
    both broadcast; the share is one conditional sum over the joined
    fact, no second pass."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").alias("n1")
    n2 = _t(spark, sf_dir, "nation").alias("n2")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(r), F.col("n1.n_regionkey") == F.col("r_regionkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            vol.alias("volume"),
            F.col("n2.n_name").alias("nation"),
        )
    )
    return joined.groupBy("o_year").agg(
        F.round(
            (
                F.sum(F.when(F.col("nation") == "NATION_7", F.col("volume")).otherwise(0.0))
                / F.sum("volume")
            ).cast("double"),
            6,
        ).alias("mkt_share")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 — customer order-count distribution (the NOT-LIKE
    comment filter adapted to the available o_orderpriority column).
    The outer join's ON-clause filter is the load-bearing semantics:
    filtered-out orders must still yield c_count=0 customers, so the
    predicate CANNOT be a WHERE.  Two shuffles total (custkey, then
    the bounded c_count domain)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    "q14_promo_revenue",
    """
    SELECT round(CAST(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                       THEN l_extendedprice * (1 - l_discount)
                                       ELSE 0 END) AS DOUBLE)
                 / sum(l_extendedprice * (1 - l_discount)), 6)
             AS promo_revenue
    FROM lineitem, part
    WHERE l_partkey = p_partkey
      AND l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 — promotion effect.  One month of the fact (pushed
    scan filter) broadcast-joined to the part dim; the percentage is a
    single conditional aggregation, never two scans."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(F.when(F.col("p_type") == "PROMO", vol).otherwise(0.0))
                    / F.sum(vol)
                ).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


@query(
    "q17_small_quantity_revenue",
    """
    SELECT round(CAST(sum(l_extendedprice) AS DOUBLE) / 7.0, 2)
             AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#9' AND p_size < 15
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 — small-quantity-order revenue (p_container adapted
    to p_size; the synthetic part table has no containers).  The
    correlated per-part average decorrelates into ONE per-partkey
    aggregate joined back — the standard Catalyst rewrite, written
    explicitly so the plan is a hash aggregate + equi-join instead of
    a per-row subquery probe."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#9") & (F.col("p_size") < 15)
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("q_cut")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_q, F.col("l_partkey") == F.col("ap"))
        .filter(F.col("l_quantity") < F.col("q_cut"))
        .agg(
            F.round((F.sum("l_extendedprice") / F.lit(7.0)).cast("double"), 2).alias(
                "avg_yearly"
            )
        )
    )


@query(
    "q19_disjunctive_revenue",
    """
    SELECT round(CAST(sum(l_extendedprice * (1 - l_discount)) AS DOUBLE), 2)
             AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 — discounted revenue under a 3-branch disjunctive
    predicate (shipmode/shipinstruct conjuncts dropped: not in the
    synthetic schema).  The OR-of-ANDs spans both join sides, so it
    can only apply post-join — but Catalyst still derives the
    single-side implications (p_brand IN (...), l_quantity ranges) and
    pushes THOSE to the scans; the dim side broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 5)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 10)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#22") & F.col("p_size").between(1, 15)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "double"
                ),
                2,
            ).alias("revenue")
        )
    )


@query(
    "q22_idle_customers",
    """
    WITH cutoff AS (
      SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
           round(CAST(sum(c_acctbal) AS DOUBLE), 2) AS totacctbal
    FROM customer, cutoff
    WHERE c_acctbal > cutoff.a
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1998-01-01')
    GROUP BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 — global sales opportunity (country-code substring
    adapted to c_mktsegment; "no orders" adapted to "no orders since
    1998" because every synthetic customer has ≥1 lifetime order —
    the lapsed-customer variant keeps the NOT EXISTS non-empty).  The
    positive-balance average is a 1-row scalar broadcast (the
    documented justified-hint class), the NOT EXISTS is a left-anti
    equi-join on custkey, and the rollup groups the bounded segment
    domain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    cutoff = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    return (
        c.crossJoin(F.broadcast(cutoff))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(
            o.select(F.col("o_custkey").alias("c_custkey")).distinct(),
            "c_custkey",
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.round(F.sum("c_acctbal").cast("double"), 2).alias("totacctbal"),
        )
    )


@query(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             min(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY 1, 2),
    eu AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    best AS (
      SELECT ps.partkey, min(ps.unit_cost) AS best_cost
      FROM ps JOIN eu ON ps.suppkey = eu.s_suppkey GROUP BY 1)
    SELECT s_name, n_name, p_partkey, p_name,
           round(CAST(ps.unit_cost AS DOUBLE), 4) AS unit_cost
    FROM part
    JOIN ps ON ps.partkey = p_partkey
    JOIN eu ON ps.suppkey = eu.s_suppkey
    JOIN best ON best.partkey = p_partkey AND ps.unit_cost = best.best_cost
    WHERE p_size = 15 AND p_type = 'STANDARD'
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 — minimum-cost supplier.  The synthetic schema has no
    partsupp table, so the part↔supplier relation (and its
    ps_supplycost) is derived from lineitem as min observed unit
    price per (part, supplier) — same correlated-MIN query shape.
    The correlated subquery decorrelates into a per-part MIN aggregate
    joined back (the q17 pattern); region/nation/part dims broadcast,
    and the double equality is exact because both sides compare the
    SAME computed doubles (selection, not re-summation)."""
    li = _t(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    eu = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(_t(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    ps_eu = ps.join(eu, F.col("suppkey") == F.col("s_suppkey"))
    best = ps_eu.groupBy(F.col("partkey").alias("bp")).agg(
        F.min("unit_cost").alias("best_cost")
    )
    return (
        ps_eu.join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
        .join(best, (F.col("partkey") == F.col("bp")))
        .filter(F.col("unit_cost") == F.col("best_cost"))
        .select(
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round(F.col("unit_cost").cast("double"), 4).alias("unit_cost"),
        )
    )


@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 — order-priority checking.  The original's
    "commitdate < receiptdate" lateness test maps to "shipped more
    than 60 days after order date" (the synthetic lineitem carries
    only l_shipdate).  The EXISTS compiles to ONE left-semi hash join
    on orderkey with the lateness conjunct as the join residual — the
    fact table is never widened, and the quarter filter pushes into
    the orders scan."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )


@query(
    "q9_product_type_profit",
    """
    SELECT nation, o_year, round(CAST(sum(amount) AS DOUBLE), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
             l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity AS amount
      FROM part, lineitem, supplier, orders, nation
      WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        AND p_name LIKE '%red%')
    GROUP BY nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 — product-type profit measure.  No partsupp table, so
    supply cost is modeled as 60% of p_retailprice (deterministic,
    schema-local) instead of ps_supplycost; the LIKE filter keeps the
    original's substring part gate.  Part and nation broadcast; the
    two fact-fact joins (lineitem↔orders) shuffle on their keys; the
    profit rollup groups a bounded (nation × year) domain."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount").cast("double"), 2).alias("sum_profit"))
    )


@query(
    "q11_important_stock",
    """
    WITH val AS (
      SELECT l_partkey AS partkey,
             sum(l_extendedprice * l_quantity) AS value
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'
      GROUP BY 1)
    SELECT partkey, round(CAST(value AS DOUBLE), 2) AS value
    FROM val
    WHERE value > (SELECT 0.002 * sum(value) FROM val)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 — important stock identification.  ps_availqty ×
    ps_supplycost becomes shipped value (extendedprice × quantity)
    per part for one nation's suppliers — the same
    "share above a global-fraction threshold" HAVING shape.  The
    global total is a 1-row scalar broadcast (the q22 cutoff class);
    the per-part rollup shuffles once on partkey."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    val = (
        li.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value"))
    )
    cutoff = val.agg((F.lit(0.002) * F.sum("value")).alias("cut"))
    return (
        val.crossJoin(F.broadcast(cutoff))
        .filter(F.col("value") > F.col("cut"))
        .select("partkey", F.round(F.col("value").cast("double"), 2).alias("value"))
    )


@query(
    "q12_late_shipment_modes",
    """
    SELECT l_linestatus AS shipmode,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
    """,
)
def q12_late_shipment_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 — shipping-mode / priority split.  l_shipmode and the
    commit/receipt dates don't exist in the synthetic schema:
    l_linestatus stands in for the mode group and "receipt after
    commit" becomes "shipped >30 days after order".  Both priority
    counters come from ONE conditional aggregation over the joined
    fact — never two passes."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .groupBy(F.col("l_linestatus").alias("shipmode"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY 1)
    SELECT s_suppkey, s_name,
           round(CAST(total_revenue AS DOUBLE), 2) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 — top supplier (the revenue view inlined as a CTE).
    The scalar MAX is a 1-row broadcast compared against each
    supplier's OWN computed revenue — both engines compare doubles
    they summed themselves, so the argmax is internally consistent;
    the supplier dim joins after the aggregate, on the (tiny)
    winners only."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )
    )
    top = revenue.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier")
    return (
        revenue.crossJoin(F.broadcast(top))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias("total_revenue"),
        )
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pl
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'STANDARD'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 — parts/supplier relationship.  partsupp is derived
    as DISTINCT (partkey, suppkey) from lineitem; the
    "complaint suppliers" NOT IN becomes negative-balance suppliers
    (no comment column).  The NOT IN is a left-anti broadcast join
    (keys non-null by construction), the part dim broadcasts with all
    three predicates pushed, and COUNT(DISTINCT) shuffles once on the
    group keys."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "STANDARD")
        & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(bad), "l_suppkey", "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@query(
    "q20_part_promotion_suppliers",
    """
    WITH pq AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY 1, 2),
    tot AS (SELECT partkey, sum(qty) AS total_qty FROM pq GROUP BY 1)
    SELECT DISTINCT s_suppkey, s_name
    FROM pq JOIN tot ON pq.partkey = tot.partkey
    JOIN part ON p_partkey = pq.partkey
    JOIN supplier ON s_suppkey = pq.suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%' AND n_name = 'NATION_5'
      AND pq.qty > 0.3 * tot.total_qty
    """,
)
def q20_part_promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 — potential part promotion.  "availqty > half of
    shipped quantity" (partsupp) becomes "this supplier shipped >30%
    of the part's 1996 volume" — the same aggregate-vs-aggregate
    threshold semi-join chain.  l_quantity is integer-valued, so the
    sums and the 0.3× threshold are exact in FP on both engines.  The
    per-(part,supplier) and per-part rollups reuse one shuffle key
    prefix; part/nation broadcast; output is the distinct supplier
    set."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    pq = li.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.sum("l_quantity").alias("qty"))
    tot = pq.groupBy(F.col("partkey").alias("tp")).agg(
        F.sum("qty").alias("total_qty")
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    return (
        pq.join(tot, F.col("partkey") == F.col("tp"))
        .filter(F.col("qty") > F.lit(0.3) * F.col("total_qty"))
        .join(F.broadcast(p), F.col("partkey") == F.col("p_partkey"))
        .join(s, F.col("suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name")
        .distinct()
    )


@query(
    "q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY)
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_2'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 — suppliers who kept orders waiting.  Lateness is
    "shipped >60 days after order date" (no commit/receipt dates);
    the EXISTS / NOT EXISTS pair keeps the original's sole-blamed-
    supplier semantics: another supplier participated in the order,
    but no OTHER supplier was late on it.  Compiles to one semi-join
    and one anti-join on orderkey with the suppkey inequality as the
    residual — never a per-row subquery; supplier/nation broadcast."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (
        li.join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .select("l_orderkey", "l_suppkey")
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_2")
    return (
        late.join(
            o.filter(F.col("o_orderstatus") == "F").select("o_orderkey"),
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .join(
            l2,
            (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("k3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")),
            "left_anti",
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
    )


# ===========================================================================
# §2.3 — broadcast dimension join (mainstem-enrichment shape)
# ===========================================================================

@query(
    "broadcast_dim_join",
    """
    SELECT n_nationkey, n_name, r_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    """,
)
def broadcast_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


# ===========================================================================
# §2.3 — semi/anti joins (materialization gate, stale-key prune)
# ===========================================================================

@query(
    "semi_join_customers_with_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "anti_join_customers_without_orders",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# ===========================================================================
# §2.5 windows — ranking + running total
# ===========================================================================

@query(
    "window_top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn = 1
    """,
)
def window_top_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r06 note: examined and deliberately LEFT as a window.  Spark 4's
    # WindowGroupLimit already runs a partial top-1-per-key below the
    # exchange (see plans/r06/window_top_order_per_customer_before.txt,
    # operator (3)), so the shuffle carries at most one row per
    # (custkey, map task) — a max(struct(price, -orderkey)) aggregate
    # rewrite was tried and compiles to SortAggregate (struct buffers
    # aren't hash-aggregable), i.e. the same sort + same exchange width.
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@query(
    "window_running_customer_spend",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(o_totalprice) OVER (PARTITION BY o_custkey
                ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
           AS running_spend
    FROM orders
    """,
)
def window_running_customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(w).cast("double"), 2).alias("running_spend"),
    )


@query(
    "window_range_frame_7d",
    """
    SELECT o_custkey, o_orderkey,
           round(CAST(sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
           AS spend_7d
    FROM orders
    """,
)
def window_range_frame_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-based (RANGE) window frame — trailing 7-day spend.  Spark
    has no interval RANGE frames; the equivalent is an integer day
    offset ordering with rangeBetween(-7, 0), which includes peer rows
    by VALUE exactly like the SQL interval frame."""
    o = _t(spark, sf_dir, "orders")
    days = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(days)
        .rangeBetween(-7, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w).cast("double"), 2).alias("spend_7d"),
    )


# ===========================================================================
# §2.6 set ops / §2.2 distinct
# ===========================================================================

@query("distinct_segments", "SELECT DISTINCT c_mktsegment FROM customer")
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


@query(
    "except_building_without_orders",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def except_building_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.subtract(o)  # EXCEPT (distinct) semantics


@query(
    "intersect_active_building_custkeys",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders
    """,
)
def intersect_active_building_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.intersect(o)


@query(
    "union_label_vocab",
    """
    SELECT DISTINCT o_orderpriority AS label FROM orders
    UNION
    SELECT DISTINCT c_mktsegment AS label FROM customer
    """,
)
def union_label_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("label"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("label"))
    return o.union(c).distinct()


# ===========================================================================
# §2.7 scalar functions — strings, dates, json, case/when
# ===========================================================================

@query(
    "string_functions",
    """
    SELECT p_partkey,
           trim(p_name)                                        AS name_trim,
           regexp_replace(p_name, '[^a-zA-Z0-9_]+', '', 'g')  AS name_sanitized,
           substring(p_type, 1, 6)                            AS type_prefix,
           replace(p_brand, '#', '-')                         AS brand_dashed,
           split_part(p_type, ' ', 1)                         AS type_first_token,
           CAST(length(p_name) AS BIGINT)                     AS name_len,
           concat(p_brand, ':', p_type)                       AS brand_type
    FROM part
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.trim("p_name").alias("name_trim"),
        F.regexp_replace("p_name", "[^a-zA-Z0-9_]+", "").alias("name_sanitized"),
        F.substring("p_type", 1, 6).alias("type_prefix"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.split(F.col("p_type"), " ")[0].alias("type_first_token"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )


@query(
    "date_functions",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y_%m_%d')                          AS od_fmt,
           o_orderdate + INTERVAL 30 DAY                              AS due_ts,
           CAST(date_part('year', o_orderdate) AS BIGINT)             AS od_year,
           CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
    FROM orders
    """,
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy_MM_dd").alias("od_fmt"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_ts"),
        F.year("o_orderdate").cast("long").alias("od_year"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date"))
        .cast("long").alias("days_since"),
    )


@query(
    "json_extract_props",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_val")
    )


@query(
    "case_when_balance_buckets",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS bal_bucket
    FROM customer
    """,
)
def case_when_balance_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
    )


# ===========================================================================
# §2.5 sort/limit — top-k
# ===========================================================================

@query(
    "topk_orders_by_price",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def topk_orders_by_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(100)
    )


# ===========================================================================
# §2.4 — rollup + pivot
# ===========================================================================

@query(
    "rollup_quantity",
    """
    SELECT l_returnflag, l_linestatus, CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty")
    )


@query(
    "pivot_status_quantity",
    """
    SELECT l_returnflag,
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F",
           CAST(sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
    )
    return out.select(
        "l_returnflag",
        F.col("F").cast("double").alias("F"),
        F.col("O").cast("double").alias("O"),
    )


# ===========================================================================
# §2.2 / §2.4 — dependency gate (all partitions materialized?)
# ===========================================================================

@query(
    "dependency_gate",
    """
    SELECT (SELECT count(DISTINCT o_custkey) FROM orders)   AS n_materialized,
           (SELECT count(DISTINCT c_custkey) FROM customer) AS n_expected,
           (SELECT count(DISTINCT o_custkey) FROM orders) =
           (SELECT count(DISTINCT c_custkey) FROM customer) AS all_materialized
    """,
)
def dependency_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").agg(F.countDistinct("o_custkey").alias("n_materialized"))
    c = _t(spark, sf_dir, "customer").agg(F.countDistinct("c_custkey").alias("n_expected"))
    return o.crossJoin(c).select(
        "n_materialized",
        "n_expected",
        (F.col("n_materialized") == F.col("n_expected")).alias("all_materialized"),
    )


# ===========================================================================
# §2.1/§2.2 source-catalog semantics over `documents` (sitemap analogs)
# ===========================================================================

@query(
    "stale_partition_prune",
    """
    SELECT DISTINCT source FROM documents
    WHERE source NOT IN ('src0', 'src1', 'src2')
    """,
)
def stale_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    keep = spark.createDataFrame([("src0",), ("src1",), ("src2",)], "source string")
    return d.select("source").distinct().join(F.broadcast(keep), "source", "left_anti")


@query(
    "duplicate_id_detection",
    """
    SELECT doc_id, count(*) AS n FROM documents GROUP BY doc_id HAVING count(*) > 1
    """,
)
def duplicate_id_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 1)


@query(
    "empty_content_filter",
    "SELECT doc_id FROM documents WHERE length(text) > 0",
)
def empty_content_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").filter(F.length("text") > 0).select("doc_id")


@query(
    "name_truncation",
    """
    SELECT doc_id,
           CASE WHEN length(concat(source, '_', CAST(doc_id AS VARCHAR))) > 12
                THEN substring(concat(source, '_', CAST(doc_id AS VARCHAR)), 1, 12)
                ELSE concat(source, '_', CAST(doc_id AS VARCHAR)) END AS run_name
    FROM documents
    """,
)
def name_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    full = F.concat(F.col("source"), F.lit("_"), F.col("doc_id").cast("string"))
    return d.select(
        "doc_id",
        F.when(F.length(full) > 12, F.substring(full, 1, 12)).otherwise(full).alias("run_name"),
    )


@query(
    "quarantine_invalid_rows",
    """
    SELECT doc_id, source FROM documents
    WHERE n_chars != length(text) OR length(text) = 0
    """,
)
def quarantine_invalid_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.filter(
        (F.col("n_chars") != F.length("text")) | (F.length("text") == 0)
    ).select("doc_id", "source")


# ===========================================================================
# §2.1 harvest + §2.4 release rollup over documents (hash-keyed mentions)
# ===========================================================================

@query(
    "harvest_word_mentions",
    """
    SELECT doc_id, sha256(text) AS content_sha,
           unnest(regexp_extract_all(text, '[a-z]+')) AS value
    FROM documents
    """,
)
def harvest_word_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r06: spread — pure map over a single-file table ran on ONE core
    d = _spread(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.sha2("text", 256).alias("content_sha"),
        F.explode(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("value"),
    )


@query(
    "release_rollup_per_source",
    """
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT sha256(text)) AS n_unique_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY source
    """,
)
def release_rollup_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.sha2("text", 256)).alias("n_unique_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@query(
    "content_hash_invariant",
    "SELECT doc_id, sha256(text) AS content_sha FROM documents",
)
def content_hash_invariant(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id", F.sha2("text", 256).alias("content_sha")
    )


# ===========================================================================
# §2.3 — range (bbox-analog) join
# ===========================================================================

@query(
    "range_band_join",
    """
    SELECT d.doc_id, b.band
    FROM documents d
    JOIN (VALUES ('short', 0, 100), ('mid', 100, 140), ('long', 140, 100000))
         AS b(band, lo, hi)
      ON d.n_chars >= b.lo AND d.n_chars < b.hi
    """,
)
def range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    bands = spark.createDataFrame(
        [("short", 0, 100), ("mid", 100, 140), ("long", 140, 100000)],
        "band string, lo long, hi long",
    )
    return d.join(
        F.broadcast(bands),
        (d.n_chars >= bands.lo) & (d.n_chars < bands.hi),
    ).select("doc_id", "band")


# ===========================================================================
# §2.3 — 2-D bbox intersection join (the reference's spatial containment
# join against the mainstem dimension, userCode/defs_test.py:104-130;
# bbox windowed reads userCode/testdata/create_flatgeobuf.py:15-27)
# ===========================================================================

@query(
    "bbox_intersect_join",
    """
    WITH f AS (
      SELECT CAST(c_custkey AS BIGINT) AS id,
             CAST((c_custkey * 7919) % 36000 AS DOUBLE)/100.0 - 180.0 AS fx,
             CAST((c_custkey * 104729) % 18000 AS DOUBLE)/100.0 - 90.0 AS fy
      FROM customer),
    b AS (
      SELECT CAST(r_regionkey AS BIGINT) AS box_id,
             -180.0 + r_regionkey*72.0 AS bxmin, -90.0 + r_regionkey*36.0 AS bymin,
             -180.0 + (r_regionkey+1)*72.0 AS bxmax, -90.0 + (r_regionkey+1)*36.0 AS bymax
      FROM region)
    SELECT f.id, b.box_id
    FROM f JOIN b ON f.fx <= b.bxmax AND f.fx + 0.5 >= b.bxmin
                 AND f.fy <= b.bymax AND f.fy + 0.5 >= b.bymin
    """,
)
def bbox_intersect_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D rectangle intersection: hash-derived feature boxes over
    `customer` ⨝ broadcast region-derived query windows, via the geo
    operator (broadcast path; the big-big grid-blocked variant is
    operators/geo.bbox_intersect_join_gridded, equivalence-tested)."""
    from .operators.geo import bbox_intersect_join

    c = _t(spark, sf_dir, "customer")
    lon = (F.pmod(F.col("c_custkey") * 7919, F.lit(36000)).cast("double") / 100.0 - 180.0)
    lat = (F.pmod(F.col("c_custkey") * 104729, F.lit(18000)).cast("double") / 100.0 - 90.0)
    feats = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.struct(
            lon.alias("xmin"), lat.alias("ymin"),
            (lon + 0.5).alias("xmax"), (lat + 0.5).alias("ymax"),
        ).alias("bbox"),
    )
    r = _t(spark, sf_dir, "region")
    boxes = r.select(
        F.col("r_regionkey").cast("long").alias("box_id"),
        (F.lit(-180.0) + F.col("r_regionkey") * 72.0).alias("xmin"),
        (F.lit(-90.0) + F.col("r_regionkey") * 36.0).alias("ymin"),
        (F.lit(-180.0) + (F.col("r_regionkey") + 1) * 72.0).alias("xmax"),
        (F.lit(-90.0) + (F.col("r_regionkey") + 1) * 36.0).alias("ymax"),
    )
    return bbox_intersect_join(feats, boxes)


# ===========================================================================
# §2.3 engine add — as-of join (attach the latest prior 'view' to each
# 'click'); Spark side is the one-shuffle union+window operator, oracle
# is DuckDB's native ASOF JOIN
# ===========================================================================

@query(
    "asof_join_clicks_views",
    """
    SELECT l.event_id AS click_id, l.user_id,
           r.event_id AS view_id, r.value AS view_value
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') l
    ASOF JOIN (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'view') r
      ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts",
        F.col("event_id").alias("view_id"), F.col("value").alias("view_value"),
    )
    return asof_join(clicks, views, on="user_id", ts="ts", how="inner").drop("ts")


# ===========================================================================
# §2.8 — sessionization (incremental/stream-shaped window over events)
# ===========================================================================

@query(
    "events_sessionize",
    """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                       OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions
    FROM x GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet yields TIMESTAMP_NTZ; session tz is UTC so the cast is exact
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    new_s = F.when(
        F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > 1_800_000_000), 1
    ).otherwise(0)
    return (
        e.select("user_id", new_s.alias("new_s"))
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"))
    )


@query(
    "windowed_event_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window counts over event time — the batch form of a
    watermarked streaming window aggregation."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )


@query(
    "from_json_typed",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_typed
    FROM events
    """,
)
def from_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parse (from_json → struct), vs the
    path-extraction variant in json_extract_props."""
    e = _t(spark, sf_dir, "events")
    parsed = F.from_json(F.col("props"), "k BIGINT")
    return e.select("event_id", parsed["k"].alias("k_typed"))


@query(
    "cube_order_counts",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# ===========================================================================
# §2.4 — GROUPING SETS + grouping_id (generalizes the rollup/cube rows)
# ===========================================================================

@query(
    "grouping_sets_quantity",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) AS BIGINT)*2
             + CAST(grouping(l_linestatus) AS BIGINT) AS gid,
           CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
)
def grouping_sets_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_grouping_sets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS BIGINT)*2
                 + CAST(grouping(l_linestatus) AS BIGINT) AS gid,
               CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        FROM li_grouping_sets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


# ===========================================================================
# §2.3 — scalar subquery (uncorrelated aggregate predicate)
# ===========================================================================

@query(
    "scalar_subquery_above_avg",
    """
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    c.createOrReplaceTempView("cust_scalar_sub")
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM cust_scalar_sub
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM cust_scalar_sub)
        """
    )


# ===========================================================================
# §2.3 — null-safe equality join (<=> / IS NOT DISTINCT FROM)
# ===========================================================================

@query(
    "null_safe_join_counts",
    """
    WITH a AS (SELECT c_custkey, NULLIF(c_custkey % 7, 0) AS k7 FROM customer),
         b AS (SELECT DISTINCT NULLIF(s_suppkey % 7, 0) AS k7 FROM supplier)
    SELECT CAST(coalesce(b.k7, -1) AS BIGINT) AS k7, CAST(count(*) AS BIGINT) AS n
    FROM a JOIN b ON a.k7 IS NOT DISTINCT FROM b.k7
    GROUP BY coalesce(b.k7, -1)
    """,
)
def null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _t(spark, sf_dir, "customer").select(
        "c_custkey", F.nullif(F.pmod("c_custkey", F.lit(7)), F.lit(0)).alias("k7")
    )
    b = (
        _t(spark, sf_dir, "supplier")
        .select(F.nullif(F.pmod("s_suppkey", F.lit(7)), F.lit(0)).alias("k7"))
        .distinct()
    )
    return (
        a.join(F.broadcast(b), a["k7"].eqNullSafe(b["k7"]))
        .groupBy(F.coalesce(b["k7"], F.lit(-1)).cast("long").alias("k7"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ===========================================================================
# §2.4 — order-controlled string aggregation
# ===========================================================================

@query(
    "sorted_string_agg",
    """
    SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation GROUP BY n_regionkey
    """,
)
def sorted_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("names")
    )


# ===========================================================================
# §2.7 — array functions (sort/contains/slice/size; string-joined output
# so the hash compare is representation-stable)
# ===========================================================================

@query(
    "array_functions",
    """
    WITH t AS (SELECT p_partkey, string_split(p_type, ' ') AS toks FROM part)
    SELECT p_partkey,
           array_to_string(list_sort(toks), '|') AS sorted_toks,
           list_contains(toks, 'BRUSHED')        AS has_brushed,
           array_to_string(toks[1:2], '|')       AS first_two,
           CAST(len(toks) AS BIGINT)             AS n_toks
    FROM t
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    toks = F.split(F.col("p_type"), " ")
    return p.select(
        "p_partkey",
        F.concat_ws("|", F.sort_array(toks)).alias("sorted_toks"),
        F.array_contains(toks, "BRUSHED").alias("has_brushed"),
        F.concat_ws("|", F.slice(toks, 1, 2)).alias("first_two"),
        F.size(toks).cast("long").alias("n_toks"),
    )


# ===========================================================================
# §2.9 — positional explode (lateral view with ordinality)
# ===========================================================================

@query(
    "posexplode_tokens",
    """
    WITH t AS (SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS toks
               FROM documents WHERE doc_id < 50)
    SELECT doc_id, CAST(u.i AS BIGINT) AS pos, toks[u.i+1] AS tok
    FROM t, unnest(range(len(t.toks))) AS u(i)
    """,
)
def posexplode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = F.regexp_extract_all("text", F.lit("[a-z]+"), 0)
    return d.select("doc_id", F.posexplode(toks).alias("pos", "tok")).select(
        "doc_id", F.col("pos").cast("long").alias("pos"), "tok"
    )


# ===========================================================================
# §2.4 approximate aggregates (lineage metrics path, SURVEY §2.4 note:
# approx_count_distinct for entity counts where exactness isn't
# contract-bound).  The oracle computes the EXACT value; the gate pins
# the sketch inside its error bound as a boolean both sides.
# ===========================================================================

@query(
    "approx_distinct_bounded",
    """
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS within_bound
    FROM orders
    """,
)
def approx_distinct_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ count-distinct vs exact, asserted within the
    configured rsd (2% → bound at 3σ = 6%).  The sketch is the 100 TB
    path for lineage entity counts (one pass, constant memory,
    mergeable across partitions); the exact count is the oracle."""
    o = _t(spark, sf_dir, "orders")
    agg = o.agg(
        F.countDistinct("o_custkey").alias("n_exact"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("n_approx"),
    )
    return agg.select(
        F.col("n_exact").cast("long").alias("n_exact"),
        (
            F.abs(F.col("n_approx") - F.col("n_exact"))
            <= F.lit(0.06) * F.col("n_exact")
        ).alias("within_bound"),
    )


@query(
    "approx_quantiles_bounded",
    """
    SELECT round(quantile_cont(o_totalprice, 0.5), 2)  AS p50_exact,
           round(quantile_cont(o_totalprice, 0.95), 2) AS p95_exact,
           TRUE AS within_bound
    FROM orders
    """,
)
def approx_quantiles_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenwald–Khanna quantile sketch vs exact continuous quantiles,
    asserted within rank error ε=0.01 (value bound derived by
    re-ranking the sketch output against the exact distribution)."""
    o = _t(spark, sf_dir, "orders")
    q50, q95 = o.stat.approxQuantile("o_totalprice", [0.5, 0.95], 0.01)
    exact = o.agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.95)"), 2).alias("p95_exact"),
        # rank of the sketch answers in the exact distribution
        (F.sum((F.col("o_totalprice") <= q50).cast("long")) / F.count(F.lit(1))).alias("r50"),
        (F.sum((F.col("o_totalprice") <= q95).cast("long")) / F.count(F.lit(1))).alias("r95"),
    )
    return exact.select(
        "p50_exact",
        "p95_exact",
        (
            (F.abs(F.col("r50") - 0.5) <= 0.015) & (F.abs(F.col("r95") - 0.95) <= 0.015)
        ).alias("within_bound"),
    )


# ===========================================================================
# §2.5 — analytic window functions (ntile/percent_rank/lead/first_value)
# ===========================================================================

@query(
    "window_rank_functions",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           round(percent_rank() OVER w, 6) AS prank,
           lead(o_orderkey) OVER w AS next_ok,
           first_value(o_orderkey) OVER w AS first_ok
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("prank"),
        F.lead("o_orderkey").over(w).alias("next_ok"),
        F.first("o_orderkey").over(w).alias("first_ok"),
    )


# ===========================================================================
# §2.3 — correlated scalar subquery (per-group threshold predicate)
# ===========================================================================

@query(
    "correlated_scalar_subquery",
    """
    SELECT o_orderkey FROM orders o
    WHERE o_totalprice > 1.8 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
    """,
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("orders_corr_sub")
    return spark.sql(
        """
        SELECT o_orderkey FROM orders_corr_sub o
        WHERE o_totalprice > 1.8 * (SELECT avg(o2.o_totalprice) FROM orders_corr_sub o2
                                    WHERE o2.o_custkey = o.o_custkey)
        """
    )


# ===========================================================================
# §2.6 — multiset set op (EXCEPT ALL)
# ===========================================================================

@query(
    "except_all_orderkeys",
    """
    SELECT CAST(count(*) AS BIGINT) AS n FROM (
      SELECT l_orderkey FROM lineitem EXCEPT ALL SELECT o_orderkey FROM orders)
    """,
)
def except_all_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey"))
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("l_orderkey"))
    return li.exceptAll(o).agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# §2.7 — string padding / reversal / position scalars
# ===========================================================================

@query(
    "string_pad_functions",
    """
    SELECT n_nationkey,
           lpad(n_name, 12, '_')            AS lp,
           rpad(n_name, 12, '.')            AS rp2,
           reverse(n_name)                  AS rv,
           repeat(substr(n_name, 1, 2), 3)  AS rp,
           CAST(position('_' IN n_name) AS BIGINT) AS pos_underscore
    FROM nation
    """,
)
def string_pad_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    return n.select(
        "n_nationkey",
        F.lpad("n_name", 12, "_").alias("lp"),
        F.rpad("n_name", 12, ".").alias("rp2"),
        F.reverse("n_name").alias("rv"),
        F.repeat(F.substring("n_name", 1, 2), 3).alias("rp"),
        F.instr("n_name", "_").cast("long").alias("pos_underscore"),
    )


# ===========================================================================
# §2.7 — MapType construction + key access (engine add; reference has
# no map columns but counters/metadata at scale want them)
# ===========================================================================

@query(
    "map_functions",
    """
    SELECT p_partkey,
           map_extract(map(['brand','type'], [p_brand, p_type]), 'brand')[1] AS brand_val
    FROM part
    """,
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")
    m = F.map_from_arrays(
        F.array(F.lit("brand"), F.lit("type")), F.array("p_brand", "p_type")
    )
    return p.select("p_partkey", m.getItem("brand").alias("brand_val"))


# ===========================================================================
# Training-data prep ops: chunking, deterministic split, sequence packing
# ===========================================================================

@query(
    "chunk_documents",
    """
    WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
    SELECT doc_id, CAST(u.i AS BIGINT) AS chunk_no,
           substr(text, CAST(u.i*60 + 1 AS BIGINT), 80) AS chunk
    FROM t, unnest(range(CAST(ceil(greatest(n - 80, 0) / 60.0) AS BIGINT) + 1)) AS u(i)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character windows (size 80, stride 60) —
    the context-window chunking step of an LLM data pipeline, as a pure
    column program: one sequence+explode, no Python, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    n_chunks = (
        F.ceil(F.greatest(F.length("text") - 80, F.lit(0)) / 60.0).cast("long") + 1
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0).cast("long"), n_chunks - 1)).alias("_p", "i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("long").alias("chunk_no"),
            F.substr("text", F.col("i") * 60 + 1, F.lit(80)).alias("chunk"),
        )
    )


@query(
    "train_val_split",
    """
    SELECT source,
           CASE WHEN ((doc_id % 9999991) * 2654435761) % 100 < 90 THEN 'train' ELSE 'val' END AS split,
           CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
    """,
)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/val assignment by multiplicative hash
    of the stable doc id — reproducible on any cluster layout, no RNG
    state, rebalance-safe (a doc's split never changes as the corpus
    grows, unlike randomSplit).  The id is reduced mod 9999991 BEFORE
    the Knuth multiplier so the product stays within BIGINT for any
    doc_id (the bare product overflows past doc_id ≈ 3.5e9 — runtime
    error under ANSI mode, engine-divergent wraparound otherwise)."""
    d = _t(spark, sf_dir, "documents")
    split = F.when(
        F.pmod(F.pmod("doc_id", F.lit(9999991)) * F.lit(2654435761), F.lit(100)) < 90,
        "train",
    ).otherwise("val")
    return d.groupBy("source", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "sequence_packing",
    r"""
    WITH t AS (SELECT doc_id, source,
                      len(regexp_extract_all(text, '\S+')) AS n_tok
               FROM documents),
    c AS (SELECT doc_id, source, n_tok,
                 sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS tok_before
          FROM t)
    SELECT doc_id, source,
           CAST(floor(coalesce(tok_before, 0) / 512) AS BIGINT) AS pack_id,
           CAST(n_tok AS BIGINT) AS n_tok
    FROM c
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous-fill sequence packing: docs are packed in stable
    doc_id order into ~512-token bins per source (the pre-tokenization
    packing step for LLM training).  One window cumsum — a single
    shuffle on source, deterministic bin assignment."""
    d = _t(spark, sf_dir, "documents")
    n_tok = F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return d.select("doc_id", "source", n_tok.alias("n_tok")).select(
        "doc_id",
        "source",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / 512)
        .cast("long")
        .alias("pack_id"),
        F.col("n_tok").cast("long").alias("n_tok"),
    )


# ===========================================================================
# Shared deterministic entity graph (o_orderkey-derived) used by the CC
# oracle, PageRank, and triangle-count gates — ONE definition each side
# ===========================================================================

# ~280 nodes / 56 components; orderkeys divisible by 5 produce
# self-loops (7919k ≡ 104729k mod 50 ⇔ k ≡ 0 mod 5), which the graph
# operators must tolerate.
_ORDER_GRAPH_RAW_CTE = """SELECT concat('b', CAST(o_orderkey % 7 AS VARCHAR), '_',
                    CAST((o_orderkey * 7919) % 50 AS VARCHAR)) AS u,
             concat('b', CAST(o_orderkey % 7 AS VARCHAR), '_',
                    CAST((o_orderkey * 104729) % 50 AS VARCHAR)) AS v
      FROM orders WHERE o_orderkey < 1500"""


def _order_graph_edges(
    spark: SparkSession, sf_dir: str, src: str = "src_entity", dst: str = "dst_entity"
) -> DataFrame:
    """Spark twin of _ORDER_GRAPH_RAW_CTE."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1500)
    u = F.concat(
        F.lit("b"), F.pmod("o_orderkey", F.lit(7)).cast("string"),
        F.lit("_"), F.pmod(F.col("o_orderkey") * 7919, F.lit(50)).cast("string"),
    )
    v = F.concat(
        F.lit("b"), F.pmod("o_orderkey", F.lit(7)).cast("string"),
        F.lit("_"), F.pmod(F.col("o_orderkey") * 104729, F.lit(50)).cast("string"),
    )
    return o.select(u.alias(src), v.alias(dst))


# ===========================================================================
# Canonicalization core — connected components, ORACLE-CHECKED: the one
# custom iterative algorithm verified against a DuckDB recursive-CTE
# transitive closure on a deterministic synthetic graph
# ===========================================================================

@query(
    "connected_components_oracle",
    f"""
    WITH RECURSIVE
    raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    nodes AS (
      SELECT DISTINCT u AS n FROM raw
      UNION
      SELECT DISTINCT v AS n FROM raw),
    edges AS (
      SELECT u, v FROM raw WHERE u != v
      UNION
      SELECT v, u FROM raw WHERE u != v),
    reach AS (
      SELECT n AS src, n AS dst FROM nodes
      UNION
      SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u
    )
    SELECT src AS entity_id, min(dst) AS canonical_id FROM reach GROUP BY src
    """,
)
def connected_components_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """connected_components (large-star/small-star ≡ union-find) vs the
    SQL ground truth: transitive closure by recursive CTE, canonical =
    lexicographic min of each closure — exactly the operator's
    contract, including the degenerate class (the node universe is ALL
    edge endpoints, so a self-loop-only node is its own singleton on
    both sides).  The graph (350 nodes incl. 70 self-loop-only
    singletons) derives deterministically from o_orderkey on both
    sides."""
    from .operators.components import connected_components

    edges = _order_graph_edges(spark, sf_dir)
    # threshold=0 forces the DISTRIBUTED large-star/small-star loop —
    # the scale-critical path — under the oracle; the driver union-find
    # fast path is equivalence-tested against it in tests/test_components.py
    return connected_components(edges, small_graph_threshold=0)


# ===========================================================================
# Graph neighborhood expansion — bounded multi-source BFS shortest paths,
# oracle-checked against a DuckDB recursive-CTE walk closure
# ===========================================================================

@query(
    "graph_bfs_distances",
    f"""
    WITH RECURSIVE
    raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (
      SELECT u, v FROM raw WHERE u != v
      UNION
      SELECT v, u FROM raw WHERE u != v),
    seeds AS (SELECT DISTINCT u AS s FROM edges WHERE starts_with(u, 'b0_')),
    walk AS (
      SELECT s AS src, s AS dst, 0 AS dist FROM seeds
      UNION
      SELECT w.src, e.v AS dst, w.dist + 1 FROM walk w
      JOIN edges e ON e.u = w.dst
      WHERE w.dist < 4
    )
    SELECT src AS src_node, dst AS dst_node, CAST(min(dist) AS BIGINT) AS dist
    FROM walk WHERE dst != src GROUP BY src, dst
    """,
)
def graph_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS (operators/bfs.py frontier loop) vs the SQL
    ground truth: min walk length from the recursive closure, bounded
    at 4 hops.  First-reach-wins in the Spark loop must equal
    min-over-all-walks in the CTE — the whole shortest-path contract
    in one hash-compared gate, on the same deterministic order graph
    the CC oracle uses."""
    from .operators.bfs import bfs_shortest_paths

    raw = _order_graph_edges(spark, sf_dir, src="u", dst="v").filter(
        F.col("u") != F.col("v")
    )
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.filter(F.col("u").startswith("b0_"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    return bfs_shortest_paths(raw, seeds, src="u", dst="v", max_hops=4)


@query(
    "graph_harmonic_centrality",
    f"""
    WITH RECURSIVE
    raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (
      SELECT u, v FROM raw WHERE u != v
      UNION
      SELECT v, u FROM raw WHERE u != v),
    seeds AS (SELECT DISTINCT u AS s FROM edges WHERE starts_with(u, 'b0_')),
    walk AS (
      SELECT s AS src, s AS dst, 0 AS dist FROM seeds
      UNION
      SELECT w.src, e.v AS dst, w.dist + 1 FROM walk w
      JOIN edges e ON e.u = w.dst
      WHERE w.dist < 4
    ),
    d AS (SELECT src, dst, min(dist) AS dist
          FROM walk WHERE dst != src GROUP BY src, dst)
    SELECT dst AS entity_id,
           CAST(count(*) AS BIGINT) AS n_seeds_reached,
           CAST(sum(12 / dist) AS BIGINT) AS harmonic_x12,
           round(sum(12 / dist) / 12.0, 6) AS harmonic
    FROM d GROUP BY dst
    """,
)
def graph_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled harmonic centrality (Boldi & Vigna 2014; the exact
    small-seed-set analog of their HyperBall estimator): hc(v) =
    Σ_seeds 1/d(s,v) over the bounded multi-source BFS distances the
    `graph_bfs_distances` gate already pins, radius 4.  At 100 TB the
    seed set is a fixed sample, so cost = one BFS frontier loop
    (equi-joins, localCheckpoint discipline) + one rollup — never
    all-pairs.

    Cross-engine exactness: dist ∈ {1..4}, so 12/dist is an INTEGER
    (12, 6, 4, 3); the rollup sums BIGINTs (order-independent, no float
    summation noise) and divides once at the end — harmonic_x12 is the
    exact fixed-point value, harmonic the display double."""
    from .operators.bfs import bfs_shortest_paths

    raw = _order_graph_edges(spark, sf_dir, src="u", dst="v").filter(
        F.col("u") != F.col("v")
    )
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.filter(F.col("u").startswith("b0_"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    d = bfs_shortest_paths(raw, seeds, src="u", dst="v", max_hops=4)
    x12 = F.sum((F.lit(12) / F.col("dist")).cast("long"))
    return d.groupBy(F.col("dst_node").alias("entity_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_seeds_reached"),
        x12.cast("long").alias("harmonic_x12"),
        F.round(x12 / 12.0, 6).alias("harmonic"),
    )


@query(
    "graph_effective_diameter",
    f"""
    WITH RECURSIVE
    raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (
      SELECT u, v FROM raw WHERE u != v
      UNION
      SELECT v, u FROM raw WHERE u != v),
    seeds AS (SELECT DISTINCT u AS s FROM edges WHERE starts_with(u, 'b0_')),
    walk AS (
      SELECT s AS src, s AS dst, 0 AS dist FROM seeds
      UNION
      SELECT w.src, e.v AS dst, w.dist + 1 FROM walk w
      JOIN edges e ON e.u = w.dst
      WHERE w.dist < 4
    ),
    d AS (SELECT src, dst, min(dist) AS dist
          FROM walk WHERE dst != src GROUP BY src, dst),
    hist AS (SELECT dist, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY dist),
    cum AS (SELECT dist, n,
                   sum(n) OVER (ORDER BY dist) AS cum,
                   sum(n) OVER () AS total
            FROM hist)
    SELECT CAST(max(total) AS BIGINT) AS n_pairs,
           CAST(min(CASE WHEN cum * 10 >= total * 9 THEN dist END) AS BIGINT)
             AS eff_diameter
    FROM cum
    """,
)
def graph_effective_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled effective diameter (the ANF/HyperANF statistic,
    Palmer et al. 2002 / Boldi & Vigna 2011, computed exactly on the
    sampled seed set instead of by sketch): the smallest d such that
    ≥ 90% of reachable (seed, node) pairs are within distance d, over
    the same bounded multi-source BFS the harmonic gate pins.  The 90%
    test is the exact integer comparison cum·10 ≥ total·9 — no float
    anywhere, so both engines agree bit-for-bit.

    Scale shape: one BFS frontier loop + a ≤max_hops-row histogram —
    the distance distribution is radius-bounded, so the rollup state
    is constant-size at any corpus scale."""
    from .operators.bfs import bfs_shortest_paths

    raw = _order_graph_edges(spark, sf_dir, src="u", dst="v").filter(
        F.col("u") != F.col("v")
    )
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.filter(F.col("u").startswith("b0_"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    d = bfs_shortest_paths(raw, seeds, src="u", dst="v", max_hops=4)
    hist = d.groupBy("dist").agg(F.count(F.lit(1)).cast("long").alias("n"))
    cum = hist.select(
        "dist",
        "n",
        F.sum("n").over(Window.orderBy("dist")).alias("cum"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    return cum.agg(
        F.max("total").cast("long").alias("n_pairs"),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("dist"))
        ).cast("long").alias("eff_diameter"),
    )


@query(
    "graph_betweenness_seeded",
    f"""
    WITH
    raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (
      SELECT u, v FROM raw WHERE u != v
      UNION
      SELECT v, u FROM raw WHERE u != v),
    seeds AS (SELECT DISTINCT u AS s FROM edges WHERE starts_with(u, 'b0_')),
    l0 AS (SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM seeds),
    l1 AS MATERIALIZED (
      SELECT f.s, e.v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM l0 f JOIN edges e ON e.u = f.v
      WHERE NOT EXISTS (SELECT 1 FROM l0 p WHERE p.s = f.s AND p.v = e.v)
      GROUP BY f.s, e.v),
    l2 AS MATERIALIZED (
      SELECT f.s, e.v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM l1 f JOIN edges e ON e.u = f.v
      WHERE NOT EXISTS (SELECT 1 FROM l0 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l1 p WHERE p.s = f.s AND p.v = e.v)
      GROUP BY f.s, e.v),
    l3 AS MATERIALIZED (
      SELECT f.s, e.v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM l2 f JOIN edges e ON e.u = f.v
      WHERE NOT EXISTS (SELECT 1 FROM l0 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l1 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l2 p WHERE p.s = f.s AND p.v = e.v)
      GROUP BY f.s, e.v),
    l4 AS MATERIALIZED (
      SELECT f.s, e.v, CAST(sum(f.sigma) AS BIGINT) AS sigma
      FROM l3 f JOIN edges e ON e.u = f.v
      WHERE NOT EXISTS (SELECT 1 FROM l0 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l1 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l2 p WHERE p.s = f.s AND p.v = e.v)
        AND NOT EXISTS (SELECT 1 FROM l3 p WHERE p.s = f.s AND p.v = e.v)
      GROUP BY f.s, e.v),
    d3 AS MATERIALIZED (
      SELECT u3.s, u3.v,
             sum(u3.sigma * 1.0 / w4.sigma * (1 + 0.0)) AS delta
      FROM l3 u3 JOIN edges e ON e.u = u3.v
      JOIN l4 w4 ON w4.s = u3.s AND w4.v = e.v
      GROUP BY u3.s, u3.v),
    d2 AS MATERIALIZED (
      SELECT u2.s, u2.v,
             sum(u2.sigma * 1.0 / w3.sigma
                 * (1 + coalesce(d3.delta, 0.0))) AS delta
      FROM l2 u2 JOIN edges e ON e.u = u2.v
      JOIN l3 w3 ON w3.s = u2.s AND w3.v = e.v
      LEFT JOIN d3 ON d3.s = w3.s AND d3.v = w3.v
      GROUP BY u2.s, u2.v),
    d1 AS MATERIALIZED (
      SELECT u1.s, u1.v,
             sum(u1.sigma * 1.0 / w2.sigma
                 * (1 + coalesce(d2.delta, 0.0))) AS delta
      FROM l1 u1 JOIN edges e ON e.u = u1.v
      JOIN l2 w2 ON w2.s = u1.s AND w2.v = e.v
      LEFT JOIN d2 ON d2.s = w2.s AND d2.v = w2.v
      GROUP BY u1.s, u1.v),
    reached AS (
      SELECT s, v FROM l1 UNION ALL SELECT s, v FROM l2
      UNION ALL SELECT s, v FROM l3 UNION ALL SELECT s, v FROM l4),
    deltas AS (
      SELECT s, v, delta FROM d1 UNION ALL SELECT s, v, delta FROM d2
      UNION ALL SELECT s, v, delta FROM d3)
    SELECT r.v AS entity_id,
           CAST(count(*) AS BIGINT) AS n_seed_paths,
           round(sum(coalesce(d.delta, 0.0)), 6) AS betweenness
    FROM reached r LEFT JOIN deltas d ON d.s = r.s AND d.v = r.v
    GROUP BY r.v
    """,
)
def graph_betweenness_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-sampled bounded-radius betweenness centrality — Brandes
    (2001) forward σ path counting + backward dependency accumulation,
    restricted to the b0_ seed set and radius 4 (the Brandes & Pich
    2007 pivot-sampling estimator; same seeds and radius as the
    harmonic gate).  See operators/betweenness.py for the distributed
    shape; the DuckDB twin unrolls the 4 forward levels and 3 backward
    accumulation levels as materialized CTEs.

    Cross-engine: σ values are exact BIGINTs; δ is a sum of exact
    ratios and rounds at 6 dp (the PageRank/HITS ratio-sum
    discipline).  BFS levels are disjoint, so each (seed, node) pair
    appears in exactly one level table in both engines."""
    from .operators.betweenness import seeded_betweenness

    raw = _order_graph_edges(spark, sf_dir, src="u", dst="v").filter(
        F.col("u") != F.col("v")
    )
    sym = raw.union(raw.select(F.col("v").alias("u"), F.col("u").alias("v")))
    seeds = (
        sym.filter(F.col("u").startswith("b0_"))
        .select(F.col("u").alias("node"))
        .distinct()
    )
    return seeded_betweenness(raw, seeds, src="u", dst="v", max_depth=4)


# ===========================================================================
# KG analytics over the committed golden triples — entity popularity
# ===========================================================================

def kg_entity_degree_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity in-degree top-k over the KG — the popularity/degree
    distribution a KG consumer asks first; runs on the live pipeline
    output, oracled against the committed golden."""
    t = kg_pipeline_triples(spark, sf_dir)
    return (
        t.filter(F.col("pred") == "links_to")
        .groupBy(F.col("obj").alias("entity"))
        .agg(F.count(F.lit(1)).alias("degree"))
        .orderBy(F.desc("degree"), "entity")
        .limit(10)
    )


# ===========================================================================
# §2.3 — interval (time-window) join, encoded as equi-join + predicate
# ===========================================================================

@query(
    "interval_join_click_purchase",
    """
    SELECT c.event_id AS click_id, p.event_id AS purchase_id
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type='click') c
    JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type='purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
    """,
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases within 30 min after a click by the same user.  The
    time predicate rides an EQUI-join on user_id (hash-partitionable;
    per-user candidate products are bounded), never a raw theta join —
    the scalable encoding of interval joins."""
    e = _t(spark, sf_dir, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("c_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("p_ts")
    )
    return (
        c.join(p, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTES"))
        )
        .select("click_id", "purchase_id")
    )


# ===========================================================================
# §2.4 — exact per-group percentiles
# ===========================================================================

@query(
    "group_percentiles",
    """
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 2) AS p90
    FROM orders GROUP BY o_orderpriority
    """,
)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 2).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 2).alias("p90"),
    )


# ===========================================================================
# Multimodal plumbing twin — per-frame hashing as pure column exprs
# ===========================================================================

@query(
    "video_frame_hashes",
    """
    WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents)
    SELECT doc_id, CAST(u.i AS BIGINT) AS frame_no,
           sha256(substring(text, CAST(u.i*16 + 1 AS BIGINT), 16)) AS frame_sha,
           CAST(strlen(substring(text, CAST(u.i*16 + 1 AS BIGINT), 16)) AS BIGINT)
             AS frame_bytes
    FROM t, unnest(range(greatest(CAST(ceil(n / 16.0) AS BIGINT), 1))) AS u(i)
    """,
)
def video_frame_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride frame sampling: payload sliced at fixed strides,
    one row + sha per frame — over the text column so DuckDB can verify
    (it cannot slice BLOBs).
    Pure sequence+explode+substr+sha2: codegen, shuffle-free."""
    d = _t(spark, sf_dir, "documents")
    # greatest(…, 1): an empty doc still emits one (empty) frame row —
    # and sequence(0, -1) would otherwise infer step -1, not emptiness
    n_frames = F.greatest(F.ceil(F.length("text") / 16.0).cast("long"), F.lit(1))
    chunk = F.substr("text", F.col("i") * 16 + 1, F.lit(16))
    return (
        d.select(
            "doc_id",
            "text",
            F.posexplode(F.sequence(F.lit(0).cast("long"), n_frames - 1)).alias("_p", "i"),
        )
        .select(
            "doc_id",
            F.col("i").cast("long").alias("frame_no"),
            F.sha2(chunk, 256).alias("frame_sha"),
            F.octet_length(chunk).cast("long").alias("frame_bytes"),
        )
    )


# ===========================================================================
# Dedup family (training-data ops): exact, n-gram jaccard, embedding cosine
# ===========================================================================

@query(
    "dedup_exact_by_fingerprint",
    """
    SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id
    FROM (SELECT doc_id,
                 sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
          FROM documents)
    GROUP BY fingerprint
    """,
)
def dedup_exact_by_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    fp = F.sha2(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")), 256)
    return (
        d.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("long").alias("keeper_doc_id"),
        )
    )


@query(
    "dedup_ngram_jaccard",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(0, greatest(len(text)-2, 1)),
                                          i -> substr(text, i+1, 3))) AS s
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact-preserving optimizations over the naive pair loop:
    # - per-doc shingle-set size precomputed once (not per pair)
    # - size-band prune BEFORE the array intersect: J ≥ t forces
    #   t·|B| ≤ |A| ≤ |B|/t, and size compares are codegen-cheap
    # - |A∪B| = |A|+|B|−|A∩B| (distinct shingles), saving a second
    #   array traversal per pair
    # intersect 64-bit shingle hashes, not 3-char strings: integer
    # equality beats string hashing per probe, and |set| is preserved
    # (in-doc hash collision odds ~1e-15)
    from .operators.dedup import hashed_shingles

    d = _spread(spark, sf_dir, "documents").select(
        "doc_id", "source", hashed_shingles(F.col("text"), 3).alias("s")
    ).withColumn("n", F.size("s"))
    # --- r06: bitmap intersect (guide §1.2 "fix the algorithm") -------
    # The corpus's GLOBAL distinct-shingle vocabulary is tiny (377
    # hashes at every sf — short same-vocab synthetic docs), so each
    # doc's shingle SET is re-encoded as ceil(V/64) packed BIGINT words
    # and |A∩B| becomes a handful of bit_count(a&b) terms evaluated in
    # whole-stage codegen — replacing a per-pair array_intersect hash
    # set build over ~143-element arrays in the O(block²) loop
    # (measured at sf1.0: 48.4 s → see *_after.txt plan).  The vocab is
    # collected once (bounded: at most 16385 rows; past 16384 hashes it
    # falls back to the array path), indexed in python, and joined back
    # broadcast; set sizes |A|, |B| still come from the ORIGINAL arrays,
    # and inter is the exact same integer, so the filter algebra and the
    # 6-dp jac are bit-identical (oracle-verified at sf0.01/sf0.1).
    # Materialize the shingled table before anything explodes it: a
    # Generate whose generator inlines this nested interpreted
    # expression re-evaluates it pathologically (measured 18.6 s vs
    # 0.17 s for the same explode over materialized arrays at sf1.0) —
    # the winnow_copy_pairs localCheckpoint precedent.
    d = d.localCheckpoint()
    vocab = sorted(
        r["h"]
        for r in d.select(F.explode("s").alias("h")).distinct().limit(16384 + 1).collect()
    )
    if 0 < len(vocab) <= 16384:
        n_words = (len(vocab) + 63) // 64
        from .schema import SHINGLE_VOCAB, local_frame

        vdf = local_frame(spark, [(h, i) for i, h in enumerate(vocab)], SHINGLE_VOCAB)
        ex = d.select("doc_id", "source", "n", F.explode("s").alias("h"))
        bits = ex.join(F.broadcast(vdf), "h").select(
            "doc_id", "source", "n",
            (F.col("idx") / 64).cast("int").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(idx, 64) AS INT))").alias("bit"),
        )
        bm = bits.groupBy("doc_id", "source", "n").agg(
            *[
                F.bit_or(
                    F.when(F.col("word") == w, F.col("bit")).otherwise(F.lit(0).cast("long"))
                ).alias(f"m{w}")
                for w in range(n_words)
            ]
        )
        a = bm.select(
            F.col("doc_id").alias("doc_a"), "source", F.col("n").alias("na"),
            *[F.col(f"m{w}").alias(f"am{w}") for w in range(n_words)],
        )
        b = bm.select(
            F.col("doc_id").alias("doc_b"), "source", F.col("n").alias("nb"),
            *[F.col(f"m{w}").alias(f"bm{w}") for w in range(n_words)],
        )
        inter = F.bit_count(F.col("am0").bitwiseAND(F.col("bm0")))
        for w in range(1, n_words):
            inter = inter + F.bit_count(F.col(f"am{w}").bitwiseAND(F.col(f"bm{w}")))
        # r06 second pass: SORT-MERGE, not broadcast, for the block
        # self-join (guide §3.1 "pick the strategy deliberately").  The
        # block key has ~20 hot values with ~2.5k rows each, so a
        # broadcast hash join walks a 2.5k-entry hash-chain per probe —
        # 62M pointer-chasing lookups, measured 4.6-5.1 s for the pair
        # loop alone at sf1.0 — where SMJ streams each block's rows
        # from a contiguous cache-resident buffer: 0.85-1.2 s for the
        # IDENTICAL predicates (shuffled-hash measures the same; SMJ
        # additionally gets AQE skew-splitting and graceful spill on a
        # mega-block at scale).  This matters here and not in
        # dedup_embedding_cosine because THIS pair predicate is ~20
        # integer ops — iteration cost dominated — while the cosine's
        # 64-FMA dot dominates any join-iteration saving (measured:
        # its SMJ variant is 1.4x SLOWER; the BNLJ form stays).
        joined = a.hint("merge").join(b, "source")
    else:  # vocab-agnostic fallback: the pre-r06 array-intersect path
        a = d.select(
            F.col("doc_id").alias("doc_a"), "source",
            F.col("s").alias("sa"), F.col("n").alias("na"),
        )
        b = d.select(
            F.col("doc_id").alias("doc_b"), "source",
            F.col("s").alias("sb"), F.col("n").alias("nb"),
        )
        inter = F.size(F.array_intersect("sa", "sb"))
        joined = a.join(b, "source")
    # Catalyst's CollapseProject inlines a withColumn'd `inter` into
    # every reference — `i/(na+nb-i)` would evaluate the intersect
    # TWICE per pair.  The filter form 1.7·i ≥ 0.7·(na+nb) references i
    # once (algebraically identical for na+nb-i > 0); the exact jac is
    # then recomputed only for the handful of survivors.
    return (
        joined
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(
            (F.col("na") >= 0.7 * F.col("nb")) & (F.col("nb") >= 0.7 * F.col("na"))
        )
        .filter(inter * F.lit(1.7) >= F.lit(0.7) * (F.col("na") + F.col("nb")))
        .select(
            "doc_a", "doc_b",
            F.round(inter / (F.col("na") + F.col("nb") - inter), 6).alias("jac"),
        )
    )


@query(
    "dedup_jaccard_prefix",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(0, greatest(len(text)-2, 1)),
                                          i -> substr(text, i+1, 3))) AS s
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
          / len(list_distinct(list_concat(a.s, b.s))) >= 0.7
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard pairs via prefix filtering
    (operators/dedup.prefix_jaccard_pairs, PPJoin family) — the scale
    twin of dedup_ngram_jaccard that replaces the O(block²) self-join
    with a rarest-first prefix-token equi-join, provably complete (no
    recall threshold needed: the oracle IS the quadratic contract and
    the hashes must match row-for-row)."""
    from .operators.dedup import prefix_jaccard_pairs

    return prefix_jaccard_pairs(
        _spread(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", block_col="source", threshold=0.7,
    )


@query(
    "dedup_containment_pairs",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(0, greatest(len(text)-2, 1)),
                                          i -> substr(text, i+1, 3))) AS s
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / least(len(a.s), len(b.s)), 6) AS cont,
           round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.s, b.s))), 6) AS jac
    FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
    WHERE 10 * len(list_intersect(a.s, b.s)) >= 9 * least(len(a.s), len(b.s))
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT containment pairs, c = |A∩B|/min(|A|,|B|) ≥ 0.9
    (operators/dedup.prefix_containment_pairs, Broder 1997) — the
    asymmetric near-dup class Jaccard misses: a short doc embedded in
    a long one has J ≤ |A|/|B| no matter how perfect the inclusion.
    The oracle IS the quadratic blocked contract; the engine path is
    the probe-prefix/full-postings equi-join (provably complete, no
    recall threshold), with the 10·inter ≥ 9·min boundary kept as
    BIGINT arithmetic in both engines so threshold-exact pairs cannot
    flip on float noise."""
    from .operators.dedup import prefix_containment_pairs

    return prefix_containment_pairs(
        _spread(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", block_col="source",
        threshold_num=9, threshold_den=10,
    )


def _cosine(e_a, e_b):
    dot = F.aggregate(
        F.zip_with(e_a, e_b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    na = F.sqrt(F.aggregate(F.transform(e_a, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    nb = F.sqrt(F.aggregate(F.transform(e_b, lambda x: x * x), F.lit(0.0), lambda a, x: a + x))
    return dot / (na * nb)


@query(
    "dedup_embedding_cosine",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.e, b.e)
          / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
          >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rewritten for the O(n²) pair loop (guide §4.1; measured at sf1.0:
    # 52.0 s → 8.9 s, plans/r06/dedup_embedding_cosine_after.txt): each
    # vector is flattened to `dim` primitive DOUBLE columns (dim probed
    # once from one row, bounded head(1)), and the per-pair dot becomes
    # an unrolled chain of multiply-adds over flat column references.
    # The old zip_with/aggregate lambdas are CodegenFallback —
    # interpreted per element, re-materializing the array wrapper per
    # reference — where flat references are primitive getDouble reads
    # inside the compiled BroadcastNestedLoopJoin predicate, evaluated
    # BEFORE any joined row is copied (only the ~1e-5 surviving pairs
    # materialize).  The norm stays in the compact aggregate form: a
    # second unrolled chain measurably sends Catalyst's commutative-
    # expression canonicalization quadratic at planning time (driver
    # thread dump: orderCommutative), and it only runs once per row.
    #
    # Summation order is the identical left fold ((0.0+x₀·y₀)+x₁·y₁)+…
    # of the old aggregate and the data has no null elements, so every
    # pair's double sum is bit-for-bit the old value and the ≥ 0.45
    # threshold cannot flip (oracle-verified at sf0.01 and sf0.1).
    head = (
        _t(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("d"))
        .head()
    )
    dim = head["d"] if head else 0
    # r06 second pass: the flat path is SCALE-GATED.  Its fixed costs
    # (dim probe, 131-column plan, wide codegen) pay for themselves only
    # when the pair loop is large: at sf0.1 (2k vectors, 2M pairs) the
    # interpreted fold finishes in ~1.0 s while the flat plan's fixed
    # overhead alone costs ~3.0 s (measured, frozen bench both ways).
    # count() over parquet is answered from row-group metadata —
    # effectively free at any scale — and both paths produce the
    # bit-identical left-fold doubles, so the gate can never change a
    # row (oracle-green at sf0.01/sf0.1 on both sides of the cut).
    n_vecs = _n_rows(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("e"), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    v = (
        _spread(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .withColumn("nrm", norm)
    )
    if not 0 < dim <= 512 or n_vecs < 8192:
        # width-agnostic / small-corpus path: interpreted fold over the
        # arrays (identical values; cheaper than the flat plan's fixed
        # setup below ~8k vectors)
        a = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
        b = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
        dot = F.aggregate(
            F.zip_with("ea", "eb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    else:
        v = v.select("vec_id", "nrm", *[F.col("e")[i].alias(f"x{i}") for i in range(dim)])
        a = v.select(
            F.col("vec_id").alias("vec_a"), F.col("nrm").alias("na"),
            *[F.col(f"x{i}").alias(f"a{i}") for i in range(dim)],
        )
        b = v.select(
            F.col("vec_id").alias("vec_b"), F.col("nrm").alias("nb"),
            *[F.col(f"x{i}").alias(f"b{i}") for i in range(dim)],
        )
        dot = F.lit(0.0)
        for i in range(dim):
            dot = dot + F.col(f"a{i}") * F.col(f"b{i}")
    return (
        a.crossJoin(b)
        .filter(F.col("vec_a") < F.col("vec_b"))
        .filter(dot / (F.col("na") * F.col("nb")) >= 0.45)
        .select("vec_a", "vec_b")
    )


_SEMDEDUP_K = 8
_SEMDEDUP_TAU = 0.30


@query(
    "semdedup_cluster_prune",
    f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v ORDER BY vec_id LIMIT {_SEMDEDUP_K}),
    scored AS (
      SELECT v.vec_id, v.e, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
               ORDER BY list_dot_product(v.e, c.ce)
                          / sqrt(list_dot_product(c.ce, c.ce)) DESC,
                        c.cid) AS rn
      FROM v CROSS JOIN cent c),
    asg AS (SELECT vec_id, e, cid FROM scored WHERE rn = 1),
    keep AS (SELECT cid, min(vec_id) AS keeper FROM asg GROUP BY cid),
    ke AS (SELECT a.cid, a.e AS kemb, k.keeper
           FROM asg a JOIN keep k ON a.cid = k.cid AND a.vec_id = k.keeper)
    SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cluster_id,
           (a.vec_id = ke.keeper OR
            list_dot_product(a.e, ke.kemb)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(ke.kemb, ke.kemb))) < {_SEMDEDUP_TAU})
             AS is_kept
    FROM asg a JOIN ke ON a.cid = ke.cid
    """,
)
def semdedup_cluster_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (deterministic-centroid variant,
    operators/similarity.semdedup_prune): shuffle-free argmax-cosine
    cluster assignment against a k-row literal codebook, then each
    member compared against its cluster's single representative —
    linear at corpus scale where the pairwise yardstick
    (dedup_embedding_cosine) is quadratic.  ULP safety measured at
    sf0.01: min |cos − tau| = 1.2e-3, min top-2 sim gap = 4.1e-4 —
    both far above cross-engine float-summation noise."""
    from .operators.similarity import semdedup_prune

    return semdedup_prune(
        _t(spark, sf_dir, "embeddings"), k=_SEMDEDUP_K, tau=_SEMDEDUP_TAU
    )


# ===========================================================================
# Similarity search — brute-force cosine top-k (ANN baseline)
# ===========================================================================

@query(
    "ann_cosine_topk",
    """
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings)
    SELECT qid, cid, rank FROM (
      SELECT q.qid, c.cid,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               list_dot_product(q.e, c.e)
               / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
               DESC, c.cid) AS rank
      FROM q, c WHERE q.qid != c.cid)
    WHERE rank <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = v.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("qid"), F.col("e").alias("eq"))
    c = v.select(F.col("vec_id").alias("cid"), F.col("e").alias("ec"))
    sim = _cosine(F.col("eq"), F.col("ec"))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("cid"))
    return (
        q.crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("sim", sim)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("qid", "cid", "rank")
    )


@query(
    "embedding_int8_quant",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    ex AS (SELECT unnest(e) AS x, unnest(range(1, len(e)+1)) AS i FROM v),
    sc AS (SELECT i, greatest(max(abs(x)), 1e-12) AS s FROM ex GROUP BY i),
    sl AS (SELECT list(s ORDER BY i) AS sl FROM sc),
    q AS (SELECT vec_id,
            list_transform(range(1, len(e)+1),
              i -> least(greatest(floor(e[i] / sl[i] * 127 + 0.5),
                                  -127), 127)) AS qs,
            e
          FROM v CROSS JOIN sl),
    errs AS (SELECT vec_id, qs,
               list_transform(range(1, len(e)+1),
                 i -> (e[i] - qs[i] * sl[i] / 127)
                      * (e[i] - qs[i] * sl[i] / 127)) AS er
             FROM q CROSS JOIN sl)
    SELECT vec_id,
           CAST(list_reduce(qs, (a, b) -> a + b) AS BIGINT) AS sum_q,
           CAST(list_reduce(list_transform(qs, z -> z * z),
                            (a, b) -> a + b) AS BIGINT) AS sum_q2,
           round(list_reduce(er, (a, b) -> a + b) / len(er), 6) AS recon_mse
    FROM errs
    """,
)
def embedding_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-dimension int8 scalar quantization of the
    embedding column — the standard 4× index-compression step in
    front of an ANN store (FAISS SQ8): scale_d = max|x_d| over the
    corpus, code = clamp(round(x/s·127), ±127), dequant = code·s/127.
    Emits per-vector exact code sums (BIGINT, the downstream
    int8-dot-product building blocks) and the reconstruction MSE.

    Cross-engine exactness: the 64 scales are max-aggregates (no
    summation), collected once (bounded, the SemDeDup codebook
    pattern) and re-entered as a literal array; round-half-up is
    spelled floor(x+0.5) because both engines evaluate floor
    identically where banker's rounding would diverge; code sums are
    integer (order-free) and the MSE is a left-fold in BOTH engines
    (F.aggregate ≡ list_reduce), so every double is bit-identical
    before the 6-dp display rounding.

    Scale shape: one posexplode + 64-group max for the scales (map-
    side combined, constant state), then a single narrow map over the
    corpus — no joins, no window, nothing quadratic; at 100 TB the
    scale pass is a constant-size rollup and quantization pipelines
    with the scan."""
    v = _spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    sc_rows = (
        v.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(F.greatest(F.max(F.abs("x")), F.lit(1e-12)).alias("s"))
        .collect()
    )
    scales = F.array(
        *[F.lit(r["s"]) for r in sorted(sc_rows, key=lambda r: r["i"])]
    )
    def _code(x, i):
        s = F.element_at(scales, i + 1)
        return F.least(
            F.greatest(F.floor(x / s * 127 + 0.5).cast("double"), F.lit(-127.0)),
            F.lit(127.0),
        )
    qs = F.transform("e", _code)
    def _err(x, i):
        s = F.element_at(scales, i + 1)
        d = x - _code(x, i) * s / 127
        return d * d
    er = F.transform("e", _err)
    fold = lambda acc, z: acc + z
    return v.select(
        "vec_id",
        F.aggregate(qs, F.lit(0.0), fold).cast("long").alias("sum_q"),
        F.aggregate(
            F.transform(qs, lambda z: z * z), F.lit(0.0), fold
        ).cast("long").alias("sum_q2"),
        F.round(
            F.aggregate(er, F.lit(0.0), fold) / F.size(er), 6
        ).alias("recon_mse"),
    )


@query(
    "ann_int8_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    nrm AS (SELECT vec_id,
                   list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS e
            FROM v),
    truth AS (
      SELECT qid, cid FROM (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 round(list_dot_product(a.e, b.e), 6) DESC, b.vec_id) AS rn
        FROM nrm a JOIN nrm b ON a.vec_id < 50 AND a.vec_id <> b.vec_id)
      WHERE rn <= 10)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def ann_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8 candidate generation + float rescore vs
    exact cosine — the FAISS SQ8-with-refine access path, certifying
    the `embedding_int8_quant` codes are usable for retrieval, not
    just compact: vectors are L2-normalized FIRST (so integer dot ≈
    cosine), quantized per-dimension, the scan ranks candidates by
    the pure-BIGINT code dot (exactly reproducible — no float in the
    wide pass), the top-30 candidates per probe are rescored with the
    exact float dot, and the rescored top-10 is compared against the
    exact top-10 truth.  recall_ok = recall ≥ 0.97 — MEASURED 0.998
    at sf0.01; the int8-only top-10 (no rescore) measured 0.81 on
    this corpus because neighbor sims cluster within int8 resolution,
    which is exactly why the production shape always rescores.

    Scale shape: quantization is the narrow map pass of
    `embedding_int8_quant`; the wide scan moves 8-bit-code arrays
    (4× less shuffle payload than float64, SIMD-friendly integer
    dot), and the float rescore touches only 30 rows per probe."""
    v = _spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e0")
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform("e0", lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    nrm = v.select("vec_id", F.transform("e0", lambda x: x / norm).alias("e"))
    sc_rows = (
        nrm.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(F.greatest(F.max(F.abs("x")), F.lit(1e-12)).alias("s"))
        .collect()
    )
    scales = F.array(
        *[F.lit(r["s"]) for r in sorted(sc_rows, key=lambda r: r["i"])]
    )
    code = F.transform(
        "e",
        lambda x, i: F.least(
            F.greatest(
                F.floor(x / F.element_at(scales, i + 1) * 127 + 0.5),
                F.lit(-127),
            ),
            F.lit(127),
        ).cast("long"),
    )
    coded = nrm.select("vec_id", "e", code.alias("qs"))
    qp = coded.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("eq"),
        F.col("qs").alias("qq"),
    )
    cp = coded.select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ec"), F.col("qs").alias("qc")
    )
    idot = F.aggregate(
        F.zip_with("qq", "qc", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, z: acc + z,
    )
    fdot = F.round(
        F.aggregate(
            F.zip_with("eq", "ec", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, z: acc + z,
        ),
        6,
    )
    pairs = (
        F.broadcast(qp)
        .crossJoin(cp)
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", idot.alias("idot"), fdot.alias("fdot"))
    )
    wt = Window.partitionBy("qid").orderBy(F.desc("fdot"), "cid")
    wi = Window.partitionBy("qid").orderBy(F.desc("idot"), "cid")
    truth = (
        pairs.withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= 10)
        .select("qid", "cid")
    )
    cand = (
        pairs.withColumn("rn", F.row_number().over(wi))
        .filter(F.col("rn") <= 30)
        .withColumn("rr", F.row_number().over(wt))
        .filter(F.col("rr") <= 10)
        .select("qid", "cid")
    )
    hits = truth.join(cand, ["qid", "cid"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.97) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "knn_label_accuracy",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e, label
               FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS eq, label AS true_label
          FROM v WHERE vec_id < 50),
    scored AS (
      SELECT q.qid, q.true_label, c.label,
             row_number() OVER (PARTITION BY q.qid ORDER BY
               round(list_dot_product(q.eq, c.e)
                     / (sqrt(list_dot_product(q.eq, q.eq))
                        * sqrt(list_dot_product(c.e, c.e))), 6) DESC,
               c.vec_id) AS rank
      FROM q JOIN v c ON q.qid <> c.vec_id),
    votes AS (
      SELECT qid, true_label, label, count(*) AS n
      FROM scored WHERE rank <= 10 GROUP BY qid, true_label, label),
    pred AS (
      SELECT qid, true_label, label AS pred_label,
             row_number() OVER (PARTITION BY qid
                                ORDER BY n DESC, label) AS rn
      FROM votes)
    SELECT qid AS vec_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           pred_label = true_label AS correct
    FROM pred WHERE rn = 1
    """,
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN classification sanity gate over the labeled embedding
    table: for 50 deterministic probes, predict the label by majority
    vote of the 10 nearest neighbors (cosine) and report per-probe
    correctness — the standard embedding-quality probe a training
    pipeline runs after ingesting a labeled corpus.

    Determinism: neighbors rank on the 6-dp-ROUNDED cosine with
    vec_id as tie-break; the vote ranks on (count DESC, label ASC),
    so ties resolve to the smaller label in both engines.  Scale
    shape: probe set is fixed-size (broadcast side of the scoring
    join), one corpus scan, per-probe top-k window, and a 10-row-
    per-probe vote rollup — at 100 TB this is the same access path
    as ann_cosine_topk (or its IVF/LSH scale variants drop in)."""
    v = _spread(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e"), "label"
    )
    q = v.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("qid"),
        F.col("e").alias("eq"),
        F.col("label").alias("true_label"),
    )
    c = v.select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ec"),
        F.col("label").alias("clabel"),
    )
    wr = Window.partitionBy("qid").orderBy(
        F.desc("cos"), "cid"
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("qid") != F.col("cid"))
        .withColumn("cos", F.round(_cosine(F.col("eq"), F.col("ec")), 6))
        .withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= 10)
    )
    votes = scored.groupBy("qid", "true_label", "clabel").agg(
        F.count(F.lit(1)).alias("n")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("n"), "clabel")
    return (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("vec_id"),
            F.col("true_label").cast("long").alias("true_label"),
            F.col("clabel").cast("long").alias("pred_label"),
            (F.col("clabel") == F.col("true_label")).alias("correct"),
        )
    )


# ===========================================================================
# Text analysis: language-ID heuristic, quality score, token counts
# ===========================================================================

_EN = ["the", "and", "of", "to", "in", "is", "that", "it"]
_ES = ["el", "la", "de", "que", "y", "en", "un", "los"]
_FR = ["le", "la", "de", "et", "les", "des", "un", "une"]


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@query(
    "lang_id_heuristic",
    f"""
    WITH tok AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS ts FROM documents)
    SELECT doc_id,
           CASE WHEN len(ts) = 0 THEN 'unknown'
                WHEN len(list_filter(ts, x -> x IN ({_sql_list(_EN)}))) >=
                     len(list_filter(ts, x -> x IN ({_sql_list(_ES)})))
                 AND len(list_filter(ts, x -> x IN ({_sql_list(_EN)}))) >=
                     len(list_filter(ts, x -> x IN ({_sql_list(_FR)})))
                THEN 'en'
                WHEN len(list_filter(ts, x -> x IN ({_sql_list(_ES)}))) >=
                     len(list_filter(ts, x -> x IN ({_sql_list(_FR)})))
                THEN 'es'
                ELSE 'fr' END AS pred_lang
    FROM tok
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ts = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)

    def hits(words):
        return F.size(F.filter(ts, lambda x: x.isin(words)))

    en, es, fr = hits(_EN), hits(_ES), hits(_FR)
    return d.select(
        "doc_id",
        F.when(F.size(ts) == 0, "unknown")
        .when((en >= es) & (en >= fr), "en")
        .when(es >= fr, "es")
        .otherwise("fr")
        .alias("pred_lang"),
    )


@query(
    "doc_quality_score",
    f"""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_m,
           CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_words,
           round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z]+'),
                                      x -> x IN ({_sql_list(_EN)}))) AS DOUBLE)
                 / greatest(len(regexp_extract_all(text, '[a-z]+')), 1), 6)
                 AS stopword_ratio
    FROM documents
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+"), 0)
    lwords = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    punct = F.regexp_extract_all(F.col("text"), F.lit("[.,;:!?]"), 0)
    stop = F.filter(lwords, lambda x: x.isin(_EN))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_m"),
        F.size(words).cast("long").alias("n_words"),
        F.round(F.size(punct) / F.greatest(F.length("text"), F.lit(1)), 6).alias("punct_ratio"),
        F.round(F.size(stop) / F.greatest(F.size(words), F.lit(1)), 6).alias("stopword_ratio"),
    )


@query(
    "token_counts",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0)).cast("long").alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
        ).cast("long").alias("n_bpe_tokens"),
    )


# ===========================================================================
# URL canonicalization + domain blocklist (web-corpus identity: the
# same page under tracking params / www / default ports / fragments
# must key dedup and per-site policy identically; functions/url.py)
# ===========================================================================

_MESSY_URL_SQL = """
    concat('HTTPS://WWW.',
           CASE WHEN doc_id % 5 = 0 THEN 'cdn.' ELSE '' END,
           source, '.ORG',
           CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END,
           '/Docs/', CAST(doc_id AS VARCHAR),
           CASE WHEN doc_id % 3 = 0 THEN '/?utm_source=feed&b=2&a=1'
                WHEN doc_id % 3 = 1 THEN '?a=1&utm_campaign=x#frag'
                ELSE '/' END)
"""


def _messy_url_col():
    """Spark twin of _MESSY_URL_SQL — deterministic messy URLs carved
    from the documents table (testdata has no URL column): per-source
    registrable domains (srcN.org), an extra subdomain every 5th doc
    (exercises last-two-label extraction), default ports, tracking
    params, unsorted params, fragments, trailing slashes."""
    return F.concat(
        F.lit("HTTPS://WWW."),
        F.when(F.col("doc_id") % 5 == 0, F.lit("cdn.")).otherwise(F.lit("")),
        F.col("source"), F.lit(".ORG"),
        F.when(F.col("doc_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Docs/"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/?utm_source=feed&b=2&a=1"))
        .when(F.col("doc_id") % 3 == 1, F.lit("?a=1&utm_campaign=x#frag"))
        .otherwise(F.lit("/")),
    )


@query(
    "url_normalize_canonical",
    f"""
    WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    parts AS (
      SELECT doc_id,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        regexp_replace(regexp_replace(
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
          ':(80|443)$', ''), '^www\\.', '') AS host,
        regexp_replace(
          regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1),
          '/+$', '') AS rawpath,
        coalesce(array_to_string(list_sort(list_filter(
          string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'),
          x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)=')
        )), '&'), '') AS q
      FROM u)
    SELECT doc_id,
           concat(scheme, '://', host,
                  CASE WHEN rawpath = '' THEN '/' ELSE rawpath END,
                  CASE WHEN q = '' THEN '' ELSE concat('?', q) END) AS url_norm,
           CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = ''
                THEN host
                ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS domain
    FROM parts
    """,
)
def url_normalize_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical URL per document — every rule (fragment, case, www,
    default port, trailing slash, tracking params, param sort) is
    hash-compared against the SQL mirror, string-for-string."""
    from .functions.url import normalize_url, registered_domain, url_host

    d = _t(spark, sf_dir, "documents").withColumn("url", _messy_url_col())
    return d.select(
        "doc_id",
        normalize_url(F.col("url")).alias("url_norm"),
        registered_domain(url_host(F.col("url"))).alias("domain"),
    )


@query(
    "domain_blocklist_filter",
    f"""
    WITH u AS (SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents),
    h AS (
      SELECT doc_id,
        regexp_replace(regexp_replace(
          lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)),
          ':(80|443)$', ''), '^www\\.', '') AS host
      FROM u),
    d AS (
      SELECT doc_id,
        CASE WHEN regexp_extract(host, '([^.]+\\.[^.]+)$', 1) = ''
             THEN host ELSE regexp_extract(host, '([^.]+\\.[^.]+)$', 1) END AS domain
      FROM h)
    SELECT domain, CAST(count(*) AS BIGINT) AS n_docs
    FROM d
    WHERE domain NOT IN ('src3.org', 'src7.org')
    GROUP BY domain
    """,
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered-domain blocklist as a BROADCAST anti-join (the
    blocklist is always driver-small — thousands of rows at worst —
    while the doc side is the 100 TB side), then per-domain rollup of
    what survived."""
    from .functions.url import registered_domain, url_host

    d = _t(spark, sf_dir, "documents").withColumn("url", _messy_url_col())
    docs = d.select(
        "doc_id", registered_domain(url_host(F.col("url"))).alias("domain")
    )
    block = F.broadcast(
        d.sparkSession.createDataFrame(
            [("src3.org",), ("src7.org",)], "domain string"
        )
    )
    return (
        docs.join(block, "domain", "left_anti")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ===========================================================================
# Training-corpus source mixing — weighted repetition/subsampling per
# source (the "2 epochs of wiki, 0.25 of crawl" knob every LM data
# recipe has).  Deterministic: the fractional part of the weight is
# resolved per-doc by an arithmetic hash both engines can compute, so
# the mixed corpus is a pure function of (table, weights) — rerunnable
# and resumable with no RNG state.
# ===========================================================================

_MIX_WEIGHT_SQL = """
    CASE WHEN source IN ('src0', 'src1') THEN 2.5
         WHEN source IN ('src2', 'src3') THEN 0.25
         ELSE 1.0 END
"""


@query(
    "corpus_mix_weights",
    f"""
    WITH w AS (
      SELECT doc_id, source,
             CAST(floor({_MIX_WEIGHT_SQL}) AS BIGINT)
             + CASE WHEN ((doc_id % 9999991) * 2654435761) % 1000
                         < CAST(round(({_MIX_WEIGHT_SQL} - floor({_MIX_WEIGHT_SQL})) * 1000)
                                AS BIGINT)
                    THEN 1 ELSE 0 END AS n_copies
      FROM documents)
    SELECT doc_id, source, CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_id
    FROM w WHERE n_copies >= 1
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: floor(w) guaranteed copies per doc plus
    one more for the hash-selected fraction; explode to one row per
    copy.  Shuffle-free (explode rides the scan); at 100 TB the
    repetition factor multiplies bytes downstream, never the shuffle
    key space."""
    d = _t(spark, sf_dir, "documents")
    w = (
        F.when(F.col("source").isin("src0", "src1"), F.lit(2.5))
        .when(F.col("source").isin("src2", "src3"), F.lit(0.25))
        .otherwise(F.lit(1.0))
    )
    # pre-mod before the Knuth multiplier: overflow-safe for any BIGINT
    # doc_id (the bare product wraps past doc_id ≈ 3.5e9), identical
    # values below the modulus so the carve is unchanged at test scale
    frac_kept = (F.pmod("doc_id", F.lit(9999991)) * F.lit(2654435761)) % 1000 < F.round(
        (w - F.floor(w)) * 1000
    ).cast("long")
    n_copies = (
        F.floor(w).cast("long") + F.when(frac_kept, F.lit(1)).otherwise(F.lit(0))
    ).alias("n_copies")
    return (
        d.select("doc_id", "source", n_copies)
        .filter(F.col("n_copies") >= 1)
        # Spark's sequence(1, 0) would count DOWN ([1, 0]); the filter
        # above guarantees n_copies >= 1 so the ascending form is safe
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1).cast("long"), F.col("n_copies"))).alias(
                "copy_id"
            ),
        )
    )


@query(
    "doc_fingerprint",
    """
    SELECT doc_id,
           sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.sha2(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")), 256).alias("fingerprint"),
    )


# ===========================================================================
# §2.2 suffix include/exclude filters (release-artifact selection,
# /root/reference/userCode/lib/classes.py:312-323, export.py:478-487:
# include *.nq + *.nq.gz, exclude *.bytesum)
# ===========================================================================

_ARTIFACT_EXT_SQL = """
    CASE WHEN doc_id % 4 = 0 THEN '.nq'
         WHEN doc_id % 4 = 1 THEN '.nq.gz'
         WHEN doc_id % 4 = 2 THEN '.nq.gz.bytesum'
         ELSE '.txt' END
"""


@query(
    "suffix_artifact_filter",
    f"""
    WITH art AS (
      SELECT doc_id,
             concat(source, '/release_', CAST(doc_id AS VARCHAR),
                    {_ARTIFACT_EXT_SQL}) AS artifact
      FROM documents)
    SELECT doc_id, artifact FROM art
    WHERE (artifact LIKE '%.nq' OR artifact LIKE '%.nq.gz')
      AND artifact NOT LIKE '%.bytesum'
    """,
)
def suffix_artifact_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ext = (
        F.when(F.pmod("doc_id", F.lit(4)) == 0, ".nq")
        .when(F.pmod("doc_id", F.lit(4)) == 1, ".nq.gz")
        .when(F.pmod("doc_id", F.lit(4)) == 2, ".nq.gz.bytesum")
        .otherwise(".txt")
    )
    art = F.concat(F.col("source"), F.lit("/release_"), F.col("doc_id").cast("string"), ext)
    return (
        d.select("doc_id", art.alias("artifact"))
        .filter(
            (F.col("artifact").endswith(".nq") | F.col("artifact").endswith(".nq.gz"))
            & ~F.col("artifact").endswith(".bytesum")
        )
    )


# ===========================================================================
# §2.7 structured log-level accounting (the reference's log-line parser
# + level match, /root/reference/userCode/lib/dagster.py:33-59)
# ===========================================================================

_LOG_LEVEL_SQL = """
    CASE WHEN event_id % 7 = 0 THEN 'error'
         WHEN event_id % 7 = 1 THEN 'warn'
         WHEN event_id % 7 = 2 THEN 'warning'
         WHEN event_id % 7 = 3 THEN 'debug'
         WHEN event_id % 7 = 4 THEN 'trace'
         WHEN event_id % 7 = 5 THEN 'fatal'
         ELSE 'info' END
"""


@query(
    "log_severity_rollup",
    f"""
    WITH lines AS (
      SELECT concat('{{"level":"', {_LOG_LEVEL_SQL},
                    '","msg":"evt-', CAST(event_id AS VARCHAR), '"}}') AS line
      FROM events),
    parsed AS (
      SELECT json_extract_string(line, '$.level') AS level,
             json_extract_string(line, '$.msg') AS msg
      FROM lines)
    SELECT CASE WHEN level IN ('warning', 'warn') THEN 'WARNING'
                WHEN level IN ('error', 'fatal') THEN 'ERROR'
                WHEN level IN ('debug', 'trace') THEN 'DEBUG'
                ELSE 'INFO' END AS severity,
           count(*) AS n,
           count(DISTINCT msg) AS n_msgs
    FROM parsed GROUP BY 1
    """,
)
def log_severity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    lvl_mod = F.pmod("event_id", F.lit(7))
    level = (
        F.when(lvl_mod == 0, "error").when(lvl_mod == 1, "warn")
        .when(lvl_mod == 2, "warning").when(lvl_mod == 3, "debug")
        .when(lvl_mod == 4, "trace").when(lvl_mod == 5, "fatal")
        .otherwise("info")
    )
    line = F.concat(
        F.lit('{"level":"'), level, F.lit('","msg":"evt-'),
        F.col("event_id").cast("string"), F.lit('"}'),
    )
    parsed = e.select(F.from_json(line, "level string, msg string").alias("j")).select(
        F.col("j.level").alias("level"), F.col("j.msg").alias("msg")
    )
    severity = (
        F.when(F.col("level").isin("warning", "warn"), "WARNING")
        .when(F.col("level").isin("error", "fatal"), "ERROR")
        .when(F.col("level").isin("debug", "trace"), "DEBUG")
        .otherwise("INFO")
    )
    return parsed.groupBy(severity.alias("severity")).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("msg").alias("n_msgs"),
    )


# ===========================================================================
# Recall gates: the approximate scale paths measured against their
# exact oracle twins, IN the oracle gate.  The DuckDB side recomputes
# the exact truth set (n_true) and asserts TRUE for recall_ok; the
# Spark side computes actual recall of the approximate path and emits
# recall >= threshold — the hashes match iff the measured recall really
# clears the bar AND the truth sets agree.
# ===========================================================================

@query(
    "dedup_minhash_lsh_recall",
    """
    WITH sh AS (
      SELECT doc_id, source,
             list_distinct(list_transform(range(0, greatest(len(text)-2, 1)),
                                          i -> substr(text, i+1, 3))) AS s
      FROM documents),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.7)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def dedup_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of MinHash-LSH near-dup candidates vs the exact n-gram
    Jaccard twin (same shingles, same threshold, same source blocking).
    recall_ok = recall ≥ 0.99 — measured, not formula-trusted."""
    from .operators.dedup import minhash_lsh_pairs

    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    cand = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"),
        id_col="doc_id", text_col="text", block_col="source", threshold=0.7,
    ).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.99) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "ann_ivf_recall",
    """
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         truth AS (
           SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      list_dot_product(q.e, c.e)
                      / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
                      DESC, c.cid) AS rank
             FROM q, c WHERE q.qid != c.cid)
           WHERE rank <= 10)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF scale path vs the exact brute-force top-k.
    recall_ok = recall ≥ 0.9 at the gate's probe budget.

    The synthetic embeddings are near-isotropic, so top-10 neighbors
    sit at cos ≈ 0.3 and spread across cells — recall@k on such data
    needs a generous probe budget (6/8 cells ⇒ 0.94 measured at
    sf0.01).  Genuinely-near pairs are the cheap case; that contract
    is gated separately by ann_embedding_lsh_recall."""
    from .operators.similarity import ivf_ann_topk

    truth = ann_cosine_topk(spark, sf_dir).select("qid", "cid")
    v = _spread(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 5)
    approx = ivf_ann_topk(q, v, k=10, n_lists=8, n_probes=6).select("qid", "cid")
    hits = truth.join(approx, ["qid", "cid"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.9) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "knn_graph_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    truth AS (
      SELECT qid, cid FROM (
        SELECT a.vec_id AS qid, b.vec_id AS cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                 DESC, b.vec_id) AS rank
        FROM v a, v b WHERE a.vec_id != b.vec_id)
      WHERE rank <= 5)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def knn_graph_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge recall of the IVF-blocked kNN GRAPH (every node's
    top-5, operators/similarity.knn_graph) vs the exact brute-force
    graph — the corpus-wide self-join case, strictly harder than the
    bounded-query ann_ivf_recall gate because every boundary vector is
    a query.  recall_ok = recall ≥ 0.9 (0.92 measured at sf0.01 with
    6/8 cells probed); truth is recomputed exactly at gate scale, not
    trusted."""
    from .operators.similarity import brute_force_topk, knn_graph

    v = _t(spark, sf_dir, "embeddings")
    truth = brute_force_topk(v, v, k=5).select("qid", "cid")
    approx = knn_graph(v, k=5, n_lists=8, n_probes=6).select(
        F.col("src").alias("qid"), F.col("dst").alias("cid")
    )
    hits = truth.join(approx, ["qid", "cid"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.9) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "ann_ivfpq_recall",
    """
    WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 5),
         c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings),
         truth AS (
           SELECT qid, cid FROM (
             SELECT q.qid, c.cid,
                    row_number() OVER (PARTITION BY q.qid ORDER BY
                      list_dot_product(q.e, c.e)
                      / (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
                      DESC, c.cid) AS rank
             FROM q, c WHERE q.qid != c.cid)
           WHERE rank <= 10)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-PQ path (coarse cells → 8×16 product codes
    → ADC shortlist → exact re-rank) vs the brute-force top-k.
    recall_ok = recall ≥ 0.9 at the same 6/8 probe budget the plain-IVF
    gate uses.

    Near-isotropic vectors are PQ's adversarial case (quantization
    noise ≈ the gap between cos 0.3 neighbors), so the shortlist must
    be generous: measured at sf0.01, shortlist 50 → 0.66, 100 → 0.82,
    150 → 0.92 against the plain-IVF ceiling of 0.94 at these probes —
    i.e. a 15×k shortlist prices the ADC approximation at 0.02 recall.
    This gate MEASURES that claim instead of trusting it."""
    from .operators.similarity import ivfpq_ann_topk

    truth = ann_cosine_topk(spark, sf_dir).select("qid", "cid")
    v = _spread(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 5)
    approx = ivfpq_ann_topk(
        q, v, k=10, n_lists=8, n_probes=6, shortlist=150
    ).select("qid", "cid")
    hits = truth.join(approx, ["qid", "cid"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.9) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "ann_embedding_lsh_recall",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    truth AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id
      WHERE list_dot_product(a.e, b.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
            >= 0.45)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def ann_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of banded-hyperplane-LSH near-dup blocking vs the exact
    crossJoin cosine twin (cos ≥ 0.45).  recall_ok = recall ≥ 0.99 —
    this is the scale path that replaces the all-pairs product for
    embedding dedup, measured against the truth set it must cover."""
    from .operators.similarity import embedding_lsh_pairs

    truth = dedup_embedding_cosine(spark, sf_dir).select("vec_a", "vec_b")
    cand = embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), dim=64, bands=16, planes_per_band=2,
        threshold=0.45,
    ).select("vec_a", "vec_b")
    hits = truth.join(cand, ["vec_a", "vec_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.99) * F.col("n_true")).alias("recall_ok"),
        )
    )


@query(
    "vocab_doc_frequency",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS token
      FROM documents)
    SELECT token, CAST(count(*) AS BIGINT) AS doc_freq
    FROM toks GROUP BY token ORDER BY doc_freq DESC, token LIMIT 50
    """,
)
def vocab_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building — top-k tokens by document frequency, the
    first pass of any tokenizer/stopword/IDF pipeline over a corpus.
    Distinct-per-doc before the explode so df counts documents, not
    occurrences; map-side partial aggregation shrinks the token
    shuffle to one row per (token x partition)."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            )
        ).alias("token"),
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "token")
        .limit(50)
    )


_POSTING_CAP = 16


@query(
    "inverted_index_postings",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS token
      FROM documents),
    ranked AS (
      SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
             count(*) OVER (PARTITION BY token) AS df
      FROM toks)
    SELECT token, CAST(max(df) AS BIGINT) AS doc_freq,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM ranked WHERE rn <= {_POSTING_CAP} GROUP BY token
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — per-term document-frequency plus a CAPPED
    posting list (the 16 lowest doc_ids), the retrieval-side artifact a
    corpus search/dedup service materializes.

    Scale shape: ONE shuffle on the term (both window functions share
    the partition key, so Catalyst plans a single exchange), df counted
    over the FULL posting before the deterministic cap truncates it —
    the winnow_copy_pairs posting-cap discipline (operators/dedup.py),
    so a stopword's billion-document posting never reaches collect_list;
    per-group state is bounded at the cap.  Postings serialize as a
    comma-joined string so the cross-engine hash compares exact content,
    not container formatting."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            )
        ).alias("token"),
    )
    w = Window.partitionBy("token")
    ranked = toks.select(
        "token",
        "doc_id",
        F.row_number().over(w.orderBy("doc_id")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("df"),
    )
    return (
        ranked.filter(F.col("rn") <= _POSTING_CAP)
        .groupBy("token")
        .agg(
            F.max("df").cast("long").alias("doc_freq"),
            F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias(
                "postings"
            ),
        )
    )


@query(
    "tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
      FROM tf JOIN dfreq USING (token) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, token, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS rn
      FROM scored)
    SELECT doc_id, token, tfidf FROM ranked WHERE rn <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf-idf — the relevance/keyword
    scoring pass over a corpus (idf smoothed as ln((N+1)/(df+1))).
    Ranking happens on the ROUNDED score in both engines so a last-ulp
    ln() difference can't reorder near-ties; token breaks exact ties.
    Two aggregations (tf, then df over tf) + a broadcast-size dim join
    back — df and N are vocabulary-sized, so at 100 TB the only
    corpus-scale shuffle is the (doc, token) tf rollup, which
    map-side-combines."""
    # r06: scan spread to all cores — the single-file documents table
    # otherwise tokenizes in ONE task per consuming branch (guide §6)
    d = _spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")).localCheckpoint()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    # dfreq is vocabulary-sized, which is UNBOUNDED on a code corpus
    # (identifiers/hashes) — no broadcast hint; AQE picks broadcast by
    # the actual runtime size, and falls back to shuffle when the vocab
    # outgrows the driver.  Only the scalar n stays pinned.
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "token", "tfidf")
    )


@query(
    "bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
      FROM documents),
    tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
           FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY token),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 (SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS sumdl
          FROM documents),
    top24 AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 24),
    qterms AS (SELECT token, df FROM (
                 SELECT token, df,
                        row_number() OVER (ORDER BY df DESC, token) AS rn
                 FROM top24) WHERE rn BETWEEN 20 AND 24),
    scored AS (
      SELECT q.token, tf.doc_id,
             round(ln(1 + (n.n - q.df + 0.5) / (q.df + 0.5))
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl
                                     / (CAST(n.sumdl AS DOUBLE) / n.n))), 6)
               AS bm25
      FROM tf JOIN qterms q USING (token)
      JOIN dl USING (doc_id) CROSS JOIN n),
    ranked AS (
      SELECT token, doc_id, bm25,
             row_number() OVER (PARTITION BY token
                                ORDER BY bm25 DESC, doc_id) AS rn
      FROM scored)
    SELECT token, doc_id, CAST(rn AS BIGINT) AS rank, bm25
    FROM ranked WHERE rn <= 10
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval (Robertson & Zaragoza 2009, k1=1.2,
    b=0.75) for a deterministic 5-term query set — the mid-frequency
    tokens ranked 20–24 by document frequency (past the stopword head,
    still selective).  score = idf · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    with the Lucene idf ln(1 + (N−df+0.5)/(df+0.5)); ranking is on the
    6-dp-ROUNDED score with doc_id as the total-order tie-break, the
    tfidf_top_terms cross-engine discipline.

    Scale shape: the (doc, token) tf rollup is the only corpus-scale
    shuffle (map-side combined); df/dl derive from it; the query set is
    a 24-row TakeOrdered, and the scoring join is tf ⨝ broadcast
    (5-row qterms) — a semi-join-sized posting fetch, exactly the
    inverted-index retrieval access path — followed by a dim join on
    dl and a per-term top-10 window over postings-sized rows.  avgdl =
    exact BIGINT sumdl / N, so every score input is
    order-independent."""
    # r06: scan spread + the tf table materialized once — it feeds
    # dfreq, dl, the corpus sumdl scalar AND the scoring join
    d = _spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    ).localCheckpoint()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    n = (
        d.agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(tf.agg(F.sum("tf").cast("long").alias("sumdl")))
    )
    top24 = dfreq.orderBy(F.desc("df"), "token").limit(24)
    rn24 = F.row_number().over(Window.orderBy(F.desc("df"), "token"))
    qterms = (
        top24.withColumn("rn", rn24)
        .filter((F.col("rn") >= 20) & (F.col("rn") <= 24))
        .select("token", F.col("df").alias("qdf"))
    )
    avgdl = F.col("sumdl").cast("double") / F.col("n")
    idf = F.log(1 + (F.col("n") - F.col("qdf") + 0.5) / (F.col("qdf") + 0.5))
    score = idf * F.col("tf") * 2.2 / (
        F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / avgdl)
    )
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n))
        .select("token", "doc_id", F.round(score, 6).alias("bm25"))
    )
    w = Window.partitionBy("token").orderBy(F.desc("bm25"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("token", "doc_id", "rank", "bm25")
    )


# ===========================================================================
# Corpus-trained bigram LM scoring — the perplexity-style quality
# filter (CCNet, Wenzek et al. 2020 trains a LM on trusted text and
# drops high-perplexity docs; here the corpus is its own model, which
# is the self-consistency variant used for outlier pruning)
# ===========================================================================

@query(
    "bigram_logprob_score",
    """
    WITH t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2),
    cb AS (SELECT gram, count(*) AS c_bi FROM bi GROUP BY gram),
    cl AS (SELECT split_part(gram, ' ', 1) AS w1, count(*) AS c_left
           FROM bi GROUP BY w1),
    v AS (SELECT count(DISTINCT tok) AS vocab
          FROM (SELECT unnest(toks) AS tok FROM t)),
    scored AS (
      SELECT bi.doc_id,
             ln((cb.c_bi + 0.5) / (cl.c_left + 0.5 * v.vocab)) AS lp
      FROM bi
      JOIN cb USING (gram)
      JOIN cl ON cl.w1 = split_part(bi.gram, ' ', 1)
      CROSS JOIN v)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(lp), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under an add-k-smoothed
    model counted from the corpus itself (k=0.5, denominator = left-
    token bigram count + k·|V|).  Docs with <2 tokens have no bigrams
    and drop out (inner-join semantics, both engines).

    Scale shape: the bigram/left-count tables are vocabulary²-bounded,
    not corpus-bounded, so the joins back are dim joins; the only
    corpus-scale shuffle is the (gram) rollup, which map-side combines.
    """
    # r06: scan spread to all cores (the single-file documents table
    # scans as ONE task) and the bigram rows MATERIALIZED once — bi
    # feeds three aggregation branches plus the scoring join, and each
    # re-derivation repaid the tokenize+explode (guide §1.2, §2.4).
    d = _spread(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("toks"),
    )
    # the <2-token guard is a when/otherwise INSIDE the generator, not a
    # filter: a pushable size-filter re-evaluates the tokenizer on the
    # single pre-exchange scan task (the _minhash_base pushdown trap)
    bi = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.expr("CAST(array() AS array<string>)"))
        ).alias("gram"),
    )
    # r06: EVERY count table derives from the distinct-gram count table
    # cb — c_left(w1) is just Σ c_bi over cb rows with that w1 — so the
    # model is scored once per DISTINCT gram (vocab²-bounded) and the
    # corpus attaches the finished lp with ONE gram join (AQE
    # broadcasts it when the gram table is small).  The old plan
    # checkpointed the bigram stream and shuffled it corpus-scale
    # twice more (by gram, then by w1); per-occurrence lp values are
    # identical doubles (same deterministic function of the gram), so
    # each doc averages the same multiset.  cb/cl stay un-hinted:
    # web-scale vocabularies are a driver-OOM hazard to pin.
    cb = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c_bi"))
    cl = (
        cb.groupBy(F.substring_index("gram", " ", 1).alias("w1"))
        .agg(F.sum("c_bi").alias("c_left"))
    )
    v = t.select(F.explode("toks").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    lp = F.log((F.col("c_bi") + 0.5) / (F.col("c_left") + 0.5 * F.col("vocab")))
    # the attach join keys on the gram's xxhash64 (8-byte radix-
    # sortable key instead of the string — the corpus-wide injective-
    # hash contract of the dup-gram gates), and stays un-hinted: AQE
    # broadcasts the scored gram table when its true size allows, and
    # web-scale vocabularies are a driver-OOM hazard to pin.
    scored_gram = (
        cb.join(cl, F.substring_index(F.col("gram"), " ", 1) == F.col("w1"))
        .crossJoin(F.broadcast(v))
        .select(F.xxhash64("gram").alias("gh"), lp.alias("lp"))
    )
    return (
        bi.select("doc_id", F.xxhash64("gram").alias("gh"))
        .join(scored_gram, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


# The Kneser-Ney per-doc scoring CTE chain, shared verbatim by the
# kneser_ney_logprob gate and the CCNet bucket gate built on top of it.
_KN_DOC_SCORE_CTES = """t AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents),
    bi AS (
      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i+1])) AS gram
      FROM t WHERE len(toks) >= 2),
    cb AS (SELECT gram, count(*) AS c_bi FROM bi GROUP BY gram),
    cl AS (SELECT split_part(gram, ' ', 1) AS w1, count(*) AS c_left,
                  count(DISTINCT split_part(gram, ' ', 2)) AS n_right
           FROM bi GROUP BY 1),
    cr AS (SELECT split_part(gram, ' ', 2) AS w2,
                  count(DISTINCT split_part(gram, ' ', 1)) AS n_left
           FROM bi GROUP BY 1),
    nt AS (SELECT CAST(count(*) AS DOUBLE) AS n_types FROM cb),
    scored AS (
      SELECT bi.doc_id,
             ln( (cb.c_bi - 0.75) / cl.c_left
                 + (0.75 * cl.n_right / cl.c_left)
                   * (cr.n_left / nt.n_types) ) AS lp
      FROM bi
      JOIN cb USING (gram)
      JOIN cl ON cl.w1 = split_part(bi.gram, ' ', 1)
      JOIN cr ON cr.w2 = split_part(bi.gram, ' ', 2)
      CROSS JOIN nt),
    kn AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             round(avg(lp), 6) AS avg_logprob
      FROM scored GROUP BY doc_id)"""


@query(
    "kneser_ney_logprob",
    f"""
    WITH {_KN_DOC_SCORE_CTES}
    SELECT doc_id, n_bigrams, avg_logprob FROM kn
    """,
)
def kneser_ney_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under interpolated
    Kneser-Ney (Kneser & Ney 1995; Chen & Goodman 1999 eq. 4.2, D=0.75)
    — the standard n-gram LM for corpus quality scoring, one rung above
    the add-k twin (`bigram_logprob_score`):

        P(w2|w1) = max(c(w1w2)−D, 0)/c(w1·)
                   + D·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)

    Every scored bigram is drawn from the counting corpus itself, so
    c(w1w2) ≥ 1 and the max() never binds (D < 1).  Scale shape
    matches the add-k gate: three vocabulary-bounded count tables
    (bigram, left-context with right-type counts, right-continuation
    type counts) joined back to the corpus bigrams, one scalar type
    total pinned broadcast — the count tables are left to AQE, never
    hint-broadcast (unbounded web vocabularies are a driver-OOM
    hazard)."""
    # r06: every KN count table derives from the distinct-gram count
    # table cb — c_left(w1) = Σ c_bi over cb rows with that w1,
    # n_right(w1) = how many cb rows have that w1, n_left(w2) = how
    # many cb rows have that w2 — so the model is scored once per
    # DISTINCT gram (vocab²-bounded) and the corpus attaches the
    # finished lp with ONE gram join (AQE broadcasts it when small).
    # The old plan checkpointed the bigram stream and shuffled it
    # corpus-scale three more times (by gram, w1, then w2);
    # per-occurrence lp values are identical doubles (deterministic
    # function of the gram), so each doc averages the same multiset.
    d = _spread(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("toks"),
    )
    # <2-token guard inside the generator (see bigram_logprob_score)
    bi = t.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.expr("CAST(array() AS array<string>)"))
        ).alias("gram"),
    )
    w1 = F.substring_index("gram", " ", 1)
    w2 = F.substring_index("gram", " ", -1)
    cb = bi.groupBy("gram").agg(F.count(F.lit(1)).alias("c_bi"))
    cl = cb.groupBy(w1.alias("w1")).agg(
        F.sum("c_bi").alias("c_left"),
        F.count(F.lit(1)).alias("n_right"),
    )
    cr = cb.groupBy(w2.alias("w2")).agg(F.count(F.lit(1)).alias("n_left"))
    nt = cb.agg(F.count(F.lit(1)).cast("double").alias("n_types"))
    lp = F.log(
        (F.col("c_bi") - 0.75) / F.col("c_left")
        + (0.75 * F.col("n_right") / F.col("c_left"))
        * (F.col("n_left") / F.col("n_types"))
    )
    # hash-keyed attach, un-hinted — see bigram_logprob_score
    scored_gram = (
        cb.join(cl, F.substring_index(F.col("gram"), " ", 1) == F.col("w1"))
        .join(cr, F.substring_index(F.col("gram"), " ", -1) == F.col("w2"))
        .crossJoin(F.broadcast(nt))
        .select(F.xxhash64("gram").alias("gh"), lp.alias("lp"))
    )
    return (
        bi.select("doc_id", F.xxhash64("gram").alias("gh"))
        .join(scored_gram, "gh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


@query(
    "ccnet_perplexity_buckets",
    f"""
    WITH {_KN_DOC_SCORE_CTES}
    SELECT kn.doc_id, d.lang,
           kn.avg_logprob,
           round(exp(-kn.avg_logprob), 4) AS ppl,
           CASE ntile(3) OVER (PARTITION BY d.lang
                               ORDER BY kn.avg_logprob DESC, kn.doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM kn JOIN documents d ON kn.doc_id = d.doc_id
    """,
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): per
    language, rank documents by LM perplexity and split into equal
    head/middle/tail tertiles — the standard coarse quality partition a
    web-corpus pipeline feeds to downstream sampling.  The LM is the
    interpolated Kneser-Ney gate (`kneser_ney_logprob`); ppl =
    exp(−mean logprob), and LOWER perplexity = head.

    Cross-engine determinism: the tertile boundary is computed on the
    6-dp-ROUNDED mean logprob (already the KN gate's output contract)
    with doc_id as the total-order tie-break, so ntile(3) assigns
    identically in both engines; ppl is display-only (4 dp).  Docs with
    <2 tokens have no bigrams and drop out (inner-join semantics, the
    KN contract).

    Scale shape: inherits the KN gate's (vocabulary-bounded count
    tables, one corpus gram rollup); the added cost is one per-lang
    window sort over doc-level rows — ~1e9 rows/lang at 100 TB, a
    single range-partitioned sort, no new corpus-scale shuffle."""
    kn = kneser_ney_logprob(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(F.desc("avg_logprob"), "doc_id")
    tert = F.ntile(3).over(w)
    return (
        kn.join(d, "doc_id")
        .select(
            "doc_id",
            "lang",
            "avg_logprob",
            F.round(F.exp(-F.col("avg_logprob")), 4).alias("ppl"),
            F.when(tert == 1, "head")
            .when(tert == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


# ===========================================================================
# Token co-occurrence PMI over the bounded top-df vocabulary — the KG
# edge-weighting pass (how strongly two vocabulary terms attract each
# other across documents); bounded pair space = C(50,2) regardless of
# corpus size
# ===========================================================================

@query(
    "token_cooccurrence_pmi",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS token
      FROM documents),
    dfreq AS (SELECT token, count(*) AS df FROM toks GROUP BY token),
    top AS (SELECT token, df FROM dfreq ORDER BY df DESC, token LIMIT 50),
    keep AS (SELECT t.doc_id, t.token FROM toks t JOIN top USING (token)),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b, count(*) AS c_ab
      FROM keep a JOIN keep b
        ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token),
    n AS (SELECT count(*) AS n FROM documents)
    SELECT token_a, token_b, CAST(c_ab AS BIGINT) AS c_ab,
           round(ln((c_ab * n.n * 1.0) / (ta.df * tb.df)), 6) AS pmi
    FROM pairs
    JOIN top ta ON ta.token = token_a
    JOIN top tb ON tb.token = token_b
    CROSS JOIN n
    WHERE c_ab >= 5
    ORDER BY pmi DESC, token_a, token_b LIMIT 100
    """,
)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI = ln(N·c(a,b) / (df(a)·df(b))) over document-level
    co-occurrence, restricted to the top-50-df vocabulary so the
    self-join pair space is C(50,2)-bounded at ANY corpus size; the
    vocabulary is broadcast and the per-doc join fans out at most 50
    rows per document."""
    # r06: scan spread (single-file table = one scan task otherwise)
    d = _spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
            )
        ).alias("token"),
    )
    dfreq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.desc("df"), "token").limit(50)
    keep = toks.join(F.broadcast(top.select("token")), "token")
    a = keep.select("doc_id", F.col("token").alias("token_a"))
    b = keep.select("doc_id", F.col("token").alias("token_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    n = d.agg(F.count(F.lit(1)).alias("n"))
    ta = top.select(F.col("token").alias("token_a"), F.col("df").alias("df_a"))
    tb = top.select(F.col("token").alias("token_b"), F.col("df").alias("df_b"))
    return (
        pairs.join(F.broadcast(ta), "token_a")
        .join(F.broadcast(tb), "token_b")
        .crossJoin(F.broadcast(n))
        .select(
            "token_a",
            "token_b",
            F.col("c_ab").cast("long").alias("c_ab"),
            F.round(
                F.log(F.col("c_ab") * F.col("n") * 1.0 / (F.col("df_a") * F.col("df_b"))),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "token_a", "token_b")
        .limit(100)
    )


# ===========================================================================
# Training-data quality suite — Gopher-style rules, repetition collapse,
# PII redaction.  All three are SHUFFLE-FREE pure maps (array lambdas in
# whole-stage codegen): at 100 TB the quality pass costs one scan, no
# exchange.  Rules follow Rae et al. 2021 (Gopher) §A1.1 / Raffel et al.
# 2020 (C4) §2.2 — public heuristics, thresholds tuned to this corpus.
# ===========================================================================

@query(
    "quality_gopher_rules",
    """
    WITH t AS (SELECT doc_id, source,
                      regexp_extract_all(lower(text), '[a-z]+') AS toks
               FROM documents),
    m AS (SELECT doc_id, source,
            len(toks) AS n_tok,
            len(list_distinct(toks)) AS n_distinct,
            coalesce(list_max(list_transform(list_distinct(toks),
                       t -> len(list_filter(toks, x -> x = t)))), 0) AS top_c,
            coalesce(list_sum(list_transform(toks, x -> len(x))), 0) AS char_sum,
            CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)),
                                     i -> toks[i] || '_' || toks[i+1])
                 ELSE [] END AS grams
          FROM t),
    r AS (SELECT doc_id, source,
            CAST(n_tok AS BIGINT) AS n_tok,
            round(n_distinct * 1.0 / greatest(n_tok, 1), 6) AS distinct_ratio,
            round(top_c * 1.0 / greatest(n_tok, 1), 6) AS top_tok_frac,
            round(char_sum * 1.0 / greatest(n_tok, 1), 6) AS mean_word_len,
            round((len(grams) - len(list_distinct(grams))) * 1.0
                      / greatest(len(grams), 1), 6) AS dup_2gram_frac
          FROM m)
    SELECT r.*, (n_tok >= 50 AND top_tok_frac <= 0.2 AND distinct_ratio >= 0.03
                 AND mean_word_len BETWEEN 2.0 AND 10.0) AS keep
    FROM r
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality metrics + keep flag (Gopher/C4 heuristics):
    type-token ratio, most-common-token fraction, mean word length,
    duplicate-2-gram fraction.  Every metric is an array-lambda column
    expression — the whole pass is a single scan with NO shuffle (vs
    the naive explode+groupBy which shuffles one row per token)."""
    from .functions.text import quality_keep, quality_metrics, word_tokens

    # r06: _spread restores scan parallelism over the single-file local
    # table (a doc-granular ROUND-ROBIN — never a token-row shuffle,
    # and a no-op at production split counts since _spread is adaptive)
    d = _spread(spark, sf_dir, "documents")
    t = d.select("doc_id", "source", word_tokens(F.col("text")).alias("toks"))
    # _srt materialized in its own projection (multi-referenced by the
    # run-length top_c fold)
    ts = t.withColumn("_srt", F.array_sort("toks"))
    metrics = quality_metrics(F.col("toks"), F.col("_srt"))
    m = ts.select(
        "doc_id", "source", *[expr.alias(name) for name, expr in metrics.items()]
    )
    return m.withColumn(
        "keep",
        quality_keep(
            F.col("n_tok"),
            F.col("top_tok_frac"),
            F.col("distinct_ratio"),
            F.col("mean_word_len"),
        ),
    )


@query(
    "repetition_collapse",
    """
    WITH t AS (SELECT doc_id,
                      regexp_extract_all(lower(text), '[a-z]+') AS toks
               FROM documents)
    SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
           CAST(len(list_filter(range(1, len(toks)+1),
                                i -> i = 1 OR toks[i] != toks[i-1])) AS BIGINT)
             AS n_after,
           round((len(toks) - len(list_filter(range(1, len(toks)+1),
                                              i -> i = 1 OR toks[i] != toks[i-1]))) * 1.0
                     / greatest(len(toks), 1), 6) AS collapsed_frac
    FROM t
    """,
)
def repetition_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-length repetition removal (collapse consecutive duplicate
    tokens — the 'elongation' cleaning step): per-doc token count
    before/after and collapsed fraction.  Array-lambda keep-mask over a
    1..n index sequence; pure map, no shuffle, OOB F.get yields NULL so
    i=1 survives via the OR short-circuit on both engines."""
    d = _t(spark, sf_dir, "documents")
    toks = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    t = d.select("doc_id", toks.alias("toks"), F.size(toks).alias("n"))
    tk = F.col("toks")
    kept = F.when(
        F.col("n") >= 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.col("n")),
                lambda i: (i == 1) | (F.get(tk, i - 1) != F.get(tk, i - 2)),
            )
        ),
    ).otherwise(F.lit(0))
    return t.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tok"),
        kept.cast("long").alias("n_after"),
        F.round(
            (F.col("n") - kept) / F.greatest(F.col("n"), F.lit(1)), 6
        ).alias("collapsed_frac"),
    )


@query(
    "pii_redaction",
    r"""
    WITH t AS (
      SELECT c_custkey,
             'reach ' || c_name || ' at ' || lower(replace(c_name, '#', '')) ||
             '@example.com or +1-555-' ||
             lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') AS contact
      FROM customer)
    SELECT c_custkey,
           CAST(len(regexp_extract_all(contact, '[a-z0-9]+@[a-z]+\.[a-z]+'))
                AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(contact, '\+1-555-[0-9]{4}'))
                AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(contact,
                            '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
                          '\+1-555-[0-9]{4}', '<PHONE>', 'g') AS redacted
    FROM t
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over deterministic synthetic contact strings (built
    from the customer dim — no external data): count emails/phones
    found, emit the redacted text.  Pure regexp map, no shuffle; the
    DuckDB twin needs the 'g' flag to match Spark's replace-all."""
    c = _t(spark, sf_dir, "customer")
    contact = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at "),
        F.lower(F.regexp_replace("c_name", "#", "")),
        F.lit("@example.com or +1-555-"),
        F.lpad(F.pmod("c_custkey", F.lit(10000)).cast("string"), 4, "0"),
    )
    email_re = r"[a-z0-9]+@[a-z]+\.[a-z]+"
    phone_re = r"\+1-555-[0-9]{4}"
    t = c.select("c_custkey", contact.alias("contact"))
    return t.select(
        "c_custkey",
        F.size(F.regexp_extract_all("contact", F.lit(email_re), 0))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all("contact", F.lit(phone_re), 0))
        .cast("long")
        .alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("contact", email_re, "<EMAIL>"), phone_re, "<PHONE>"
        ).alias("redacted"),
    )


# ===========================================================================
# KG entity linking — blocked edit-distance fuzzy match (typo-injected
# mentions vs clean vocabulary) and PageRank entity importance
# ===========================================================================

def _fuzzy_vocab_mentions(spark: SparkSession, sf_dir: str):
    """Shared vocab/mention construction for the fuzzy-linking family."""
    d = _t(spark, sf_dir, "documents")
    vocab = d.select(
        F.explode(
            F.array_distinct(F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0))
        ).alias("entity")
    ).distinct()
    mentions = (
        vocab.filter(F.length("entity") > 3)
        .select(F.expr("substr(entity, 2)").alias("mention"))
        .distinct()
    )
    return vocab, mentions


@query(
    "entity_fuzzy_match",
    """
    WITH vocab AS (SELECT DISTINCT
                     unnest(regexp_extract_all(lower(text), '[a-z]+')) AS entity
                   FROM documents),
    mentions AS (SELECT DISTINCT substr(entity, 2) AS mention
                 FROM vocab WHERE len(entity) > 3)
    SELECT m.mention, v.entity,
           CAST(levenshtein(m.mention, v.entity) AS BIGINT) AS dist
    FROM mentions m JOIN vocab v
      ON substr(m.mention, len(m.mention), 1) = substr(v.entity, len(v.entity), 1)
     AND abs(len(m.mention) - len(v.entity)) <= 1
    WHERE levenshtein(m.mention, v.entity) <= 1
    """,
)
def entity_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity linking: deterministically typo-injected mentions
    (first char dropped) matched to the clean vocabulary at edit
    distance ≤ 1, with last-char + ±1-length agreement as the match
    contract.  Candidate generation is a symmetric-delete (public
    SymSpell/FastSS construction) EQUI-join on the delete-1 variant
    string (operators.linking.fuzzy_candidates): key cardinality is
    ≈ vocabulary × average length with alphabet-bounded block sizes,
    so the levenshtein verify stage is O(V·L·26) at any corpus size —
    never the O(V²/26) skewed shuffle of a 26-value last-char block.
    The delete-neighborhood intersection is EXACT for distance ≤ 1,
    so results (and the declarative oracle, which keeps the last-char
    + length-band + lev contract) are byte-identical to the naive
    blocking — the block key is an execution strategy, not a
    semantics knob.  Block-size distribution and candidate volume are
    measured by the `fuzzy_block_stats` gate.  Mirrors the reference's
    name-normalized linking (userCode/lib/containers.py:152-157) with
    an approximate-string stage on top."""
    from .operators.linking import fuzzy_candidates

    vocab, mentions = _fuzzy_vocab_mentions(spark, sf_dir)
    lastchar = lambda c: F.substr(c, F.length(c), F.lit(1))  # noqa: E731
    cand = fuzzy_candidates(mentions, vocab, "mention", "entity")
    return (
        cand.filter(
            (lastchar(F.col("mention")) == lastchar(F.col("entity")))
            & (F.abs(F.length("mention") - F.length("entity")) <= 1)
            & (F.levenshtein("mention", "entity") <= 1)
        )
        .select(
            "mention",
            "entity",
            F.levenshtein("mention", "entity").cast("long").alias("dist"),
        )
    )


_DELETE_VARIANTS_SQL = """list_distinct(list_transform(range(0, len({c}) + 1),
          i -> CASE WHEN i = 0 THEN {c}
                    ELSE substr({c}, 1, CAST(i - 1 AS INTEGER))
                         || substr({c}, CAST(i + 1 AS INTEGER), len({c})) END))"""


@query(
    "fuzzy_block_stats",
    f"""
    WITH vocab AS (SELECT DISTINCT
                     unnest(regexp_extract_all(lower(text), '[a-z]+')) AS entity
                   FROM documents),
    mentions AS (SELECT DISTINCT substr(entity, 2) AS mention
                 FROM vocab WHERE len(entity) > 3),
    vv AS (SELECT unnest({_DELETE_VARIANTS_SQL.format(c='entity')}) AS vkey FROM vocab),
    mv AS (SELECT unnest({_DELETE_VARIANTS_SQL.format(c='mention')}) AS vkey FROM mentions),
    ve AS (SELECT vkey, count(*) AS ne FROM vv GROUP BY vkey),
    me AS (SELECT vkey, count(*) AS nm FROM mv GROUP BY vkey),
    j AS (SELECT nm * ne AS c FROM ve JOIN me USING (vkey))
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ve) AS n_entity_blocks,
           (SELECT CAST(max(ne) AS BIGINT) FROM ve) AS max_entity_block,
           (SELECT round(avg(ne), 6) FROM ve) AS avg_entity_block,
           (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) FROM j) AS candidate_pairs
    """,
)
def fuzzy_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured block-size distribution of the symmetric-delete
    blocking behind `entity_fuzzy_match` (the `bucket_cap_stats`
    pattern: scale claims as numbers, not prose).  One row —
    number of entity-side blocks (delete-variant keys), the largest
    and mean block, and the total candidate-pair volume the verify
    stage actually sees (Σ over keys of |mentions| × |entities|).
    At sf0.01 max_entity_block is single-digit-ish vs a 26-key
    last-char scheme whose largest block held ~vocab/26 entries —
    the quantified argument that the verify stage stays linear in
    vocabulary at 100 TB."""
    from .operators.linking import delete_variants

    vocab, mentions = _fuzzy_vocab_mentions(spark, sf_dir)
    ve = (
        vocab.select(F.explode(delete_variants(F.col("entity"))).alias("vkey"))
        .groupBy("vkey")
        .agg(F.count(F.lit(1)).alias("ne"))
    )
    me = (
        mentions.select(F.explode(delete_variants(F.col("mention"))).alias("vkey"))
        .groupBy("vkey")
        .agg(F.count(F.lit(1)).alias("nm"))
    )
    vstats = ve.agg(
        F.count(F.lit(1)).cast("long").alias("n_entity_blocks"),
        F.max("ne").cast("long").alias("max_entity_block"),
        F.round(F.avg("ne"), 6).alias("avg_entity_block"),
    )
    cand = ve.join(me, "vkey").agg(
        F.coalesce(F.sum(F.col("nm") * F.col("ne")), F.lit(0))
        .cast("long")
        .alias("candidate_pairs")
    )
    return vstats.crossJoin(cand)


@query(
    "pagerank_entity_rank",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
    nodes AS (SELECT u AS n FROM raw UNION SELECT v AS n FROM raw),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY u),
    r0 AS (SELECT n, 1.0 / (SELECT cnt FROM nn) AS pr FROM nodes),
    d0 AS (SELECT coalesce(sum(pr), 0.0) AS mass
           FROM r0 LEFT JOIN deg ON r0.n = deg.u WHERE deg.u IS NULL),
    c0 AS (SELECT e.v AS n, sum(r.pr / d.outdeg) AS contrib
           FROM edges e JOIN r0 r ON e.u = r.n JOIN deg d ON e.u = d.u
           GROUP BY e.v),
    r1 AS (SELECT nodes.n, 0.15 / (SELECT cnt FROM nn)
                  + 0.85 * (coalesce(c0.contrib, 0.0)
                            + (SELECT mass FROM d0) / (SELECT cnt FROM nn)) AS pr
           FROM nodes LEFT JOIN c0 ON nodes.n = c0.n),
    d1 AS (SELECT coalesce(sum(pr), 0.0) AS mass
           FROM r1 LEFT JOIN deg ON r1.n = deg.u WHERE deg.u IS NULL),
    c1 AS (SELECT e.v AS n, sum(r.pr / d.outdeg) AS contrib
           FROM edges e JOIN r1 r ON e.u = r.n JOIN deg d ON e.u = d.u
           GROUP BY e.v),
    r2 AS (SELECT nodes.n, 0.15 / (SELECT cnt FROM nn)
                  + 0.85 * (coalesce(c1.contrib, 0.0)
                            + (SELECT mass FROM d1) / (SELECT cnt FROM nn)) AS pr
           FROM nodes LEFT JOIN c1 ON nodes.n = c1.n)
    SELECT n AS entity_id, round(pr, 6) AS pr_score FROM r2
    """,
)
def pagerank_entity_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Damped PageRank (d=0.85, dangling mass redistributed) over the
    same deterministic o_orderkey-derived graph the CC oracle uses —
    two fixed iterations so the SQL twin is a closed-form CTE chain.
    Verifies operators/pagerank.py end-to-end: teleport floor, per-edge
    contribution, dangling handling.  6-dp rounding both sides absorbs
    summation-order ulp noise."""
    from .operators.pagerank import pagerank

    edges = _order_graph_edges(spark, sf_dir)
    pr = pagerank(edges, iterations=2, damping=0.85)
    return pr.select("entity_id", F.round("rank", 6).alias("pr_score"))


@query(
    "lpa_communities",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    fwd AS (SELECT u, v FROM raw WHERE u <> v),
    edges AS (SELECT u, v FROM fwd UNION SELECT v AS u, u AS v FROM fwd),
    voting AS (SELECT u, v FROM edges
               UNION SELECT DISTINCT u, u AS v FROM edges),
    l0 AS (SELECT DISTINCT u AS n, u AS label FROM edges),
    c1 AS (
      SELECT e.u AS n, l.label, count(*) AS c
      FROM voting e JOIN l0 l ON e.v = l.n GROUP BY e.u, l.label),
    l1 AS (
      SELECT n, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
        FROM c1) WHERE rn = 1),
    c2 AS (
      SELECT e.u AS n, l.label, count(*) AS c
      FROM voting e JOIN l1 l ON e.v = l.n GROUP BY e.u, l.label),
    l2 AS (
      SELECT n, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
        FROM c2) WHERE rn = 1)
    SELECT n AS entity_id, label AS community FROM l2
    """,
)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic synchronous label
    propagation (operators/lpa.py), two rounds so the SQL twin is an
    unrolled CTE chain.  Integer neighbour-label counts (plus the one
    self vote that damps synchronous oscillation) + smallest-label
    tie-break make every round exactly reproducible cross-engine — no
    float comparisons anywhere, so the full result set is hash-compared
    unrounded."""
    from .operators.lpa import label_propagation

    edges = _order_graph_edges(spark, sf_dir)
    return label_propagation(edges, iterations=2)


@query(
    "kg_link_prediction",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    fwd AS (SELECT u, v FROM raw WHERE u <> v),
    edges AS (SELECT u, v FROM fwd UNION SELECT v AS u, u AS v FROM fwd),
    pairs AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM fwd),
    deg AS (SELECT u AS n, count(*) AS d FROM edges GROUP BY u),
    wedges AS (
      SELECT e1.v AS a, e2.v AS b, count(*) AS cn
      FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v
      GROUP BY e1.v, e2.v),
    cand AS (
      SELECT w.a, w.b, w.cn FROM wedges w
      LEFT JOIN pairs p ON p.a = w.a AND p.b = w.b
      WHERE p.a IS NULL)
    SELECT c.a AS entity_a, c.b AS entity_b,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           round(CAST(c.cn AS DOUBLE) / (da.d + db.d - c.cn), 6) AS jaccard_score
    FROM cand c JOIN deg da ON da.n = c.a JOIN deg db ON db.n = c.b
    ORDER BY jaccard_score DESC, entity_a, entity_b LIMIT 20
    """,
)
def kg_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction over the entity graph
    (operators/linkpred.predict_links): top-20 non-adjacent pairs by
    common-neighbor Jaccard.  Counts and degrees are integers, so
    scores are identical IEEE divisions cross-engine — ranked on the
    rounded score with a pair tie-break, no ulp guard needed.  The
    hub cap (max_wedge_degree) is set above the gate graph's max
    degree, so the oracle sees the exact uncapped scores while the
    scale guard stays on the executed path."""
    from .operators.linkpred import predict_links

    return predict_links(
        _order_graph_edges(spark, sf_dir), k=20, max_wedge_degree=10000
    )


@query(
    "kg_triangle_count",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    pairs AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
              FROM raw WHERE u <> v)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e2.a = e1.b
    JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
    """,
)
def kg_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the undirected entity graph — the KG
    clustering-coefficient primitive.  The EXECUTED path is the
    DEGREE-ordered wedge join (operators.triangles.triangle_count):
    edges oriented from the lower-degree endpoint bound every node's
    oriented out-degree by O(√m), so wedge volume is O(m^1.5)
    worst-case and celebrity entities never generate quadratic wedge
    keys.  The count is orientation-invariant, so the simpler
    id-ordered SQL stays the oracle, and
    tests/test_triangles.py pins the two shapes equal (incl. on a
    hub-skewed graph)."""
    from .operators.triangles import triangle_count

    return triangle_count(
        _order_graph_edges(spark, sf_dir, src="_u", dst="_v"), src="_u", dst="_v"
    )


# ---------------------------------------------------------------------------
# Graph core extraction + link analysis (engine adds next to PageRank/LPA).
# The k-core gate runs on a deliberately SPARSE quadratic-residue graph
# (the shared order graph is 2-regular-ish and peels in 0 rounds): 149
# nodes whose 2-core is 17 nodes reached through 7 gradual peel rounds —
# identical at every SF because the o_orderkey < 700 prefix is shared.
# ---------------------------------------------------------------------------

_KCORE_RAW_SQL = """SELECT (o_orderkey * o_orderkey + 1) % 149 AS u,
             (o_orderkey * o_orderkey * o_orderkey + 2) % 149 AS v
      FROM orders WHERE o_orderkey < 700"""


def _kcore_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _KCORE_RAW_SQL (o_orderkey < 700 ⇒ k³ ≤ 3.4e8,
    no BIGINT overflow on either engine)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 700)
    kk = F.col("o_orderkey")
    return o.select(
        F.pmod(kk * kk + 1, F.lit(149)).alias("src_entity"),
        F.pmod(kk * kk * kk + 2, F.lit(149)).alias("dst_entity"),
    )


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """DuckDB twin of the iterative peel: round r keeps nodes whose
    degree within e_{r-1} is ≥ k, then filters edges to the survivors.
    Unrolled depth must cover the graph's true peel depth (7 at every
    SF for the gate graph; 10 gives margin) — past the fixpoint the
    rounds are no-ops, so over-unrolling is harmless."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs and
    # every peel level references the previous one THREE times
    # (e ⋈ s ⋈ s), so un-materialized unrolling re-plans e0 3^rounds
    # times — the query never finishes past ~8 rounds
    parts = [
        f"raw AS ({_KCORE_RAW_SQL})",
        "fwd AS (SELECT DISTINCT u, v FROM raw WHERE u <> v)",
        "e0 AS MATERIALIZED (SELECT u, v FROM fwd UNION SELECT v AS u, u AS v FROM fwd)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT u AS n FROM e{r-1} "
            f"GROUP BY u HAVING count(*) >= {k})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT e.u, e.v FROM e{r-1} e "
            f"JOIN s{r} a ON e.u = a.n JOIN s{r} b ON e.v = b.n)"
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT u AS node_id, CAST(count(*) AS BIGINT) AS core_degree
    FROM e{rounds} GROUP BY u
    """
    )


@query("kg_kcore_2core", _kcore_unrolled_sql(2, 10))
def kg_kcore_2core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the sparse entity graph (operators/kcore.kcore): the
    dense backbone after iteratively peeling degree-<2 nodes — the
    standard low-signal-entity trim before expensive downstream passes.
    The engine peels to FIXPOINT (one degree agg + two semi-joins +
    one count action per round, localCheckpoint loop discipline); the
    oracle unrolls 10 peel rounds (true depth 7).  Integer-only, no
    ulp guard."""
    from .operators.kcore import kcore

    return kcore(_kcore_graph_edges(spark, sf_dir), k=2)


_TRUSS_RAW_SQL = """SELECT o_orderkey % 97 AS u,
             ((o_orderkey // 11) * 13 + 1) % 97 AS v
      FROM orders WHERE o_orderkey < 1000"""


def _truss_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TRUSS_RAW_SQL — a 97-node / 941-edge graph dense
    enough to carry triangle structure (the shared order graph and the
    k-core quadratic-residue graph are both triangle-free): the second
    coordinate mixes o_orderkey DIV 11, so each residue class emits
    many distinct edges.  Identical at every SF (o_orderkey < 1000
    prefix is shared; checked at sf0.001/0.01/0.1)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    k = F.col("o_orderkey")
    return o.select(
        F.pmod(k, F.lit(97)).alias("src_entity"),
        F.pmod(F.expr("o_orderkey div 11") * 13 + 1, F.lit(97)).alias(
            "dst_entity"
        ),
    )


def _ktruss_unrolled_sql(k: int, rounds: int) -> str:
    """DuckDB twin of the iterative truss peel: round r counts each
    surviving edge's triangle support within e_{r-1} (id-ordered wedge
    join — orientation-invariant, so the simple declarative shape stays
    the oracle while the engine runs degree-ordered) and keeps edges
    with support ≥ k−2.  Unroll depth must cover the true peel depth
    (7 for the k=5 gate at every SF; `rounds` gives margin — past the
    fixpoint the rounds are no-ops).  AS MATERIALIZED is load-bearing,
    same reason as _kcore_unrolled_sql."""
    parts = [
        f"raw AS ({_TRUSS_RAW_SQL})",
        "e0 AS MATERIALIZED (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b"
        " FROM raw WHERE u <> v)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"adj{r} AS MATERIALIZED (SELECT a, b FROM e{r-1} "
            f"UNION ALL SELECT b AS a, a AS b FROM e{r-1})"
        )
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT c.a, c.b, count(*) AS s "
            f"FROM e{r-1} c JOIN adj{r} w1 ON w1.a = c.a "
            f"JOIN adj{r} w2 ON w2.a = c.b AND w2.b = w1.b "
            f"GROUP BY c.a, c.b)"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT a, b FROM s{r} WHERE s >= {k - 2})"
        )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT a AS node_u, b AS node_v, CAST(s AS BIGINT) AS support
    FROM s{rounds} WHERE s >= {k - 2}
    """
    )


def _node2vec_unrolled_sql(length: int, wp: int, w1: int, wq: int) -> str:
    """DuckDB twin of operators/walks.node2vec_walks on the dense truss
    graph: step 1 uniform (the deterministic_walks rule), steps ≥ 2
    pick by the hash roll over integer cumulative neighbor weights —
    identical integer arithmetic, so both engines replay the same
    walks.  No recursion → the WITH-RECURSIVE UNION quirk is moot."""
    parts = [
        f"raw AS ({_TRUSS_RAW_SQL})",
        "fwd AS (SELECT DISTINCT u, v FROM raw WHERE u <> v)",
        "ranked AS (SELECT u, v,"
        " row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,"
        " count(*) OVER (PARTITION BY u) AS deg FROM fwd)",
        "l0 AS (SELECT DISTINCT u AS start FROM fwd)",
        "s1 AS (SELECT l.start, r.u AS prev, r.v AS cur"
        " FROM l0 l JOIN ranked r ON l.start = r.u"
        " WHERE r.idx = (l.start * 31 + r.u * 7 + 1) % r.deg)",
    ]
    for s in range(2, length + 1):
        parts.append(
            f"c{s} AS (SELECT w.start, w.prev, w.cur, r.v AS nbr, r.idx, "
            f"CASE WHEN r.v = w.prev THEN {wp} "
            f"WHEN ex.u IS NOT NULL THEN {w1} ELSE {wq} END AS wt "
            f"FROM s{s-1} w JOIN ranked r ON w.cur = r.u "
            f"LEFT JOIN fwd ex ON ex.u = w.prev AND ex.v = r.v)"
        )
        parts.append(
            f"p{s} AS (SELECT start, prev, cur, nbr, wt, "
            f"sum(wt) OVER (PARTITION BY start ORDER BY idx) AS cum, "
            f"sum(wt) OVER (PARTITION BY start) AS tot FROM c{s})"
        )
        parts.append(
            f"s{s} AS (SELECT start, cur AS prev, nbr AS cur FROM p{s} "
            f"WHERE (start * 31 + cur * 7 + prev * 13 + {s}) % tot >= cum - wt "
            f"AND (start * 31 + cur * 7 + prev * 13 + {s}) % tot < cum)"
        )
    steps = [
        "SELECT start AS start_node, CAST(0 AS BIGINT) AS step,"
        " start AS node FROM l0"
    ] + [
        f"SELECT start, CAST({s} AS BIGINT), cur FROM s{s}"
        for s in range(1, length + 1)
    ]
    return "WITH " + ",\n    ".join(parts) + "\n    " + "\n    UNION ALL ".join(steps)


@query("node2vec_biased_walks", _node2vec_unrolled_sql(3, 1, 4, 2))
def node2vec_biased_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """node2vec 2nd-order biased walk corpus over the dense entity
    graph (operators/walks.node2vec_walks, Grover & Leskovec 2016
    §3.2): return/common/explore neighbor weights (1, 4, 2) ≈
    (p=4, q=2) scaled to integers, hash-rolled over the cumulative
    weights of the id-sorted neighbor list so both engines replay the
    identical walks with no RNG — the BFS/DFS-interpolating upgrade of
    the uniform `kg_random_walks` corpus, on a graph dense enough that
    the distance-1 (triangle) weight class actually fires.
    Integer-only, no ulp guard."""
    from .operators.walks import node2vec_walks

    return node2vec_walks(
        _truss_graph_edges(spark, sf_dir), length=3, wp=1, w1=4, wq=2
    ).select(F.col("start_node").cast("long"), "step", F.col("node").cast("long"))


@query("kg_ktruss_5truss", _ktruss_unrolled_sql(5, 9))
def kg_ktruss_5truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-truss of the dense entity graph (operators/truss.ktruss): the
    edges embedded in ≥3 triangles of the surviving subgraph — the
    edge-level cohesion filter after the k-core's node-level one.  The
    engine peels to fixpoint with one degree-ordered triangle
    enumeration per round (RuntimeError on max_rounds exhaustion, the
    operators/rounds.py budget rule); the oracle unrolls 9 id-ordered peel rounds
    (true depth 7, 941 → 38 edges).  Integer-only, no ulp guard."""
    from .operators.truss import ktruss

    return ktruss(_truss_graph_edges(spark, sf_dir), k=5)


@query(
    "graph_modularity",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    fwd AS (SELECT u, v FROM raw WHERE u <> v),
    edges AS (SELECT u, v FROM fwd UNION SELECT v AS u, u AS v FROM fwd),
    voting AS (SELECT u, v FROM edges
               UNION SELECT DISTINCT u, u AS v FROM edges),
    l0 AS (SELECT DISTINCT u AS n, u AS label FROM edges),
    c1 AS (
      SELECT e.u AS n, l.label, count(*) AS c
      FROM voting e JOIN l0 l ON e.v = l.n GROUP BY e.u, l.label),
    l1 AS (
      SELECT n, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
        FROM c1) WHERE rn = 1),
    c2 AS (
      SELECT e.u AS n, l.label, count(*) AS c
      FROM voting e JOIN l1 l ON e.v = l.n GROUP BY e.u, l.label),
    l2 AS (
      SELECT n, label FROM (
        SELECT n, label,
               row_number() OVER (PARTITION BY n ORDER BY c DESC, label) AS rn
        FROM c2) WHERE rn = 1),
    m2 AS (SELECT count(*) AS m2 FROM edges),
    deg AS (SELECT u AS n, count(*) AS d FROM edges GROUP BY u),
    comm AS (SELECT l.label AS c, count(*) AS n_nodes, sum(d.d) AS deg_sum
             FROM l2 l JOIN deg d ON l.n = d.n GROUP BY l.label),
    intra AS (SELECT cu.label AS c, count(*) AS intra_sym
              FROM edges e JOIN l2 cu ON e.u = cu.n JOIN l2 cv ON e.v = cv.n
              WHERE cu.label = cv.label GROUP BY cu.label)
    SELECT comm.c AS community,
           CAST(comm.n_nodes AS BIGINT) AS n_nodes,
           CAST(coalesce(intra.intra_sym, 0) // 2 AS BIGINT) AS intra_edges,
           CAST(comm.deg_sum AS BIGINT) AS deg_sum,
           round(coalesce(intra.intra_sym, 0) / (SELECT m2 FROM m2)
                 - (comm.deg_sum / (SELECT m2 FROM m2))
                   * (comm.deg_sum / (SELECT m2 FROM m2)), 6) AS modularity_term
    FROM comm LEFT JOIN intra ON comm.c = intra.c
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 2-round LPA partition
    (operators/modularity.community_modularity composed with
    operators/lpa.label_propagation): one row per community with its
    Q-term — Σ modularity_term is the partition's modularity.  Every
    float is a pure scalar expression of BIGINTs (two IEEE divisions,
    one square), so cross-engine agreement is exact; 6-dp rounding is
    suite convention only."""
    from .operators.lpa import label_propagation
    from .operators.modularity import community_modularity

    edges = _order_graph_edges(spark, sf_dir)
    comms = label_propagation(edges, iterations=2)
    return community_modularity(edges, comms)


def _louvain_unrolled_sql(rounds: int) -> str:
    """DuckDB twin of operators/louvain.louvain_local_moving: round r
    scores every (node, candidate community) pair with the exact
    integer-ratio gain the engine computes — identical operation order,
    so the per-node argmax (score DESC, community ASC) agrees
    bit-for-bit — and reassigns all nodes at once.  AS MATERIALIZED is
    load-bearing (same reason as _kcore_unrolled_sql)."""
    parts = [
        f"raw AS ({_ORDER_GRAPH_RAW_CTE})",
        "fwd AS (SELECT u, v FROM raw WHERE u <> v)",
        "edges AS MATERIALIZED (SELECT u, v FROM fwd "
        "UNION SELECT v AS u, u AS v FROM fwd)",
        "deg AS MATERIALIZED (SELECT u, CAST(count(*) AS BIGINT) AS ku "
        "FROM edges GROUP BY u)",
        "m AS (SELECT CAST(count(*) AS BIGINT) AS m2 FROM edges)",
        "l0 AS MATERIALIZED (SELECT u AS n, u AS c FROM deg)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"nbr{r} AS MATERIALIZED (SELECT e.u, l.c AS cand, "
            f"CAST(count(*) AS BIGINT) AS kuc "
            f"FROM edges e JOIN l{r-1} l ON e.v = l.n GROUP BY e.u, l.c)"
        )
        parts.append(
            f"sigma{r} AS MATERIALIZED (SELECT l.c AS cand, "
            f"CAST(sum(d.ku) AS BIGINT) AS sig "
            f"FROM l{r-1} l JOIN deg d ON l.n = d.u GROUP BY l.c)"
        )
        parts.append(
            f"cand{r} AS MATERIALIZED (SELECT u, cand, max(kuc) AS kuc FROM ("
            f"SELECT u, cand, kuc FROM nbr{r} "
            f"UNION ALL SELECT n AS u, c AS cand, CAST(0 AS BIGINT) AS kuc "
            f"FROM l{r-1}) GROUP BY u, cand)"
        )
        parts.append(
            f"scored{r} AS MATERIALIZED (SELECT c.u, c.cand, "
            f"(2 * c.kuc) / m.m2 - (2 * d.ku * "
            f"(s.sig - CASE WHEN c.cand = o.c THEN d.ku ELSE 0 END)) "
            f"/ (m.m2 * m.m2) AS score "
            f"FROM cand{r} c JOIN l{r-1} o ON c.u = o.n "
            f"JOIN deg d ON c.u = d.u JOIN sigma{r} s ON c.cand = s.cand, m)"
        )
        parts.append(
            f"l{r} AS MATERIALIZED (SELECT u AS n, cand AS c FROM ("
            f"SELECT u, cand, row_number() OVER (PARTITION BY u "
            f"ORDER BY score DESC, cand) AS rn FROM scored{r}) WHERE rn = 1)"
        )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT n AS entity_id, c AS community FROM l{rounds}"
    )


@query("louvain_communities", _louvain_unrolled_sql(2))
def louvain_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Louvain phase-1 local moving, 2 synchronous rounds from
    singletons (operators/louvain.louvain_local_moving, Blondel 2008
    §2): each node moves to the neighbor community with the maximal
    modularity gain — the objective-driven counterpart of the
    majority-vote LPA (`lpa_communities`), scored by `graph_modularity`.
    Staying is always a candidate (own-community Σ excludes the node's
    own degree), ties break toward the smaller community id.  Every
    score is a pure scalar IEEE expression of BIGINTs, so the
    cross-engine argmax is exact — no ulp guard needed."""
    from .operators.louvain import louvain_local_moving

    return louvain_local_moving(_order_graph_edges(spark, sf_dir), rounds=2)


@query(
    "kg_sameas_canonical",
    """
    WITH RECURSIVE
    ks AS (SELECT DISTINCT o_orderkey % 250 AS k
           FROM orders WHERE o_orderkey < 600),
    sa AS (SELECT k AS u, k - 1 AS v FROM ks WHERE k >= 1 AND k % 5 <> 0),
    edges AS (SELECT u, v FROM sa UNION SELECT v AS u, u AS v FROM sa),
    nodes AS (SELECT u AS n FROM edges UNION SELECT v AS n FROM edges),
    reach AS (
      SELECT n AS src, n AS dst FROM nodes
      UNION
      SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u),
    cc AS (SELECT src AS entity_id, min(dst) AS canonical_id
           FROM reach GROUP BY src),
    t AS (SELECT o_orderkey % 250 AS s,
                 CASE o_orderkey % 3 WHEN 0 THEN 'cites'
                                     WHEN 1 THEN 'imports'
                                     ELSE 'links_to' END AS pred,
                 (o_orderkey * 7) % 250 AS o
          FROM orders WHERE o_orderkey < 1000)
    SELECT DISTINCT CAST(coalesce(cs.canonical_id, t.s) AS BIGINT) AS subj,
                    pred,
                    CAST(coalesce(co.canonical_id, t.o) AS BIGINT) AS obj
    FROM t
    LEFT JOIN cc cs ON t.s = cs.entity_id
    LEFT JOIN cc co ON t.o = co.entity_id
    """,
)
def kg_sameas_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """owl:sameAs materialization (operators/canonicalize.rewrite_triples
    over operators/components.connected_components): alias assertions
    form length-5 id chains; canonicalization = CC min over the chains;
    every triple gets BOTH ends rewritten (ids without assertions pass
    through the left-join coalesce) and the duplicates the rewrite
    creates collapse — the triple-granularity analog of the reference's
    per-source deduplicated release graph
    (userCode/assetGroups/release_graph_generator.py:36-83).  The
    o_orderkey<600/<1000 prefixes are SF-shared, so the result is
    identical at every SF.  Integer/string-only, no ulp guard."""
    from .operators.canonicalize import rewrite_triples
    from .operators.components import connected_components

    o6 = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 600)
    k = F.pmod(F.col("o_orderkey"), F.lit(250))
    sameas = (
        o6.select(k.alias("k"))
        .distinct()
        .filter((F.col("k") >= 1) & (F.pmod("k", F.lit(5)) != 0))
        .select(
            F.col("k").alias("src_entity"),
            (F.col("k") - 1).alias("dst_entity"),
        )
    )
    # threshold=0 pins the DISTRIBUTED large-star/small-star CC path
    cc = connected_components(sameas, small_graph_threshold=0)
    o10 = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    triples = o10.select(
        F.pmod("o_orderkey", F.lit(250)).cast("long").alias("subj"),
        F.element_at(
            F.array(F.lit("cites"), F.lit("imports"), F.lit("links_to")),
            (F.pmod("o_orderkey", F.lit(3)) + 1).cast("int"),
        ).alias("pred"),
        F.pmod(F.col("o_orderkey") * 7, F.lit(250)).cast("long").alias("obj"),
    )
    out = rewrite_triples(triples, cc)
    return out.select(
        F.col("subj").cast("long"), "pred", F.col("obj").cast("long")
    )


@query(
    "kg_topo_depth",
    """
    WITH RECURSIVE
    hn AS (SELECT DISTINCT (o_orderkey * o_orderkey + 1) % 149 AS n
           FROM orders WHERE o_orderkey < 700),
    e AS (SELECT n AS u, (n - 1) // 3 AS v FROM hn WHERE n >= 1
          UNION
          SELECT n AS u, (n - 1) // 4 AS v FROM hn WHERE n >= 1),
    nodes AS (SELECT u AS n FROM e UNION SELECT v AS n FROM e),
    walk AS (
      SELECT n AS start, n AS cur, 0 AS len FROM nodes
      UNION ALL
      SELECT w.start, e.v AS cur, w.len + 1 AS len
      FROM walk w JOIN e ON w.cur = e.u)
    SELECT start AS node, CAST(max(len) AS BIGINT) AS depth
    FROM walk GROUP BY start
    """,
)
def kg_topo_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest-path depth over a DAG ontology
    (operators/dag.longest_path_depth, Kahn-style reverse-topological
    rounds): the subsumption-level structure the full closure
    (`kg_ancestor_closure`) doesn't expose — depth 0 = sinks, depth d =
    longest chain of d steps below.  The DAG doubles the closure
    hierarchy's out-edges ((n−1) div 3 AND (n−1) div 4, both strictly
    decreasing, so acyclicity is by construction) to make longest ≠
    shortest.  The oracle enumerates all descending walks by recursive
    CTE and takes the max — safe because branching 2 × depth ≤ 8 bounds
    the walk count.  Integer-only."""
    from .operators.dag import longest_path_depth

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 700)
    n = F.pmod(F.col("o_orderkey") * F.col("o_orderkey") + 1, F.lit(149))
    hn = o.select(n.alias("n")).distinct().filter(F.col("n") >= 1)
    edges = (
        hn.select(
            F.col("n").alias("src_entity"),
            F.expr("(n - 1) div 3").cast("long").alias("dst_entity"),
        )
        .unionByName(
            hn.select(
                F.col("n").alias("src_entity"),
                F.expr("(n - 1) div 4").cast("long").alias("dst_entity"),
            )
        )
    )
    return longest_path_depth(edges).select(
        F.col("node").cast("long"), F.col("depth").cast("long")
    )


@query(
    "kg_rdfs_type_inference",
    """
    WITH RECURSIVE
    hn AS (SELECT DISTINCT (o_orderkey * o_orderkey + 1) % 149 AS n
           FROM orders WHERE o_orderkey < 700),
    e AS (SELECT n AS u, (n - 1) // 3 AS v FROM hn WHERE n >= 1),
    tc AS (
      SELECT u, v FROM e
      UNION
      SELECT tc.u, e.v FROM tc JOIN e ON tc.v = e.u),
    up AS (SELECT u, v FROM tc UNION SELECT n AS u, n AS v FROM hn),
    inst AS (SELECT o_orderkey AS x,
                    (o_orderkey * o_orderkey + 1) % 149 AS c
             FROM orders WHERE o_orderkey < 700)
    SELECT up.v AS class_id,
           CAST(count(DISTINCT inst.x) AS BIGINT) AS n_instances
    FROM inst JOIN up ON inst.c = up.u
    GROUP BY up.v
    """,
)
def kg_rdfs_type_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS9 type inheritance (type(x,C) ∧ subClassOf*(C,C′) ⊢
    type(x,C′)) materialized over the closure hierarchy
    (operators/closure.transitive_closure): per-class instance counts
    AFTER inference — each instance counts toward its direct class and
    every ancestor.  The reflexive step is the identity union over the
    class universe, so leaf-class counts survive.  One closure (depth ≤
    5 rounds), one broadcast-sized class join against the instance
    table, one rollup — the standard ontology-expansion shape at any
    corpus scale.  Integer-only."""
    from .operators.closure import transitive_closure

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 700)
    n = F.pmod(F.col("o_orderkey") * F.col("o_orderkey") + 1, F.lit(149))
    hn = o.select(n.alias("n")).distinct()
    edges = hn.filter(F.col("n") >= 1).select(
        F.col("n").alias("src_entity"),
        F.expr("(n - 1) div 3").cast("long").alias("dst_entity"),
    )
    up = (
        transitive_closure(edges)
        .select(F.col("src_entity").alias("u"), F.col("dst_entity").alias("v"))
        .unionByName(hn.select(F.col("n").alias("u"), F.col("n").alias("v")))
        .distinct()
    )
    inst = o.select(F.col("o_orderkey").alias("x"), n.alias("c"))
    return (
        inst.join(up, inst["c"] == up["u"])
        .groupBy(F.col("v").cast("long").alias("class_id"))
        .agg(F.countDistinct("x").cast("long").alias("n_instances"))
    )


@query(
    "ccnet_chunk_dedup",
    """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
    c AS (SELECT doc_id, t.j,
                 array_to_string(
                   list_slice(ws, t.j * 8 + 1, t.j * 8 + 8), ' ') AS chunk
          FROM w, range(0, 16) t(j) WHERE t.j * 8 < len(ws)),
    k AS (SELECT doc_id, j, chunk,
                 row_number() OVER (PARTITION BY chunk
                                    ORDER BY doc_id, j) AS rn
          FROM c),
    reb AS (SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_kept,
                   string_agg(chunk, ' ' ORDER BY j) AS kept_text
            FROM k WHERE rn = 1 GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(ceil(len(string_split(d.text, ' ')) / 8.0) AS BIGINT) AS n_chunks,
           CAST(coalesce(reb.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(reb.kept_text, '') AS kept_text
    FROM documents d LEFT JOIN reb ON d.doc_id = reb.doc_id
    """,
)
def ccnet_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level corpus dedup (Wenzek et al. 2020
    §3.1 removes duplicated LINES corpus-wide keeping the first copy;
    this corpus has no newlines, so the unit is the aligned 8-word
    pseudo-paragraph).  Keep-first = min (doc_id, position) per chunk
    — duplicates WITHIN a doc collapse too — then each doc is rebuilt
    from its surviving chunks in order; fully-deduplicated docs survive
    as empty strings (totality via the documents left join).

    Distinct from `exact_substr_removal`: that removes every copy of a
    duplicated sliding gram; this keeps the first copy of an aligned
    unit — the CCNet discipline.  Scale shape: chunking is per-row
    (transform over a sequence, no word explode), the only corpus
    shuffle keys on the 8-byte chunk hash via a groupBy min — never
    doc×doc; the rebuild is one per-doc rollup.  String compare, no ulp
    guard."""
    # r06: scan spread + the split-word array materialized in its own
    # projection — the old inline form re-split the text per chunk
    # inside the Generate (and once more for the sequence bound)
    d = _spread(spark, sf_dir, "documents").select("doc_id", "text")
    dw = d.select("doc_id", F.split(F.col("text"), " ").alias("ws"))
    chunks = dw.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, cast(ceil(size(ws) / 8.0)"
                " as int) - 1),"
                " j -> array_join(slice(ws, j * 8 + 1, 8), ' '))"
            )
        ).alias("j", "chunk"),
    )
    # r06: keep-first via ONE row_number window over the chunk shuffle
    # (exactly the oracle's shape) — the old min-struct groupBy + join
    # re-derived the chunk stream for the second consumer and shuffled
    # it twice
    rn = F.row_number().over(
        Window.partitionBy("chunk").orderBy("doc_id", "j")
    )
    kept = (
        chunks.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("j", "chunk"))),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )
    return (
        d.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.ceil(F.size(F.split("text", " ")) / 8.0)
            .cast("long")
            .alias("n_chunks"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


@query(
    "embedding_covariance",
    """
    WITH e AS (SELECT embedding AS v FROM embeddings),
    p AS (SELECT i.i AS i, j.j AS j,
                 sum(CAST(v[i.i + 1] AS DOUBLE)
                     * CAST(v[j.j + 1] AS DOUBLE)) AS sxy,
                 count(*) AS n
          FROM e, range(0, 64) i(i), range(0, 64) j(j)
          WHERE j.j >= i.i GROUP BY i.i, j.j),
    m AS (SELECT i.i AS i, sum(CAST(v[i.i + 1] AS DOUBLE)) AS sx
          FROM e, range(0, 64) i(i) GROUP BY i.i)
    SELECT CAST(p.i AS BIGINT) AS dim_i, CAST(p.j AS BIGINT) AS dim_j,
           round(p.sxy / p.n - (mi.sx / p.n) * (mj.sx / p.n), 6) + 0.0 AS cov
    FROM p JOIN m mi ON p.i = mi.i JOIN m mj ON p.j = mj.i
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact upper-triangle covariance of the embedding corpus
    (operators/pca.covariance_matrix) — the distributed 99% of PCA
    (the d×d eigendecomposition is a driver-side triviality,
    operators/pca.pca_project).  The d²/2-per-row fan-out map-side
    combines before the exchange, so the shuffle is d² × tasks
    regardless of corpus size — the wordcount shape.  Rounded to 6 dp
    both sides (partial-agg summation order); `+ 0.0` on both sides
    turns a -0.0 that rounding leaves into 0.0, so the rows hash alike."""
    from .operators.pca import covariance_matrix

    em = _spread(spark, sf_dir, "embeddings")
    return covariance_matrix(em).select(
        "dim_i", "dim_j", (F.round("cov", 6) + F.lit(0.0)).alias("cov")
    )


@query(
    "kg_scc_components",
    """
    WITH RECURSIVE
    k AS (SELECT DISTINCT o_orderkey % 120 AS n
          FROM orders WHERE o_orderkey < 800),
    e AS (
      SELECT n AS u, (n // 8) * 8 + ((n % 8) + 1) % 8 AS v FROM k
      UNION SELECT n AS u, n + 8 AS v FROM k WHERE n + 8 < 120
      UNION SELECT n AS u, 120 + (n % 7) AS v FROM k),
    ed AS (SELECT u, v FROM e WHERE u <> v),
    -- DuckDB quirk: UNION inside a WITH RECURSIVE block skips the
    -- cross-branch dedup (recursive-union parse), so the node universe
    -- needs an explicit DISTINCT wrapper
    nodes AS (SELECT DISTINCT n FROM
              (SELECT u AS n FROM ed UNION ALL SELECT v AS n FROM ed)),
    reach AS (
      SELECT u, v FROM ed
      UNION
      SELECT r.u, e2.v FROM reach r JOIN ed e2 ON r.v = e2.u),
    mutual AS (
      SELECT a.u, min(a.v) AS mn
      FROM reach a JOIN reach b ON a.u = b.v AND a.v = b.u
      WHERE a.u <> a.v GROUP BY a.u)
    SELECT CAST(nodes.n AS BIGINT) AS entity_id,
           CAST(least(nodes.n, coalesce(m.mn, nodes.n)) AS BIGINT) AS scc_id
    FROM nodes LEFT JOIN mutual m ON nodes.n = m.u
    """,
)
def kg_scc_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components
    (operators/scc.strongly_connected_components — semi-naive closure ⨝
    reversed closure, min-id canonical): directed cycles are what
    undirected CC can't see — a subclass loop or mutual-import knot
    collapses to one canonical entity while weak connectivity would
    merge the whole chain.  The synthetic digraph (15 directed 8-cycles
    chained by forward bridges + 7 sink singletons, 127 nodes, closure
    8 520 pairs, 21 semi-naive rounds) derives from the SF-shared
    o_orderkey<800 prefix, so the result is identical at every SF.
    Integer-only."""
    from .operators.scc import strongly_connected_components

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 800)
    k = o.select(F.pmod("o_orderkey", F.lit(120)).alias("n")).distinct()
    cyc = k.select(
        F.col("n").alias("src_entity"),
        (
            F.expr("(n div 8) * 8") + F.pmod(F.pmod("n", F.lit(8)) + 1, F.lit(8))
        ).alias("dst_entity"),
    )
    bridge = k.filter(F.col("n") + 8 < 120).select(
        F.col("n").alias("src_entity"), (F.col("n") + 8).alias("dst_entity")
    )
    sink = k.select(
        F.col("n").alias("src_entity"),
        (F.lit(120) + F.pmod("n", F.lit(7))).alias("dst_entity"),
    )
    edges = cyc.unionByName(bridge).unionByName(sink).distinct()
    return strongly_connected_components(edges).select(
        F.col("entity_id").cast("long"), F.col("scc_id").cast("long")
    )


@query(
    "corpus_kl_divergence",
    """
    WITH tok AS (
      SELECT d.source, u.w
      FROM documents d, unnest(string_split(d.text, ' ')) u(w)),
    c AS (SELECT w,
                 CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cp,
                 CAST(sum(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS cq
          FROM tok GROUP BY w),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS v,
                   CAST(sum(cp) AS BIGINT) AS np,
                   CAST(sum(cq) AS BIGINT) AS nq FROM c)
    SELECT tot.v AS vocab_size, tot.np AS n_p, tot.nq AS n_q,
           round(sum(((c.cp + 1) / CAST(tot.np + tot.v AS DOUBLE))
                 * ln(((c.cp + 1) / CAST(tot.np + tot.v AS DOUBLE))
                      / ((c.cq + 1) / CAST(tot.nq + tot.v AS DOUBLE)))), 6)
             AS kl_pq,
           round(sum(((c.cq + 1) / CAST(tot.nq + tot.v AS DOUBLE))
                 * ln(((c.cq + 1) / CAST(tot.nq + tot.v AS DOUBLE))
                      / ((c.cp + 1) / CAST(tot.np + tot.v AS DOUBLE)))), 6)
             AS kl_qp
    FROM c, tot
    GROUP BY tot.v, tot.np, tot.nq
    """,
)
def corpus_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift screen: KL divergence between the src0 subcorpus'
    unigram distribution (P) and the rest of the corpus (Q), add-1
    smoothed over the union vocabulary — the standard drift check
    before mixing a new source into a training corpus (the DSIR
    importance-weight denominator, `dsir_importance_weights`, is this
    same ratio per-bucket; here it is aggregated to the corpus-level
    scalar, both directions).  One conditional-agg shuffle on the word
    (both distributions in a single pass — the queries.py:3641 DSIR
    discipline), then a vocab-bounded rollup.  Each term is a pure
    scalar expression of BIGINTs; only the Σ is order-sensitive, so
    6 dp rounding guards summation-order ulp noise."""
    tok = _t(spark, sf_dir, "documents").select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    c = tok.groupBy("w").agg(
        F.sum(F.when(F.col("source") == "src0", 1).otherwise(0))
        .cast("long")
        .alias("cp"),
        F.sum(F.when(F.col("source") != "src0", 1).otherwise(0))
        .cast("long")
        .alias("cq"),
    )
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("v"),
        F.sum("cp").cast("long").alias("np"),
        F.sum("cq").cast("long").alias("nq"),
    )
    j = c.crossJoin(F.broadcast(tot))
    p = (F.col("cp") + 1) / (F.col("np") + F.col("v")).cast("double")
    q = (F.col("cq") + 1) / (F.col("nq") + F.col("v")).cast("double")
    return j.groupBy("v", "np", "nq").agg(
        F.round(F.sum(p * F.log(p / q)), 6).alias("kl_pq"),
        F.round(F.sum(q * F.log(q / p)), 6).alias("kl_qp"),
    ).select(
        F.col("v").alias("vocab_size"),
        F.col("np").alias("n_p"),
        F.col("nq").alias("n_q"),
        "kl_pq",
        "kl_qp",
    )


@query(
    "ppr_seed_entities",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    edges AS (SELECT DISTINCT u, v FROM raw WHERE u <> v),
    nodes AS (SELECT u AS n FROM raw UNION SELECT v AS n FROM raw),
    ns AS (SELECT CAST(count(*) AS DOUBLE) AS cnt FROM nodes
           WHERE CAST(split_part(n, '_', 2) AS INT) < 5),
    base AS (SELECT n, CASE WHEN CAST(split_part(n, '_', 2) AS INT) < 5
                            THEN 1.0 / (SELECT cnt FROM ns)
                            ELSE 0.0 END AS s FROM nodes),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS outdeg FROM edges GROUP BY u),
    r0 AS (SELECT n, s AS pr FROM base),
    d0 AS (SELECT coalesce(sum(pr), 0.0) AS mass
           FROM r0 LEFT JOIN deg ON r0.n = deg.u WHERE deg.u IS NULL),
    c0 AS (SELECT e.v AS n, sum(r.pr / d.outdeg) AS contrib
           FROM edges e JOIN r0 r ON e.u = r.n JOIN deg d ON e.u = d.u
           GROUP BY e.v),
    r1 AS (SELECT base.n, 0.15 * base.s
                  + 0.85 * (coalesce(c0.contrib, 0.0)
                            + (SELECT mass FROM d0) * base.s) AS pr
           FROM base LEFT JOIN c0 ON base.n = c0.n),
    d1 AS (SELECT coalesce(sum(pr), 0.0) AS mass
           FROM r1 LEFT JOIN deg ON r1.n = deg.u WHERE deg.u IS NULL),
    c1 AS (SELECT e.v AS n, sum(r.pr / d.outdeg) AS contrib
           FROM edges e JOIN r1 r ON e.u = r.n JOIN deg d ON e.u = d.u
           GROUP BY e.v),
    r2 AS (SELECT base.n, 0.15 * base.s
                  + 0.85 * (coalesce(c1.contrib, 0.0)
                            + (SELECT mass FROM d1) * base.s) AS pr
           FROM base LEFT JOIN c1 ON base.n = c1.n)
    SELECT n AS entity_id, round(pr, 6) AS ppr_score FROM r2
    """,
)
def ppr_seed_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (operators/pagerank.personalized_pagerank)
    seeded on the low-suffix entities of the shared order graph — rank
    relative to a query entity set, the KG relevance-retrieval
    primitive.  Two fixed iterations so the twin is a closed-form CTE
    chain mirroring the pagerank_entity_rank oracle with the teleport
    vector concentrated on the seeds (and dangling mass returned to
    them).  6-dp rounding absorbs summation-order ulp noise."""
    from .operators.pagerank import personalized_pagerank

    edges = _order_graph_edges(spark, sf_dir)
    nodes = (
        edges.select(F.col("src_entity").alias("node"))
        .union(edges.select(F.col("dst_entity").alias("node")))
        .distinct()
    )
    seeds = nodes.filter(
        F.element_at(F.split(F.col("node"), "_"), 2).cast("int") < 5
    )
    ppr = personalized_pagerank(edges, seeds, iterations=2)
    return ppr.select("entity_id", F.round("rank", 6).alias("ppr_score"))


@query(
    "graph_sssp_costs",
    f"""
    WITH RECURSIVE
    raw AS (
      {_KCORE_RAW_SQL}),
    edges AS (SELECT DISTINCT u, v, 1 + (u * 3 + v * 7) % 9 AS w
              FROM raw WHERE u <> v),
    seeds AS (SELECT u AS n FROM edges WHERE u < 10
              UNION SELECT v FROM edges WHERE v < 10),
    walk AS (
      SELECT n AS node, CAST(0 AS BIGINT) AS dist FROM seeds
      UNION
      SELECT e.v, w.dist + e.w FROM walk w JOIN edges e ON w.node = e.u
      WHERE w.dist + e.w <= 100
    )
    SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node
    """,
)
def graph_sssp_costs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest paths (operators/sssp.weighted_sssp) from the
    sub-10 seed entities over the sparse quadratic-residue graph, with
    deterministic integer edge costs w = 1 + (3u + 7v) mod 9.  The
    engine runs semi-naive Bellman-Ford to FIXPOINT (measured depth 15
    on this graph, identical at every SF); the oracle enumerates every
    walk of cost ≤ 100 by recursive CTE (sound: the true max distance
    is 70, and the UNION dedups (node, cost) states so cycles
    terminate) and takes the per-node MIN.  Integer-only — no ulp
    guard needed."""
    from .operators.sssp import weighted_sssp

    raw = _kcore_graph_edges(spark, sf_dir)
    pairs = (
        raw.filter(F.col("src_entity") != F.col("dst_entity"))
        .select(F.col("src_entity").alias("u"), F.col("dst_entity").alias("v"))
        .distinct()
    )
    e = pairs.select(
        "u", "v", (F.lit(1) + F.pmod(F.col("u") * 3 + F.col("v") * 7, F.lit(9))).alias("w")
    )
    seeds = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .filter(F.col("node") < 10)
        .distinct()
    )
    return weighted_sssp(e, seeds, max_rounds=30)


_TRI_GRAPH_RAW_CTE = """SELECT o_orderkey % 60 AS u, (o_orderkey + 1) % 60 AS v
      FROM orders WHERE o_orderkey < 600
      UNION ALL
      SELECT o_orderkey % 60 AS u, (o_orderkey + 2) % 60 AS v
      FROM orders WHERE o_orderkey < 600
      UNION ALL
      SELECT o_orderkey % 60 AS u, (o_orderkey + 3) % 60 AS v
      FROM orders WHERE o_orderkey < 600 AND o_orderkey % 60 < 30"""


def _tri_graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _TRI_GRAPH_RAW_CTE — a 60-node ring with +1/+2
    chords everywhere and +3 chords on half the ring, so per-node
    triangle counts VARY (5 distinct values; the shared order graph
    and the k-core graph are both triangle-free, which would make a
    clustering gate vacuous)."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 600)
    k = F.col("o_orderkey")
    e1 = o.select(
        F.pmod(k, F.lit(60)).alias("src_entity"),
        F.pmod(k + 1, F.lit(60)).alias("dst_entity"),
    )
    e2 = o.select(
        F.pmod(k, F.lit(60)).alias("src_entity"),
        F.pmod(k + 2, F.lit(60)).alias("dst_entity"),
    )
    e3 = o.filter(F.pmod(k, F.lit(60)) < 30).select(
        F.pmod(k, F.lit(60)).alias("src_entity"),
        F.pmod(k + 3, F.lit(60)).alias("dst_entity"),
    )
    return e1.unionAll(e2).unionAll(e3)


@query(
    "local_clustering_coeff",
    f"""
    WITH raw AS (
      {_TRI_GRAPH_RAW_CTE}),
    nodes AS (SELECT DISTINCT u AS entity_id FROM raw
              UNION SELECT DISTINCT v FROM raw),
    und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
            FROM raw WHERE u <> v),
    sym AS (SELECT a AS u FROM und UNION ALL SELECT b FROM und),
    deg0 AS (SELECT u AS entity_id, CAST(count(*) AS BIGINT) AS degree
             FROM sym GROUP BY 1),
    deg AS (SELECT n.entity_id,
                   CAST(coalesce(d.degree, 0) AS BIGINT) AS degree
            FROM nodes n LEFT JOIN deg0 d ON n.entity_id = d.entity_id),
    tris AS (SELECT p1.a AS x, p1.b AS y, p2.b AS z
             FROM und p1 JOIN und p2 ON p1.b = p2.a
             JOIN und p3 ON p3.a = p1.a AND p3.b = p2.b),
    corners AS (SELECT x AS e FROM tris UNION ALL SELECT y FROM tris
                UNION ALL SELECT z FROM tris),
    t AS (SELECT e, CAST(count(*) AS BIGINT) AS nt FROM corners GROUP BY 1)
    SELECT d.entity_id, d.degree,
           CAST(coalesce(t.nt, 0) AS BIGINT) AS n_triangles,
           round(CASE WHEN d.degree >= 2
                      THEN 2.0 * coalesce(t.nt, 0)
                           / (d.degree * (d.degree - 1))
                      ELSE 0.0 END, 6) AS clustering
    FROM deg d LEFT JOIN t ON d.entity_id = t.e
    """,
)
def local_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node clustering coefficient
    (operators/triangles.local_clustering_coefficient) over the
    deterministic ring-with-chords graph.  The EXECUTED path credits
    each degree-ordered triangle to its three corners (explode +
    count, inheriting the O(m^1.5) hub-safe wedge bound); the oracle
    is the simpler id-ordered triple join.  The integer ratio
    2T/(d(d-1)) is the same double on both engines; 6-dp rounding is
    belt-and-braces."""
    from .operators.triangles import local_clustering_coefficient

    cc = local_clustering_coefficient(_tri_graph_edges(spark, sf_dir))
    return cc.select(
        "entity_id",
        "degree",
        "n_triangles",
        F.round("clustering", 6).alias("clustering"),
    )


@query(
    "graph_assortativity",
    f"""
    WITH raw AS (
      {_TRI_GRAPH_RAW_CTE}),
    und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
            FROM raw WHERE u <> v),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und),
    deg AS (SELECT u AS n, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1)
    SELECT CAST(count(*) / 2 AS BIGINT) AS n_edges,
           round(corr(du.d, dv.d), 6) AS assortativity
    FROM sym JOIN deg du ON sym.u = du.n JOIN deg dv ON sym.v = dv.n
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002 eq. 4): Pearson
    correlation of endpoint degrees over the symmetrized simple edge
    list (each undirected edge contributes both orientations, the
    standard convention).  One scalar describing whether hubs attach
    to hubs — the first mixing diagnostic on a KG entity graph.

    Scale shape: a degree rollup + two dim joins of the edge list
    against the (vocabulary-sized) degree table + one corr() aggregate
    — corr is a single-pass commutative sketch (sums and co-moments),
    so the whole statistic is one map-side-combined pass at 100 TB.
    Pearson r is a ratio, so sample-vs-population variance conventions
    cancel and both engines agree; 6-dp rounding absorbs
    summation-order ulp noise."""
    raw = _tri_graph_edges(spark, sf_dir).select(
        F.col("src_entity").alias("u"), F.col("dst_entity").alias("v")
    ).filter(F.col("u") != F.col("v"))
    und = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("d_v"))
    return (
        sym.join(du, "u")
        .join(dv, "v")
        .agg(
            (F.count(F.lit(1)) / 2).cast("long").alias("n_edges"),
            F.round(F.corr("d_u", "d_v"), 6).alias("assortativity"),
        )
    )


@query(
    "kg_feature_propagation",
    f"""
    WITH raw AS (
      {_TRI_GRAPH_RAW_CTE}),
    nodes AS (SELECT DISTINCT u AS n FROM raw
              UNION SELECT DISTINCT v FROM raw),
    und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
            FROM raw WHERE u <> v),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und),
    x0 AS (SELECT n, CAST(n % 10 + 1 AS BIGINT) AS x FROM nodes),
    agg1 AS (SELECT s.u AS n, sum(x0.x) AS nbr
             FROM sym s JOIN x0 ON s.v = x0.n GROUP BY s.u),
    x1 AS (SELECT x0.n, x0.x + coalesce(agg1.nbr, 0) AS x
           FROM x0 LEFT JOIN agg1 ON x0.n = agg1.n),
    agg2 AS (SELECT s.u AS n, sum(x1.x) AS nbr
             FROM sym s JOIN x1 ON s.v = x1.n GROUP BY s.u),
    x2 AS (SELECT x1.n, x1.x + coalesce(agg2.nbr, 0) AS x
           FROM x1 LEFT JOIN agg2 ON x1.n = agg2.n),
    deg AS (SELECT u AS n, count(*) AS d FROM sym GROUP BY 1)
    SELECT x2.n AS entity_id,
           x0.x AS x0,
           CAST(x2.x AS BIGINT) AS agg2,
           round(x2.x / ((coalesce(deg.d, 0) + 1.0)
                         * (coalesce(deg.d, 0) + 1.0)), 6) AS x2_norm
    FROM x2 JOIN x0 ON x2.n = x0.n LEFT JOIN deg ON x2.n = deg.n
    """,
)
def kg_feature_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop self-inclusive feature aggregation — the SGC/GraphSAGE
    propagation primitive (Wu et al. 2019: k rounds of neighborhood
    aggregation with the nonlinearity dropped, which is exactly k
    rounds of join+groupBy): x_next(v) = x(v) + Σ_{u∈N(v)} x(u)
    over the simple undirected graph, seed feature x0 = id%10+1.

    Per-hop mean-normalization is deferred to ONE final division by
    (deg+1)² so every intermediate stays an exact BIGINT — integer
    sums are summation-order-independent, which keeps both engines
    bit-identical through two propagation rounds (the same trick as
    the harmonic gate's ×12 fixed point).  Scale shape: each round is
    one edge⨝feature equi-join + one map-side-combined rollup — the
    canonical distributed GNN-preprocessing pass; k rounds = k
    shuffles on the edge key, never materializing neighborhoods."""
    raw = _tri_graph_edges(spark, sf_dir).select(
        F.col("src_entity").alias("u"), F.col("dst_entity").alias("v")
    ).filter(F.col("u") != F.col("v"))
    nodes = (
        raw.select(F.col("u").alias("n"))
        .union(raw.select(F.col("v").alias("n")))
        .distinct()
    )
    und = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    x = nodes.select("n", (F.pmod("n", F.lit(10)) + 1).cast("long").alias("x"))
    x0 = x
    for _ in range(2):
        nbr = (
            sym.join(x.withColumnRenamed("n", "v"), "v")
            .groupBy(F.col("u").alias("n"))
            .agg(F.sum("x").alias("nbr"))
        )
        x = x.join(nbr, "n", "left").select(
            "n",
            (F.col("x") + F.coalesce(F.col("nbr"), F.lit(0))).cast("long").alias("x"),
        )
    deg = sym.groupBy(F.col("u").alias("n")).agg(F.count(F.lit(1)).alias("d"))
    dd = F.coalesce(F.col("d"), F.lit(0)) + 1.0
    return (
        x.join(x0.withColumnRenamed("x", "x0"), "n")
        .join(deg, "n", "left")
        .select(
            F.col("n").alias("entity_id"),
            F.col("x0").alias("x0"),
            F.col("x").alias("agg2"),
            F.round(F.col("x") / (dd * dd), 6).alias("x2_norm"),
        )
    )


@query(
    "gnn_neighbor_sampling",
    f"""
    WITH raw AS (
      {_TRI_GRAPH_RAW_CTE}),
    und AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
            FROM raw WHERE u <> v),
    sym AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und),
    keyed AS (SELECT u, v,
                     md5(CAST(u AS VARCHAR) || ':' || CAST(v AS VARCHAR)) AS hk
              FROM sym),
    h1 AS (SELECT u AS seed, v AS node FROM (
             SELECT u, v,
                    row_number() OVER (PARTITION BY u ORDER BY hk, v) AS rn
             FROM keyed WHERE u < 10) WHERE rn <= 3),
    h2 AS (SELECT seed, parent, node FROM (
             SELECT h1.seed, h1.node AS parent, k.v AS node,
                    row_number() OVER (PARTITION BY h1.seed, h1.node
                                       ORDER BY k.hk, k.v) AS rn
             FROM h1 JOIN keyed k ON k.u = h1.node
             WHERE k.v <> h1.seed) WHERE rn <= 2)
    SELECT CAST(seed AS BIGINT) AS seed, CAST(1 AS BIGINT) AS hop,
           CAST(seed AS BIGINT) AS parent, CAST(node AS BIGINT) AS node
    FROM h1
    UNION ALL
    SELECT CAST(seed AS BIGINT), CAST(2 AS BIGINT),
           CAST(parent AS BIGINT), CAST(node AS BIGINT)
    FROM h2
    """,
)
def gnn_neighbor_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style fixed-fanout neighbor-block sampling (Hamilton
    et al. 2017 §3.1): for each seed (nodes < 10), sample 3 hop-1
    neighbors, then 2 hop-2 neighbors per sampled parent (excluding
    the immediate backtrack to the seed) — the mini-batch block a
    distributed GNN trainer materializes per training step.

    Determinism: the "random" neighbor order is md5(u:v) — a fixed
    engine-independent permutation per adjacency list (the stratified-
    sample carve convention), with v as the total-order tie-break, so
    both engines draw identical blocks.  Scale shape: two window-
    ranked passes over the (partitioned-by-source-node) edge list plus
    one equi-join seed-block → neighbors — per-node state is bounded
    by the fanout, never the degree, which is what makes the sample
    (unlike a full 2-hop expansion) safe on power-law graphs."""
    raw = _tri_graph_edges(spark, sf_dir).select(
        F.col("src_entity").alias("u"), F.col("dst_entity").alias("v")
    ).filter(F.col("u") != F.col("v"))
    und = raw.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).distinct()
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    keyed = sym.select(
        "u",
        "v",
        F.md5(
            F.concat_ws(
                ":", F.col("u").cast("string"), F.col("v").cast("string")
            ).cast("binary")
        ).alias("hk"),
    )
    w1 = Window.partitionBy("u").orderBy("hk", "v")
    h1 = (
        keyed.filter(F.col("u") < 10)
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= 3)
        .select(F.col("u").alias("seed"), F.col("v").alias("node"))
    )
    k2 = keyed.select(
        F.col("u").alias("node"), F.col("v").alias("n2"), F.col("hk").alias("hk2")
    )
    w2 = Window.partitionBy("seed", "node").orderBy("hk2", "n2")
    h2 = (
        h1.join(k2, "node")
        .filter(F.col("n2") != F.col("seed"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 2)
        .select("seed", F.col("node").alias("parent"), F.col("n2").alias("node"))
    )
    one = h1.select(
        F.col("seed").cast("long").alias("seed"),
        F.lit(1).cast("long").alias("hop"),
        F.col("seed").cast("long").alias("parent"),
        F.col("node").cast("long").alias("node"),
    )
    two = h2.select(
        F.col("seed").cast("long").alias("seed"),
        F.lit(2).cast("long").alias("hop"),
        F.col("parent").cast("long").alias("parent"),
        F.col("node").cast("long").alias("node"),
    )
    return one.unionAll(two)


@query(
    "kg_hits_scores",
    f"""
    WITH raw AS (
      {_ORDER_GRAPH_RAW_CTE}),
    fwd AS MATERIALIZED (SELECT DISTINCT u, v FROM raw WHERE u <> v),
    nodes AS MATERIALIZED (SELECT u AS n FROM raw UNION SELECT v AS n FROM raw),
    a1u AS (SELECT f.v AS n, CAST(count(*) AS DOUBLE) AS s FROM fwd f GROUP BY f.v),
    a1n AS MATERIALIZED (SELECT nodes.n, coalesce(a1u.s, 0.0) AS s
            FROM nodes LEFT JOIN a1u ON nodes.n = a1u.n),
    a1 AS MATERIALIZED (SELECT n, s / (SELECT sum(s) FROM a1n) AS a FROM a1n),
    h1u AS (SELECT f.u AS n, sum(a1.a) AS s FROM fwd f JOIN a1 ON f.v = a1.n GROUP BY f.u),
    h1n AS MATERIALIZED (SELECT nodes.n, coalesce(h1u.s, 0.0) AS s
            FROM nodes LEFT JOIN h1u ON nodes.n = h1u.n),
    h1 AS MATERIALIZED (SELECT n, s / (SELECT sum(s) FROM h1n) AS h FROM h1n),
    a2u AS (SELECT f.v AS n, sum(h1.h) AS s FROM fwd f JOIN h1 ON f.u = h1.n GROUP BY f.v),
    a2n AS MATERIALIZED (SELECT nodes.n, coalesce(a2u.s, 0.0) AS s
            FROM nodes LEFT JOIN a2u ON nodes.n = a2u.n),
    a2 AS MATERIALIZED (SELECT n, s / (SELECT sum(s) FROM a2n) AS a FROM a2n),
    h2u AS (SELECT f.u AS n, sum(a2.a) AS s FROM fwd f JOIN a2 ON f.v = a2.n GROUP BY f.u),
    h2n AS MATERIALIZED (SELECT nodes.n, coalesce(h2u.s, 0.0) AS s
            FROM nodes LEFT JOIN h2u ON nodes.n = h2u.n),
    h2 AS MATERIALIZED (SELECT n, s / (SELECT sum(s) FROM h2n) AS h FROM h2n)
    SELECT h2.n AS entity_id, round(h2.h, 6) AS hub_score, round(a2.a, 6) AS auth_score
    FROM h2 JOIN a2 ON h2.n = a2.n
    """,
)
def kg_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/hits.hits, Kleinberg 1999)
    over the shared entity graph — two L1-normalized iterations so the
    SQL twin is a closed-form CTE chain (the pagerank gate pattern).
    6-dp rounding both sides absorbs summation-order ulp noise."""
    from .operators.hits import hits

    h = hits(_order_graph_edges(spark, sf_dir), iterations=2)
    return h.select(
        "entity_id",
        F.round("hub_score", 6).alias("hub_score"),
        F.round("auth_score", 6).alias("auth_score"),
    )


# ---------------------------------------------------------------------------
# Tokenizer induction + data selection (training-data pipeline adds).
# bpe_pair_merges = the first merge-step statistic of BPE vocabulary
# training (Sennrich et al. 2016); boilerplate_dup_grams = the
# duplicated-span document flag of Lee et al. 2022 ("Deduplicating
# Training Data Makes Language Models Better"); dsir_importance_weights
# = hashed-n-gram importance weights of Xie et al. 2023 (DSIR).
# ---------------------------------------------------------------------------

@query(
    "bpe_pair_merges",
    """
    WITH words AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)), i -> substr(w, i, 2))) AS pair
      FROM words WHERE len(w) >= 2)
    SELECT pair, CAST(count(*) AS BIGINT) AS pair_count
    FROM pairs GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 20
    """,
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent character pairs by corpus frequency — the
    statistic a BPE tokenizer trainer computes to pick each merge
    (Sennrich et al. 2016).  One map-side-combined shuffle on the pair;
    the pair space is bounded by charset² (36² here), so the aggregate
    state is constant-size regardless of corpus bytes — the per-merge
    cost of distributed BPE training at 100 TB is one such pass."""
    d = _spread(spark, sf_dir, "documents")
    words = d.select(
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "pair")
        .limit(20)
    )


def _bpe_unrolled_sql(k: int) -> str:
    """DuckDB twin of operators/bpe.bpe_train: the k-round training
    loop unrolled, one (counts, best, re-segmented words) CTE triple
    per merge level.  AS MATERIALIZED per level — without it DuckDB
    inlines each level into every consumer and the plan grows
    exponentially in k (see the kcore/closure oracles)."""
    parts = [
        """
    WITH w0 AS MATERIALIZED (
      SELECT '  ' || array_to_string(regexp_extract_all(w, '.'), '  ')
                  || '  ' AS s,
             count(*) AS freq
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
            FROM documents)
      WHERE len(w) >= 2 GROUP BY 1)"""
    ]
    selects = []
    for r in range(1, k + 1):
        prev = f"w{r - 1}"
        parts.append(
            f"""
    c{r} AS MATERIALIZED (
      SELECT p AS pair, sum(freq) AS cnt FROM (
        SELECT unnest(list_transform(range(1, len(sy)),
                      i -> sy[i] || ' ' || sy[i + 1])) AS p, freq
        FROM (SELECT string_split(trim({prev}.s), '  ') AS sy, freq
              FROM {prev}))
      GROUP BY 1),
    b{r} AS MATERIALIZED (
      SELECT pair, cnt FROM c{r} ORDER BY cnt DESC, pair LIMIT 1),
    w{r} AS MATERIALIZED (
      SELECT replace(s, ' ' || replace((SELECT pair FROM b{r}), ' ', '  ')
                          || ' ',
                        ' ' || replace((SELECT pair FROM b{r}), ' ', '')
                          || ' ') AS s,
             freq
      FROM {prev})"""
        )
        selects.append(
            f"""
      SELECT {r} AS merge_rank,
             split_part(pair, ' ', 1) AS lhs,
             split_part(pair, ' ', 2) AS rhs,
             replace(pair, ' ', '') AS merged,
             CAST(cnt AS BIGINT) AS pair_count
      FROM b{r}"""
        )
    return (
        ",".join(parts)
        + "\n    SELECT * FROM ("
        + " UNION ALL ".join(selects)
        + ") ORDER BY merge_rank"
    )


@query("bpe_train_merges", _bpe_unrolled_sql(8))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative BPE training (operators/bpe.bpe_train): 8 merge rounds
    over the documents corpus — pair counting, deterministic argmax,
    greedy merge application, repeat.  bpe_pair_merges is one round's
    statistic; this is the tokenizer-training loop itself.  The DuckDB
    twin unrolls the 8 levels as materialized CTEs; both engines apply
    merges through the same double-space replace primitive, so merge
    sequences match exactly (equivalence vs a driver-side reference
    implementation is pinned in tests/test_bpe.py)."""
    from .operators.bpe import bpe_train

    return bpe_train(_spread(spark, sf_dir, "documents"), k=8)


def _bpe_encode_sql(k: int) -> str:
    """DuckDB twin of operators/bpe.bpe_encode_counts: the k unrolled
    training levels (same CTEs as _bpe_unrolled_sql), then the final
    vocabulary's segmentation joined back per document."""
    train = _bpe_unrolled_sql(k)
    with_body = train[: train.rindex("\n    SELECT * FROM (")]
    return (
        with_body
        + f""",
    seg AS MATERIALIZED (
      SELECT replace(s, ' ', '') AS w,
             len(string_split(trim(s), '  ')) AS n_sub
      FROM w{k}),
    toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
      FROM documents),
    cnt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(coalesce(seg.n_sub, 1)) AS BIGINT) AS n_subwords
      FROM toks LEFT JOIN seg USING (w) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(cnt.n_words, 0) AS BIGINT) AS n_words,
           CAST(coalesce(cnt.n_subwords, 0) AS BIGINT) AS n_subwords
    FROM documents d LEFT JOIN cnt USING (doc_id)"""
    )


@query("bpe_encode_tokens", _bpe_encode_sql(8))
def bpe_encode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION (operators/bpe.bpe_encode_counts): train 8
    BPE merges, segment the word-type vocabulary with the same
    double-space replace primitive, join the segmentation back per
    document, and emit (n_words, n_subwords).  Completes the
    train→encode tokenizer story started by bpe_train_merges; the
    corpus is tokenized once and shuffles only on the word column."""
    from .operators.bpe import bpe_encode_counts

    return bpe_encode_counts(
        _spread(spark, sf_dir, "documents"), k=8
    )


@query(
    "boilerplate_dup_grams",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - 6),
                                   i -> array_to_string(t[i:i+7], ' '))) AS gram
      FROM toks WHERE len(t) >= 8),
    c AS (SELECT gram, count(*) AS gn FROM g GROUP BY gram)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN c.gn >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           (5 * sum(CASE WHEN c.gn >= 2 THEN 1 ELSE 0 END) <= count(*)) AS keep
    FROM g JOIN c ON g.gram = c.gram
    GROUP BY g.doc_id
    """,
)
def boilerplate_dup_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span flags (Lee et al. 2022): the fraction of a
    document's word 8-grams that occur ≥2 times corpus-wide; keep iff
    dup fraction ≤ 20%.  The keep rule is the INTEGER comparison
    5·n_dup ≤ n_grams, so the gate is float-free.  Scale shape: grams
    are xxhash64-narrowed to 8 bytes BEFORE the shuffle (the counts
    and the join-back never move the ~50-char strings; in-corpus
    collision odds ~1e-13 at 1e6 grams), one count aggregate + one
    equi-join back — never doc×doc; at 100 TB this is the same
    two-pass profile as contamination_overlap, with the gram
    dictionary AQE-partitioned."""
    d = _spread(spark, sf_dir, "documents")
    # r06: tokens materialized in their own projection — the old inline
    # form re-ran the regexp per gram inside the Generate lambda.  The
    # gram is hashed as one 8-argument xxhash64 over the token columns
    # (injective exactly like hashing the joined string, without the
    # per-gram slice+join allocations), and the corpus-wide gram count
    # attaches via a window over the SAME gram shuffle instead of a
    # count aggregate + join-back — one pass, no checkpoint (measured
    # 3.19 s → ~1.4 s at sf1.0).
    dt = d.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0).alias("tk"),
    )
    grams = F.when(
        F.size("tk") >= 8,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 7),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("tk"), i + F.lit(j)) for j in range(8)]
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    g = dt.select("doc_id", F.explode(grams).alias("gram"))
    gn = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    dup = F.sum(F.when(F.col("gn") >= 2, 1).otherwise(0))
    return (
        g.withColumn("gn", gn)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            dup.cast("long").alias("n_dup"),
            (F.lit(5) * dup <= F.count(F.lit(1))).alias("keep"),
        )
    )


@query(
    "exact_substr_removal",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    p AS (
      SELECT doc_id, unnest(range(1, len(t) + 1)) AS pos, unnest(t) AS tok
      FROM toks),
    g AS (
      SELECT doc_id, r['p'] AS pos, r['g'] AS gram FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(t) - 6),
                      i -> {'p': i, 'g': array_to_string(t[i:i+7], ' ')})) AS r
        FROM toks WHERE len(t) >= 8)),
    c AS (SELECT gram, count(*) AS gn FROM g GROUP BY gram),
    ds AS (SELECT g.doc_id, g.pos FROM g JOIN c ON g.gram = c.gram
           WHERE c.gn >= 2),
    m AS (
      SELECT p.doc_id, p.pos, p.tok,
             max(CASE WHEN ds.pos IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY p.doc_id ORDER BY p.pos
                     ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 1 AS covered
      FROM p LEFT JOIN ds ON p.doc_id = ds.doc_id AND p.pos = ds.pos),
    k AS (
      SELECT doc_id,
             coalesce(string_agg(tok, ' ' ORDER BY pos)
                      FILTER (WHERE NOT covered), '') AS clean_text,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(CASE WHEN covered THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
      FROM m GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(k.clean_text, '') AS clean_text,
           CAST(coalesce(k.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(coalesce(k.n_removed, 0) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN k ON d.doc_id = k.doc_id
    """,
)
def exact_substr_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span removal (Lee et al. 2022; operators/dedup.
    exact_substr_dedup): every word 8-gram occurring ≥2 times
    corpus-wide marks its covered token positions; documents are
    re-emitted with those tokens excised.  The companion flagging pass
    is boilerplate_dup_grams (same tokenizer, same gram length).  The
    DuckDB twin groups STRING grams where Spark groups their xxhash64
    narrowings — counts agree because the hash is injective at corpus
    scale (collision odds ~1e-13), the same contract the dup-grams
    oracle relies on.  Scale shape: linear in corpus tokens (one 8-byte
    count shuffle, one join-back, one per-doc streaming window), never
    doc×doc."""
    from .operators.dedup import exact_substr_dedup

    return exact_substr_dedup(
        _spread(spark, sf_dir, "documents"), min_len=8
    )


@query(
    "dsir_importance_weights",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents),
    b AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(range(1, len(tok) + 1),
                                        i -> ascii(substr(tok, i, 1))),
                         (acc, x) -> (acc * 31 + x) % 1000003) % 64 AS bucket
      FROM toks),
    tgt AS (SELECT bucket, count(*) AS tc FROM b WHERE lang = 'en' GROUP BY bucket),
    rawc AS (SELECT bucket, count(*) AS rc FROM b GROUP BY bucket),
    lr AS (
      SELECT r.bucket,
             ln((coalesce(t.tc, 0) + 1.0)
                / ((SELECT coalesce(sum(tc), 0) FROM tgt) + 64.0))
           - ln((r.rc + 1.0) / ((SELECT sum(rc) FROM rawc) + 64.0)) AS w
      FROM rawc r LEFT JOIN tgt t ON r.bucket = t.bucket)
    SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           round(sum(lr.w), 6) AS dsir_logratio
    FROM b JOIN lr ON b.bucket = lr.bucket
    GROUP BY b.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): per-document importance
    log-ratio between a target distribution (lang='en' docs) and the
    raw corpus, over 64 hashed unigram-feature buckets (polynomial
    char fold mod 1000003 — expressible identically in both engines;
    DuckDB's init-less list_reduce folds the same values because
    0·31 + first = first).  Add-1 smoothing both sides.  Scale shape:
    two 64-row bucket tables (bounded by CONSTRUCTION, so the
    broadcast hint is justified — unlike the vocab-sized dims AQE now
    sizes), one broadcast join back, one per-doc aggregate; the corpus
    is scanned twice and never shuffled on a wide key."""
    d = _spread(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
        ).alias("tok"),
    )
    codes = F.transform(
        F.sequence(F.lit(1), F.length("tok")),
        lambda i: F.ascii(F.substring(F.col("tok"), i, F.lit(1))),
    )
    bucket = F.pmod(
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(acc * 31 + c, F.lit(1000003)),
        ),
        F.lit(64),
    )
    # r06: checkpointed — the bucket column (an interpreted per-token
    # char fold) feeds BOTH the count aggregate and the weight
    # join-back, and re-deriving it repaid the tokenize + fold per
    # consumer (measured ~2.3-4 s → ~1.4 s at sf1.0; rows are three
    # narrow columns per token)
    b = toks.select("doc_id", "lang", bucket.alias("bucket")).localCheckpoint()
    # ONE conditional aggregation produces both distributions (buckets
    # in target are a subset of raw, so tc=0 rows fall out naturally) —
    # the corpus is tokenized twice total: once here, once in the
    # weight join below
    counts = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tc"),
    )
    totals = counts.agg(
        F.sum("rc").alias("rt"), F.sum("tc").alias("tt")
    )
    lr = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("tc") + F.lit(1.0)) / (F.col("tt") + F.lit(64.0)))
                - F.log((F.col("rc") + F.lit(1.0)) / (F.col("rt") + F.lit(64.0)))
            ).alias("w"),
        )
    )
    return (
        b.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.sum("w"), 6).alias("dsir_logratio"),
        )
    )


@query(
    "quality_classifier_scores",
    """
    WITH toks AS (
      SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents),
    bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i + 1])) AS f
      FROM toks WHERE len(t) >= 2),
    b AS (
      SELECT doc_id, lang,
             list_reduce(list_transform(range(1, len(f) + 1),
                                        i -> ascii(substr(f, i, 1))),
                         (acc, x) -> (acc * 31 + x) % 1000003) % 64 AS bucket
      FROM bg),
    counts AS (
      SELECT bucket, count(*) AS rc,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tc
      FROM b GROUP BY bucket),
    tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM counts),
    w AS (
      SELECT bucket,
             ln((tc + 1.0) / (tt + 64.0)) - ln((rc + 1.0) / (rt + 64.0)) AS w
      FROM counts, tot),
    s AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
             sum(w.w) / count(*) AS m
      FROM b JOIN w USING (bucket) GROUP BY b.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n_feats, 0) AS BIGINT) AS n_feats,
           round(1.0 / (1.0 + exp(-s.m)), 6) AS quality_score,
           coalesce(s.m >= 0, FALSE) AS keep
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
    """,
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier (Joulin et al. 2017,
    "Bag of Tricks for Efficient Text Classification"): hashed
    word-BIGRAM features → 64 buckets, one weight per bucket, document
    score = sigmoid(mean bucket weight), keep iff the mean logit ≥ 0.
    The weight table here is the naive-Bayes log-odds of each bucket
    under the lang='en' target vs the raw corpus (the DSIR
    distributions, dsir_importance_weights, lifted from unigrams to
    bigrams) — in production the 64-row table would be swapped for
    offline-trained fastText weights; the SCORING plan is identical.

    Scale shape (the DSIR pattern): two bounded 64-row tables built in
    ONE conditional aggregation, broadcast back, one per-doc aggregate;
    the corpus shuffles only on the 8-byte-bounded bucket ids, never on
    text.  Docs with <2 tokens have no bigram features: NULL score,
    keep=false, kept total via the documents left join."""
    d = _spread(spark, sf_dir, "documents")
    # r06: tokenize into a MATERIALIZED column first — the old inline
    # form put the regexp inside the generator's element_at lambda, so
    # the Generate re-evaluated regexp_extract_all per bigram (measured
    # 5.0 s for the explode alone at sf1.0); against the `tk` attribute
    # the same explode is sub-second.  feats is then localCheckpointed:
    # it feeds the dictionary, the count pass and the scoring pass.
    tk = F.regexp_extract_all(F.lower("text"), F.lit("[a-z0-9]+"), 0)
    d2 = d.select("doc_id", "lang", tk.alias("tk"))
    bigrams = F.when(
        F.size("tk") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.concat(
                F.element_at(F.col("tk"), i), F.lit(" "), F.element_at(F.col("tk"), i + 1)
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    feats = d2.select("doc_id", "lang", F.explode(bigrams).alias("f")).localCheckpoint()
    codes = F.transform(
        F.sequence(F.lit(1), F.length("f")),
        lambda i: F.ascii(F.substring(F.col("f"), i, F.lit(1))),
    )
    bucket = F.pmod(
        F.aggregate(
            codes,
            F.lit(0).cast("long"),
            lambda acc, c: F.pmod(acc * 31 + c, F.lit(1000003)),
        ),
        F.lit(64),
    )
    # r06: the interpreted per-character fold runs once per DISTINCT
    # bigram (vocabulary-sized) instead of once per occurrence
    # (corpus-sized, ~10-50x more) — identical bucket values joined
    # back on the bigram string; the dictionary comes out of a shuffle,
    # so AQE sizes the join from its ACTUAL bytes (broadcast here,
    # shuffle on an unbounded web vocabulary) — the same no-pinned-
    # broadcast discipline as the cb/cl dims (guide §4.1, §3.1).
    fb = feats.select("f").distinct().select("f", bucket.alias("bucket"))
    # r06: checkpointed — the bucketed rows feed BOTH the count pass
    # and the scoring pass, and re-deriving them repaid the dictionary
    # join per consumer (the dsir fix; three narrow columns per feature)
    b = feats.join(fb, "f").select(
        "doc_id", "lang", "bucket"
    ).localCheckpoint()
    counts = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("tc"),
    )
    totals = counts.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    w = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                F.log((F.col("tc") + F.lit(1.0)) / (F.col("tt") + F.lit(64.0)))
                - F.log((F.col("rc") + F.lit(1.0)) / (F.col("rt") + F.lit(64.0)))
            ).alias("w"),
        )
    )
    scored = (
        b.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            (F.sum("w") / F.count(F.lit(1))).alias("m"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            F.round(
                F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("m"))), 6
            ).alias("quality_score"),
            F.coalesce(F.col("m") >= 0, F.lit(False)).alias("keep"),
        )
    )


def _walks_unrolled_sql(length: int) -> str:
    """DuckDB twin of operators/walks.deterministic_walks on the
    sparse numeric k-core graph: id-sorted ranked neighbors, next hop
    = (start·31 + cur·7 + step) mod outdeg.  MATERIALIZED per level
    for the same CTE-inlining reason as the k-core peel."""
    parts = [
        f"raw AS ({_KCORE_RAW_SQL})",
        "fwd AS MATERIALIZED (SELECT DISTINCT u, v FROM raw WHERE u <> v)",
        "ranked AS MATERIALIZED (SELECT u, v,"
        " row_number() OVER (PARTITION BY u ORDER BY v) - 1 AS idx,"
        " count(*) OVER (PARTITION BY u) AS deg FROM fwd)",
        "w0 AS MATERIALIZED (SELECT DISTINCT u AS start, u AS cur, 0 AS step FROM fwd)",
    ]
    for s in range(1, length + 1):
        parts.append(
            f"w{s} AS MATERIALIZED (SELECT w.start, r.v AS cur, {s} AS step "
            f"FROM w{s-1} w JOIN ranked r ON w.cur = r.u "
            f"WHERE r.idx = (w.start * 31 + r.u * 7 + {s}) % r.deg)"
        )
    union = " UNION ALL ".join(
        f"SELECT * FROM w{s}" for s in range(0, length + 1)
    )
    return (
        "WITH " + ",\n    ".join(parts) + f"""
    SELECT start AS start_node, CAST(step AS BIGINT) AS step, cur AS node
    FROM ({union})
    """
    )


@query("kg_random_walks", _walks_unrolled_sql(3))
def kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic length-3 walk corpus over the sparse entity graph
    (operators/walks.deterministic_walks) — the DeepWalk sentence
    generator, hash-driven instead of RNG so both engines emit the
    IDENTICAL corpus.  Integer-only, no ulp guard."""
    from .operators.walks import deterministic_walks

    return deterministic_walks(_kcore_graph_edges(spark, sf_dir), length=3)


@query(
    "deepwalk_skipgram_pairs",
    f"""
    WITH w AS ({_walks_unrolled_sql(3)}),
    pairs AS (
      SELECT a.node AS center, b.node AS context
      FROM w a JOIN w b
        ON a.start_node = b.start_node
       AND abs(a.step - b.step) BETWEEN 1 AND 2)
    SELECT center, context, CAST(count(*) AS BIGINT) AS n
    FROM pairs GROUP BY center, context
    """,
)
def deepwalk_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) training-pair extraction from the
    deterministic walk corpus — the step between DeepWalk sentence
    generation (`kg_random_walks`) and word2vec-style embedding
    training (Perozzi et al. 2014 §4.2; window = 2): every ordered
    pair of walk positions within distance 2 becomes a training
    example, aggregated to (center, context, count).

    Integer-only (deterministic walks, exact counts).  Scale shape:
    walks self-join on the walk id — walks are length-bounded (≤4
    rows each), so the join fans out ≤ 2·window·length per walk, and
    the pair rollup map-side-combines into vocabulary²-bounded state;
    at 100 TB this is one shuffle on walk id + one on the pair key,
    the canonical embedding-corpus preprocessing pass."""
    from .operators.walks import deterministic_walks

    w = deterministic_walks(_kcore_graph_edges(spark, sf_dir), length=3)
    a = w.select(
        F.col("start_node").alias("sid"),
        F.col("step").alias("sa"),
        F.col("node").alias("center"),
    )
    b = w.select(
        F.col("start_node").alias("sid"),
        F.col("step").alias("sb"),
        F.col("node").alias("context"),
    )
    pairs = a.join(b, "sid").filter(
        F.abs(F.col("sa") - F.col("sb")).between(1, 2)
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@query(
    "sketch_distinct_users",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           TRUE AS sketch_ok
    FROM events GROUP BY event_type
    """,
)
def sketch_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-user sketch per event type, MEASURED
    against the exact count in the gate (the recall-gate discipline:
    sketch_ok is computed, not claimed).  At 100 TB the sketch is the
    only viable per-key cardinality path — constant-size mergeable
    state, one map-side-combined shuffle — while countDistinct
    double-shuffles the raw key space; the gate pins the wiring and
    the ≤5% error contract at rsd=0.02."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_exact"),
            F.approx_count_distinct("user_id", 0.02).alias("n_approx"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact"))
                <= F.lit(0.05) * F.col("n_exact")
            ).alias("sketch_ok"),
        )
    )


@query(
    "sketch_percentile_value",
    """
    SELECT event_type, round(quantile_cont(value, 0.95), 6) AS p95_exact,
           TRUE AS sketch_ok
    FROM events GROUP BY event_type
    """,
)
def sketch_percentile_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-style quantile sketch gate: percentile_approx MEASURED
    against the exact interpolated percentile per event type (±2%).
    The exact percentile buffers every value per group — the sketch is
    the only bounded-state path at 100 TB; both engines use the same
    (n−1)·p continuous interpolation so p95_exact hashes match."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.95)").alias("p95e"),
            F.percentile_approx("value", 0.95, 10000).alias("p95a"),
        )
        .select(
            "event_type",
            F.round("p95e", 6).alias("p95_exact"),
            (
                # +1e-9 absolute floor: a group whose exact p95 is 0
                # would otherwise demand exact equality of the sketch
                F.abs(F.col("p95a") - F.col("p95e"))
                <= F.lit(0.02) * F.abs(F.col("p95e")) + F.lit(1e-9)
            ).alias("sketch_ok"),
        )
    )


@query(
    "sketch_frequent_items",
    """
    WITH c AS (SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type),
    t AS (SELECT count(*) AS n FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_frequent, TRUE AS all_found
    FROM c, t WHERE c.cnt > 0.1 * t.n
    """,
)
def sketch_frequent_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries-style heavy-hitters gate: DataFrame.stat.freqItems
    (single-pass, bounded state) must contain every item whose
    frequency is STRICTLY above the 0.1 support — the exact superset
    contract the sketch guarantees (boundary items at exactly
    support·n are outside it, hence the strict > on both sides) —
    measured by joining the approx result against the exact frequent
    set, never claimed.  bool_and over an empty frequent set is NULL,
    coalesced to the contract's vacuous TRUE to match the oracle."""
    ev = _t(spark, sf_dir, "events")
    exact = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(ev.agg(F.count(F.lit(1)).alias("n")))
        .filter(F.col("cnt") > F.lit(0.1) * F.col("n"))
        .select("event_type")
    )
    fi = ev.stat.freqItems(["event_type"], 0.1)
    hits = exact.crossJoin(F.broadcast(fi)).select(
        F.array_contains(F.col("event_type_freqItems"), F.col("event_type")).alias(
            "hit"
        )
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_frequent"),
        F.coalesce(F.expr("bool_and(hit)"), F.lit(True)).alias("all_found"),
    )


@query(
    "kg_ancestor_closure",
    """
    WITH RECURSIVE nodes AS (
      SELECT DISTINCT (o_orderkey * o_orderkey + 1) % 149 AS n
      FROM orders WHERE o_orderkey < 700),
    e AS (SELECT n AS u, (n - 1) // 3 AS v FROM nodes WHERE n >= 1),
    tc AS (
      SELECT u, v FROM e
      UNION
      SELECT tc.u, e.v FROM tc JOIN e ON tc.v = e.u
    )
    SELECT u AS src_entity, v AS dst_entity FROM tc
    """,
)
def kg_ancestor_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full ancestor closure of a deterministic entity hierarchy
    (operators/closure.transitive_closure, semi-naive datalog TC):
    every (node, ancestor) pair at ANY depth — the subclass/part-of
    expansion the fixed-depth 3-hop chain can't express.  The engine
    loops frontier ⨝ base with per-round localCheckpoint; the oracle
    is DuckDB's recursive CTE.  Integer-only."""
    from .operators.closure import transitive_closure

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 700)
    n = F.pmod(F.col("o_orderkey") * F.col("o_orderkey") + 1, F.lit(149))
    nodes = o.select(n.alias("n")).distinct().filter(F.col("n") >= 1)
    edges = nodes.select(
        F.col("n").alias("src_entity"),
        F.expr("(n - 1) div 3").cast("long").alias("dst_entity"),
    )
    return transitive_closure(edges)


@query(
    "scd2_user_status",
    """
    WITH x AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events),
    c AS (SELECT * FROM x WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_type,
           CAST(ts_us AS BIGINT) AS valid_from_us,
           CAST(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
                AS BIGINT) AS valid_to_us
    FROM c
    """,
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build (Kimball slowly-changing type 2): collapse
    each user's event stream into status-change intervals — keep only
    rows whose event_type differs from the previous one, then
    valid_to = next change's timestamp (NULL = current).  Two window
    passes over the SAME (user_id-ordered) partitioning, so Spark
    reuses one shuffle for both; epoch-µs BIGINT endpoints avoid
    cross-engine timestamp formatting entirely."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    marked = e.select(
        "user_id",
        "event_id",
        "event_type",
        us.alias("ts_us"),
        F.lag("event_type").over(w).alias("prev"),
    )
    changes = marked.filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        F.col("ts_us").cast("long").alias("valid_from_us"),
        F.lead("ts_us").over(w2).cast("long").alias("valid_to_us"),
    )


@query(
    "decayed_user_scores",
    """
    WITH m AS (SELECT max(epoch_us(ts)) AS ref FROM events),
    s AS (
      SELECT user_id,
             sum(value * exp(-CAST(m.ref - epoch_us(ts) AS DOUBLE)
                             / 604800000000.0)) AS dec
      FROM events, m GROUP BY user_id)
    SELECT user_id, round(dec, 6) AS decayed_score
    FROM s ORDER BY round(dec, 6) DESC, user_id LIMIT 50
    """,
)
def decayed_user_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score (7-day time
    constant, anchored to the corpus max timestamp so both engines and
    any rerun agree) — the standard recency-weighted rollup a feature
    store materializes.  One scalar max + one map-side-combined
    groupBy; ranked on the ROUNDED score with a user tie-break
    (ulp-safe, the tfidf pattern)."""
    e = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ref = e.agg(F.max(us).alias("ref"))
    dec = F.sum(
        F.col("value")
        * F.exp(-(F.col("ref") - us).cast("double") / F.lit(604800000000.0))
    )
    return (
        e.crossJoin(F.broadcast(ref))
        .groupBy("user_id")
        .agg(F.round(dec, 6).alias("decayed_score"))
        .orderBy(F.desc("decayed_score"), "user_id")
        .limit(50)
    )


@query(
    "funnel_view_click_purchase",
    """
    WITH f AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
             min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
      FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click,
           CAST(sum(CASE WHEN t_view < t_click AND t_click < t_buy THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted
    FROM f
    """,
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion (view → click → purchase, strict
    first-occurrence ordering): ONE conditional-min aggregation per
    user builds the whole funnel — no self-joins, no window sort, one
    map-side-combined shuffle on user_id at any event volume.  NULL
    comparisons are three-valued on both engines, so missing stages
    drop out of later counts identically."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def first(kind: str):
        return F.min(F.when(F.col("event_type") == kind, us))

    f = ev.groupBy("user_id").agg(
        first("view").alias("t_view"),
        first("click").alias("t_click"),
        first("purchase").alias("t_buy"),
    )
    return f.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_view"),
        F.sum(F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0))
        .cast("long")
        .alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_buy")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_converted"),
    )


@query(
    "retention_weekly_cohorts",
    """
    WITH w AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / 604800000000.0) AS BIGINT) AS week
      FROM events),
    first_w AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id)
    SELECT f.cohort, CAST(w.week - f.cohort AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM w JOIN first_w f ON w.user_id = f.user_id
    GROUP BY f.cohort, week_offset
    """,
)
def retention_weekly_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users keyed by first-active
    week, counted at each later week offset — the standard growth
    rollup.  Two user_id-keyed aggregations and one equi-join (AQE
    sizes it; the distinct-week frame is per-user-week, orders of
    magnitude smaller than raw events); epoch-week integer arithmetic
    matches both engines exactly."""
    ev = _t(spark, sf_dir, "events")
    week = F.floor(
        F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(604800000000.0)
    ).cast("long")
    w = ev.select("user_id", week.alias("week")).distinct()
    first_w = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        w.join(first_w, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("week_offset"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )


@query(
    "table_profile_events",
    """
    SELECT 'event_type' AS col_name,
           CAST(count(*) - count(event_type) AS BIGINT) AS n_null,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_distinct
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(count(*) - count(user_id) AS BIGINT),
           CAST(count(DISTINCT user_id) AS BIGINT) FROM events
    UNION ALL
    SELECT 'value', CAST(count(*) - count(value) AS BIGINT),
           CAST(count(DISTINCT value) AS BIGINT) FROM events
    """,
)
def table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-profiling rollup (per-column null + distinct counts), an
    ANALYZE TABLE analog.  ONE aggregation computes every column's metrics
    (count-ignores-null + count distinct), then a 3-row unpivot; the
    oracle's UNION ALL of per-column scans is the naive contract.  At
    100 TB this is the single-pass profile a planner or data-quality
    monitor consumes."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            x
            for c in ("event_type", "user_id", "value")
            for x in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ],
    )
    return agg.select(
        F.expr(
            "stack(3, "
            "'event_type', n - nn_event_type, nd_event_type, "
            "'user_id',    n - nn_user_id,    nd_user_id, "
            "'value',      n - nn_value,      nd_value) "
            "AS (col_name, n_null, n_distinct)"
        )
    ).select(
        "col_name",
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
    )


@query(
    "stratified_sample_deterministic",
    """
    SELECT doc_id, source FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34'
    """,
)
def stratified_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~20% corpus sample (train-subset carving) by md5
    of the stable key — reproducible on any cluster layout and in any
    engine, unlike rand()-based sampleBy.  Hex-prefix '34' keeps
    0x00-0x33 of the first byte = 52/256 ≈ 20.3%; md5 hex compares
    identically as string and integer.  Narrow map, no shuffle."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
    return d.filter(bucket < "34").select("doc_id", "source")


@query(
    "weighted_sample_aes",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars AS w,
             ln( (((doc_id % 9999991) * 2654435761) % 1000003 + 0.5)
                 / 1000003.0 )
             / greatest(n_chars, 1) AS aes_key
      FROM documents)
    SELECT doc_id, source, CAST(w AS BIGINT) AS w, round(aes_key, 9) AS aes_key
    FROM keyed ORDER BY aes_key DESC, doc_id LIMIT 200
    """,
)
def weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement by exponential races —
    the A-ES one-pass distributed algorithm (Efraimidis & Spirakis
    2006): each item gets key = u^(1/w) for u ~ U(0,1), and the global
    top-k keys ARE an exact weighted sample.  Ranking on ln(u)/w
    (monotone in u^(1/w), no pow) with weight = n_chars; u is the
    overflow-safe pre-mod Knuth hash of doc_id (the corpus_mix
    pattern), so the sample is deterministic and engine-independent —
    reproducible training-subset carving, unlike rand()-based sampleBy.

    Scale shape: one narrow map over the scan + global top-k — Spark
    plans orderBy().limit(k) as TakeOrderedAndProject (per-partition
    k-heaps + a k-row driver merge), so NO full sort shuffle ever
    happens; at 100 TB the only cross-node traffic is k rows per
    partition.  doc_id breaks exact key ties; keys differ at ~1e-9+
    granularity so cross-engine libm ulp noise cannot reorder."""
    d = _t(spark, sf_dir, "documents")
    u = (
        (F.pmod("doc_id", F.lit(9999991)) * F.lit(2654435761)) % F.lit(1000003)
        + 0.5
    ) / 1000003.0
    key = F.log(u) / F.greatest(F.col("n_chars"), F.lit(1))
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("w"),
            key.alias("aes_key"),
        )
        .orderBy(F.desc("aes_key"), "doc_id")
        .limit(200)
        .select("doc_id", "source", "w", F.round("aes_key", 9).alias("aes_key"))
    )


@query(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    pairs AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE prev_type IS NOT NULL GROUP BY prev_type, next_type)
    SELECT prev_type, next_type, n,
           round(n / CAST(sum(n) OVER (PARTITION BY prev_type) AS DOUBLE), 6)
             AS p
    FROM pairs
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: count (prev → next) event-type bigrams and the
    row-conditional probability P(next | prev) — the journey model
    behind funnel diagnostics and next-event prediction baselines.
    Sequence order is (ts, event_id), the sessionize gate's total
    order, so lag() is deterministic in both engines; p is an exact
    BIGINT ratio so the 6-dp rounding has no summation noise.

    Scale shape: one shuffle on user_id for the lag window (the same
    partitioning the sessionize/funnel gates reuse), then a
    |event-types|²-bounded rollup — constant-size state at 100 TB —
    and a window over that constant-size matrix."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp).cast("double"), 6).alias("p"),
    )


@query(
    "shard_assignment",
    """
    WITH sharded AS (
      SELECT doc_id, n_chars,
             ((doc_id % 9999991) * 2654435761) % 16 AS shard
      FROM documents),
    per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars
      FROM sharded GROUP BY shard)
    SELECT CAST(shard AS BIGINT) AS shard, n_docs, sum_chars,
           round(n_docs / (sum(n_docs) OVER () / 16.0), 4) AS balance
    FROM per
    """,
)
def shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit: each
    document hashes to one of 16 output shards via the overflow-safe
    pre-mod Knuth multiplier (the corpus_mix/weighted-sample hash, so
    the shard layout is reproducible across engines and runs — the
    property a resumable tokenize-and-pack job needs), and the gate
    reports per-shard doc/char totals plus the balance ratio
    n_docs/(N/16), the skew alarm a shard writer checks before
    launching 16 equal-sized downstream tasks.

    Scale shape: one map-side-combined 16-group rollup over the scan
    and a 16-row window — the audit is free; the assignment column is
    the same expression `df.write.partitionBy`/repartition(16, col)
    would consume, so the gate pins exactly what the writer ships."""
    d = _t(spark, sf_dir, "documents")
    shard = (F.pmod("doc_id", F.lit(9999991)) * F.lit(2654435761)) % F.lit(16)
    per = (
        d.select(shard.alias("shard"), "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return per.select(
        F.col("shard").cast("long").alias("shard"),
        "n_docs",
        "sum_chars",
        F.round(
            F.col("n_docs") / (F.sum("n_docs").over(Window.partitionBy()) / 16.0),
            4,
        ).alias("balance"),
    )


def _contamination_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, is_eval, s=distinct 20-grams) — the shared
    input of both contamination shapes (md5-carved eval split)."""
    from .operators.corpus import char_grams

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "source",
        (
            F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 2)
            < "34"
        ).alias("is_eval"),
        char_grams("text", 20).alias("s"),
    )


def _contamination_pairwise(base: DataFrame) -> DataFrame:
    """The per-source pair-intersect shape — the oracle contract and
    the equivalence yardstick for the gram-equi-join operator.
    Quadratic within source with full gram arrays on both join sides:
    fine at gate scale, NOT the production path (see
    operators.corpus.contamination_gram_hits)."""
    ev = base.filter(F.col("is_eval")).select(
        F.col("doc_id").alias("eval_doc_id"), "source", F.col("s").alias("se")
    )
    tr = base.filter(~F.col("is_eval")).select(
        F.col("doc_id").alias("train_doc_id"), "source", F.col("s").alias("st")
    )
    hits = ev.join(tr, "source").filter(F.size(F.array_intersect("se", "st")) > 0)
    return (
        hits.groupBy("eval_doc_id")
        .agg(F.countDistinct("train_doc_id").cast("long").alias("n_train_hits"))
        .orderBy(F.desc("n_train_hits"), "eval_doc_id")
        .limit(100)
    )


@query(
    "contamination_check",
    """
    WITH split AS (
      SELECT doc_id, source, text,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '34' AS is_eval
      FROM documents),
    sh AS (
      SELECT doc_id, source, is_eval,
             list_distinct(list_transform(range(0, greatest(len(text)-19, 1)),
                                          i -> substr(text, i+1, 20))) AS s
      FROM split)
    SELECT e.doc_id AS eval_doc_id,
           CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_train_hits
    FROM sh e JOIN sh t
      ON e.source = t.source AND e.is_eval AND NOT t.is_eval
     AND len(list_intersect(e.s, t.s)) > 0
    GROUP BY e.doc_id ORDER BY n_train_hits DESC, eval_doc_id LIMIT 100
    """,
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval contamination detection — eval docs sharing any
    20-char gram with a train doc (per source), the overlap audit run
    before training on a corpus that also sources benchmarks.  The
    split reuses the deterministic md5 carve.

    The EXECUTED path is the scale shape
    (operators.corpus.contamination_gram_hits): explode(gram) →
    equi-join on (source, gram) → count_distinct rollup — Σ posting
    products instead of E·T full-array intersections per source.  The
    per-source pair-intersect remains the declarative oracle contract
    (and `_contamination_pairwise` its Spark mirror); exact
    equivalence of the two shapes is pinned by
    tests/test_contamination.py and by this unchanged oracle row."""
    from .operators.corpus import contamination_gram_hits

    return contamination_gram_hits(_contamination_base(spark, sf_dir))


_SEMCON_TAU = 0.45


@query(
    "semantic_contamination",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '34' AS is_eval
      FROM embeddings),
    ev AS (SELECT vec_id AS qid, e AS eq FROM v WHERE is_eval),
    tr AS (SELECT vec_id AS cid, e AS ec FROM v WHERE NOT is_eval),
    scored AS (
      SELECT qid, cid,
             round(list_dot_product(eq, ec)
                   / (sqrt(list_dot_product(eq, eq))
                      * sqrt(list_dot_product(ec, ec))), 6) AS cos
      FROM ev, tr),
    ranked AS (
      SELECT qid, cid, cos,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos DESC, cid) AS rn
      FROM scored)
    SELECT qid AS eval_vec_id, cid AS nearest_train_id, cos AS max_cos,
           cos >= {_SEMCON_TAU} AS contaminated
    FROM ranked WHERE rn = 1
    """,
)
def semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/eval contamination (the semantic analog of
    `contamination_check`, and the eval-leak screen SemDeDup-style
    pipelines run before training): for every eval vector (md5-carved
    split, the `_contamination_base` convention lifted to vec_id), find
    the single nearest TRAIN vector by cosine and flag it contaminated
    at cos ≥ 0.45 (the corpus's near-dup threshold).  Ranking is on the
    6-dp-ROUNDED cosine with cid as the total-order tie-break.

    This exact all-pairs shape is the ORACLE CONTRACT and the recall
    yardstick; the production path at 100 TB is the LSH-blocked
    variant measured by `semantic_contamination_lsh_recall` below —
    same model as dedup_embedding_cosine vs dedup_embedding_lsh."""
    v = _spread(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        (
            F.substring(
                F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 2
            )
            < "34"
        ).alias("is_eval"),
    )
    ev = v.filter("is_eval").select(
        F.col("vec_id").alias("qid"), F.col("e").alias("eq")
    )
    tr = v.filter(~F.col("is_eval")).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ec")
    )
    scored = ev.crossJoin(tr).select(
        "qid", "cid", F.round(_cosine(F.col("eq"), F.col("ec")), 6).alias("cos")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("qid").alias("eval_vec_id"),
            F.col("cid").alias("nearest_train_id"),
            F.col("cos").alias("max_cos"),
            (F.col("cos") >= F.lit(_SEMCON_TAU)).alias("contaminated"),
        )
    )


def semantic_contamination_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production path: banded hyperplane-LSH candidate pairs
    (operators.similarity.embedding_lsh_pairs — ids-only band
    equi-join, exact-cosine verify, so precision is exact and only
    recall is approximate) restricted to mixed eval×train pairs.
    IVF cells were measured too coarse for this screen (0.92 recall
    at sf0.1 with 6/16 probes); the 16-band LSH is the same plan that
    `ann_embedding_lsh_recall` pins at ≥0.99 recall for cos ≥ 0.45.
    Returns the flagged eval ids; recall vs the exact contract is
    measured by `semantic_contamination_lsh_recall` (1.0 at sf0.01
    AND sf0.1)."""
    from .operators.similarity import embedding_lsh_pairs

    flags = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        (
            F.substring(
                F.md5(F.col("vec_id").cast("string").cast("binary")), 1, 2
            )
            < "34"
        ).alias("is_eval"),
    )
    pairs = embedding_lsh_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=_SEMCON_TAU
    )
    fa = flags.select(F.col("vec_id").alias("vec_a"), F.col("is_eval").alias("ea"))
    fb = flags.select(F.col("vec_id").alias("vec_b"), F.col("is_eval").alias("eb"))
    mixed = pairs.join(fa, "vec_a").join(fb, "vec_b").filter("ea != eb")
    return (
        mixed.select(
            F.when(F.col("ea"), F.col("vec_a")).otherwise(F.col("vec_b")).alias(
                "eval_vec_id"
            )
        )
        .distinct()
        .withColumn("contaminated", F.lit(True))
    )


@query(
    "semantic_contamination_lsh_recall",
    f"""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
             substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '34' AS is_eval
      FROM embeddings),
    ev AS (SELECT vec_id AS qid, e AS eq FROM v WHERE is_eval),
    tr AS (SELECT vec_id AS cid, e AS ec FROM v WHERE NOT is_eval),
    truth AS (
      SELECT DISTINCT qid FROM ev, tr
      WHERE list_dot_product(eq, ec)
            / (sqrt(list_dot_product(eq, eq)) * sqrt(list_dot_product(ec, ec)))
            >= {_SEMCON_TAU})
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
    """,
)
def semantic_contamination_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of the LSH-blocked contamination screen vs the exact
    all-pairs contract: an eval vector counts as caught if the scale
    path flags it contaminated.  recall_ok = recall ≥ 0.97 (measured
    1.0 at BOTH sf0.01 and sf0.1; an IVF 6-of-16-probe variant
    measured only 0.92 at sf0.1 and was rejected)."""
    truth = (
        semantic_contamination(spark, sf_dir)
        .filter("contaminated")
        .select(F.col("eval_vec_id").alias("qid"))
    )
    caught = (
        semantic_contamination_scale(spark, sf_dir)
        .filter("contaminated")
        .select(F.col("eval_vec_id").alias("qid"))
    )
    hits = truth.join(caught, "qid", "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.lit(0.97) * F.col("n_true")).alias("recall_ok"),
        )
    )


# winnowing (rolling-hash fingerprinting) — shared constants with the
# operator so the oracle replays the identical polynomial
_WINNOW_K, _WINNOW_W, _WINNOW_CAP, _WINNOW_MIN_SHARED = 8, 8, 64, 8
_WINNOW_POLY_SQL = " + ".join(
    f"ascii(substr(s, i+{j+1}, 1))::BIGINT * {31 ** (_WINNOW_K - 1 - j)}"
    for j in range(_WINNOW_K)
)
_WINNOW_SEL_SQL = f"""
    norm AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]+', '', 'g') AS s
      FROM documents),
    g AS (
      SELECT doc_id, len(s) - {_WINNOW_K - 1} AS m,
             list_transform(range(0, len(s) - {_WINNOW_K - 1}),
                            i -> {_WINNOW_POLY_SQL}) AS h
      FROM norm WHERE len(s) >= {_WINNOW_K}),
    sel AS (
      SELECT doc_id,
             CASE WHEN m >= {_WINNOW_W}
                  THEN list_distinct(list_transform(range(0, m - {_WINNOW_W} + 1),
                         t -> list_aggregate(h[t+1:t+{_WINNOW_W}], 'min')))
                  ELSE [list_aggregate(h, 'min')] END AS fps
      FROM g),
    fl AS (SELECT doc_id, unnest(fps) AS fingerprint FROM sel)
"""


@query(
    "winnow_doc_fingerprints",
    f"""
    WITH {_WINNOW_SEL_SQL}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_fps,
           CAST(sum(fingerprint) AS BIGINT) AS fp_sum,
           min(fingerprint) AS fp_min,
           max(fingerprint) AS fp_max
    FROM fl GROUP BY doc_id
    """,
)
def winnow_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints (MOSS; see
    operators/dedup.winnow_fingerprints) rolled up per doc — count +
    sum + min + max pins the whole selected multiset, so a drift in
    the polynomial, the window minimum, or the boundary rule fails the
    hash compare while the gate row count stays at one row per doc."""
    from .operators.dedup import winnow_fingerprints

    fps = winnow_fingerprints(
        _spread(spark, sf_dir, "documents"), k=_WINNOW_K, w=_WINNOW_W
    )
    return fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_fps"),
        F.sum("fingerprint").cast("long").alias("fp_sum"),
        F.min("fingerprint").alias("fp_min"),
        F.max("fingerprint").alias("fp_max"),
    )


@query(
    "winnow_copy_pairs",
    f"""
    WITH {_WINNOW_SEL_SQL},
    posting AS (
      SELECT fingerprint FROM fl GROUP BY fingerprint
      HAVING count(*) <= {_WINNOW_CAP}),
    kept AS (SELECT fl.doc_id, fl.fingerprint FROM fl
             JOIN posting USING (fingerprint))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM kept a JOIN kept b
      ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def winnow_copy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy detection via the winnow inverted index (equi-join on
    fingerprint with a deterministic posting-list cap — the MOSS join
    shape; operators/dedup.winnow_copy_pairs)."""
    from .operators.dedup import winnow_copy_pairs as _pairs

    return _pairs(
        _spread(spark, sf_dir, "documents"),
        k=_WINNOW_K,
        w=_WINNOW_W,
        min_shared=_WINNOW_MIN_SHARED,
        max_posting=_WINNOW_CAP,
    )


def simhash_golden_docs(spark: SparkSession) -> DataFrame:
    """The deterministic corpus behind the simhash recall gate and its
    committed golden (tools/make_golden.py) — sf-independent like the
    KG goldens, so the DuckDB side can recompute the truth set from
    the pinned (doc_id, sim) parquet."""
    from .synth import synth_files

    return synth_files(spark, 400).select(
        F.col("path").alias("doc_id"), F.col("content").alias("text")
    )


@query("dedup_simhash_recall")
def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall of SimHash banded near-dup pairs vs the exact hamming
    truth set (bit_count(xor) <= 3 over all pairs of simhash values).
    The 4x16-bit banding is pigeonhole-exact at radius 3, so the gate
    demands FULL recall (n_hit >= n_true); the DuckDB oracle recomputes
    n_true from the committed golden simhash table — a drift in
    simhash_table's bits or a banding regression both fail the gate."""
    from .operators.dedup import simhash_pairs, simhash_table

    docs = simhash_golden_docs(spark)
    sims = simhash_table(docs)
    a = sims.select(F.col("doc_id").alias("doc_a"), F.col("sim").alias("sa"))
    b = sims.select(F.col("doc_id").alias("doc_b"), F.col("sim").alias("sb"))
    truth = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))) <= 3)
        .select("doc_a", "doc_b")
    )
    cand = simhash_pairs(docs, max_hamming=3).select("doc_a", "doc_b")
    hits = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    return (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hit")))
        .select(
            F.col("n_true").cast("long").alias("n_true"),
            (F.col("n_hit") >= F.col("n_true")).alias("recall_ok"),
        )
    )


@query("simhash_bucket_stats")
def simhash_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-cap observability measured IN the gate: band-bucket size
    rollup of the simhash banding over the golden corpus (n_buckets,
    capped count at the default 256 bound, rows the cap would shed,
    hottest bucket).  DuckDB recomputes the same banding from the
    committed golden with arithmetic shifts — so the shed the cap
    causes is a verified number, not a docstring claim."""
    from .operators.dedup import bucket_cap_stats, simhash_banded, simhash_table

    sims = simhash_table(simhash_golden_docs(spark))
    return bucket_cap_stats(simhash_banded(sims), ["band", "chunk"], max_bucket=256)


@query("dedup_cluster_keepers")
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup canonicalization — the full dedup shape a
    training-data pipeline runs: near-dup pair generation (SimHash
    banding, hamming<=3 exact by pigeonhole) → connected components
    (distributed star loop) → one keeper per cluster (lexicographic
    min) + member count.  The DuckDB twin recomputes the pairs from
    the committed golden simhash table and labels components with a
    recursive-CTE closure, so pair generation, CC, and the rollup are
    verified together."""
    from .operators.components import connected_components
    from .operators.dedup import simhash_pairs

    docs = simhash_golden_docs(spark)
    pairs = simhash_pairs(docs, max_hamming=3)
    edges = pairs.select(
        F.col("doc_a").alias("src_entity"), F.col("doc_b").alias("dst_entity")
    )
    labels = connected_components(edges, small_graph_threshold=0)
    return labels.groupBy(F.col("canonical_id").alias("keeper_doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )


# ===========================================================================
# §2.1 scan shape — projection+filter pushdown
# ===========================================================================

@query(
    "scan_pushdown_projection",
    """
    SELECT l_orderkey, l_extendedprice FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-06-01'
    """,
)
def scan_pushdown_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-06-01").cast("timestamp"))
        .select("l_orderkey", "l_extendedprice")
    )


# ===========================================================================
# Rows-only queries (non-SQL-expressible; driver records weaker check)
# ===========================================================================

def kg_pipeline_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full KG slice on the deterministic synthetic corpus: extract →
    pipeline.release_graph (alias link → LSH+CC canonicalize → triples).
    Pure-JVM extraction path keeps the driver's session independent of
    Python-worker module shipping; the pandas-UDF path is exercised by
    entry() and tests."""
    from .operators.extract import extract_mentions_relational, with_content_sha
    from .pipeline import release_graph
    from .synth import alias_df, synth_files

    # Materialize the synthetic corpus before extraction — in production
    # the corpus is a table on disk, and fusing the generator expression
    # into the extraction regexps duplicates its tree per consumer (the
    # round-3 codegen-compile fallbacks all traced here).  files and
    # mentions are each consumed by multiple downstream branches.
    files = with_content_sha(synth_files(spark, n_files=500)).localCheckpoint()
    mentions = extract_mentions_relational(files)
    return release_graph(files, mentions, alias_df(spark), run_id="driver")


def kg_3hop_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triple-store chain query — the analog of the reference's golden
    3-hop SPARQL (?pid referencedPosition ?r . ?r HY_IndirectPosition ?i
    . ?i linearElement ?m, defs_test.py:104-116): two self-joins of the
    triples table on obj=subj-style keys, DISTINCT, ORDER BY.

    Here: fileA —defines→ ident ←defines— fileB —links_to→ entity, i.e.
    entities reachable from a file through a shared canonical
    identifier."""
    t = kg_pipeline_triples(spark, sf_dir).localCheckpoint()
    defines = t.filter(F.col("pred") == "defines").select(
        F.col("subj").alias("file_a"), F.col("obj").alias("ident")
    )
    defines_b = t.filter(F.col("pred") == "defines").select(
        F.col("subj").alias("file_b"), F.col("obj").alias("ident")
    )
    links = t.filter(F.col("pred") == "links_to").select(
        F.col("subj").alias("file_b"), F.col("obj").alias("entity")
    )
    return (
        defines.join(defines_b, "ident")
        .filter(F.col("file_a") != F.col("file_b"))
        .join(links, "file_b")
        .select("file_a", "entity")
        .distinct()
        .orderBy("file_a", "entity")
        .limit(1000)
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup doc pairs (xxhash64-based signatures — not
    reproducible in DuckDB, so rows-only; `dedup_minhash_lsh_recall` is
    the oracle-gated measurement against the exact-jaccard twin)."""
    from .operators.dedup import minhash_lsh_pairs

    d = _spread(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, id_col="doc_id", text_col="text", block_col="source", threshold=0.7
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document + banded near-dup pairs (hamming ≤ 8
    verified with bit_count(xor)); all built-in column expressions."""
    from .operators.dedup import simhash_pairs

    d = _spread(spark, sf_dir, "documents")
    # short same-vocab docs collide easily on simhash: keep a tight radius
    return simhash_pairs(d, id_col="doc_id", text_col="text", max_hamming=3)


def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via banded hyperplane LSH — the
    pipeline-facing scale path for dedup_embedding_cosine (whose
    crossJoin stays as the exact oracle baseline).  Same pair set as
    the twin wherever LSH recall holds; measured by
    ann_embedding_lsh_recall."""
    from .operators.similarity import embedding_lsh_pairs

    return embedding_lsh_pairs(
        _spread(spark, sf_dir, "embeddings"), dim=64, bands=16,
        planes_per_band=2, threshold=0.45,
    )


def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH-bucketed ANN (scale path for ann_cosine_topk)."""
    from .operators.similarity import lsh_ann_topk

    v = _spread(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 5)
    return lsh_ann_topk(q, v, k=10)


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer ANN (driver-trained k-means, broadcast
    centroids, n_probes cells scanned per query)."""
    from .operators.similarity import ivf_ann_topk

    v = _spread(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 5)
    return ivf_ann_topk(q, v, k=10, n_lists=8, n_probes=2)


def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual kNN graph over the whole corpus — IVF-blocked top-5 per
    vector, kept only where both directions survive (the standard
    noise filter before clustering a kNN graph).  Scale path: cell
    equi-join candidates + one reversed-key left-semi self-join;
    directed-edge recall is measured by knn_graph_recall."""
    from .operators.similarity import knn_graph

    return knn_graph(
        _spread(spark, sf_dir, "embeddings"), k=5, mutual=True,
        n_lists=8, n_probes=6,
    )


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: product-quantized candidate ranking (codes-only
    shuffle on the corpus side) + exact re-rank of the ADC shortlist;
    recall measured by ann_ivfpq_recall."""
    from .operators.similarity import ivfpq_ann_topk

    v = _spread(spark, sf_dir, "embeddings")
    q = v.filter(F.col("vec_id") < 5)
    return ivfpq_ann_topk(q, v, k=10, n_lists=8, n_probes=2)


# Golden-artifact oracles for the KG entries: the committed parquet
# (tools/make_golden.py) pins the pipeline's exact output — the analog
# of the reference's golden e2e fixtures (defs_test.py:75-130).  DuckDB
# replays the 3-hop chain as plain SQL over that artifact, so both KG
# entries get full rows+schema+hash verification.
from pathlib import Path as _Path

_GOLDEN_TRIPLES_GLOB = str(
    _Path(__file__).resolve().parent.parent
    / "testdata_golden" / "kg_triples.parquet" / "*.parquet"
)

_ORACLE_SQL["kg_pipeline_triples"] = f"""
    SELECT subj, pred, obj, graph, src_partition, content_sha
    FROM read_parquet('{_GOLDEN_TRIPLES_GLOB}')
"""

_ORACLE_SQL["kg_3hop_chain"] = f"""
    WITH t AS (SELECT * FROM read_parquet('{_GOLDEN_TRIPLES_GLOB}')),
    defines AS (SELECT subj AS file_a, obj AS ident FROM t WHERE pred = 'defines'),
    defines_b AS (SELECT subj AS file_b, obj AS ident FROM t WHERE pred = 'defines'),
    links AS (SELECT subj AS file_b, obj AS entity FROM t WHERE pred = 'links_to')
    SELECT DISTINCT a.file_a, l.entity
    FROM defines a
    JOIN defines_b b ON a.ident = b.ident AND a.file_a != b.file_b
    JOIN links l ON b.file_b = l.file_b
    ORDER BY a.file_a, l.entity LIMIT 1000
"""

# degree top-k runs the live pipeline, oracled against the golden
_SPARK_QUERIES["kg_entity_degree_topk"] = kg_entity_degree_topk

_GOLDEN_SIMHASH_GLOB = str(
    _Path(__file__).resolve().parent.parent
    / "testdata_golden" / "simhash.parquet" / "*.parquet"
)

_ORACLE_SQL["dedup_simhash_recall"] = f"""
    WITH s AS (SELECT doc_id, sim FROM read_parquet('{_GOLDEN_SIMHASH_GLOB}')),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3)
    SELECT CAST(count(*) AS BIGINT) AS n_true, TRUE AS recall_ok FROM truth
"""

_ORACLE_SQL["simhash_bucket_stats"] = f"""
    WITH s AS (SELECT doc_id, sim FROM read_parquet('{_GOLDEN_SIMHASH_GLOB}')),
    banded AS (
      SELECT doc_id, (s.sim >> (16 * b.band)) & 65535 AS chunk, b.band
      FROM s CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS band) b),
    sizes AS (SELECT band, chunk, count(*) AS n FROM banded GROUP BY band, chunk)
    SELECT CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(coalesce(sum(CASE WHEN n > 256 THEN 1 END), 0) AS BIGINT) AS n_capped_buckets,
           CAST(coalesce(sum(CASE WHEN n > 256 THEN n END), 0) AS BIGINT) AS n_rows_shed,
           CAST(max(n) AS BIGINT) AS max_bucket_n
    FROM sizes
"""

_ORACLE_SQL["dedup_cluster_keepers"] = f"""
    WITH RECURSIVE
    s AS (SELECT doc_id, sim FROM read_parquet('{_GOLDEN_SIMHASH_GLOB}')),
    pairs AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3),
    edges AS (SELECT u, v FROM pairs UNION SELECT v, u FROM pairs),
    reach AS (
      SELECT DISTINCT u AS src, u AS dst FROM edges
      UNION
      SELECT r.src, e.v AS dst FROM reach r JOIN edges e ON r.dst = e.u),
    label AS (SELECT src AS doc_id, min(dst) AS keeper FROM reach GROUP BY src)
    SELECT keeper AS keeper_doc_id, CAST(count(*) AS BIGINT) AS n_members
    FROM label GROUP BY keeper
"""
_ORACLE_SQL["kg_entity_degree_topk"] = f"""
    SELECT obj AS entity, CAST(count(*) AS BIGINT) AS degree
    FROM read_parquet('{_GOLDEN_TRIPLES_GLOB}')
    WHERE pred = 'links_to'
    GROUP BY obj ORDER BY degree DESC, entity LIMIT 10
"""

_ROWS_ONLY: dict[str, Query] = {
    "kg_pipeline_triples": kg_pipeline_triples,
    "kg_3hop_chain": kg_3hop_chain,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_embedding_lsh": dedup_embedding_lsh,
    "ann_lsh_bucketed": ann_lsh_bucketed,
    "ann_ivf": ann_ivf,
    "ann_ivfpq": ann_ivfpq,
    "knn_graph_mutual": knn_graph_mutual,
}


# Driver-window priority. The correctness gate verifies entries in
# iteration order and truncates at ~50, so the list leads with (a) the
# entries that have never had an official row, then (b) the round-5
# additions, then (c) the staleness rotation the r04 verdict asked for:
# every entry whose most recent official green row is r02, then the r03
# cohort.  Everything past the window keeps its archived row; the r05
# window re-verifies the stalest third.
_PRIORITY = [
    # --- never driver-checked: they sat just past the window ---
    "ann_int8_recall",
    "graph_effective_diameter",
    "deepwalk_skipgram_pairs",
    # --- round-5 additions: fresh entries need their first official row ---
    "dedup_containment_pairs",
    "kg_ktruss_5truss",
    "graph_modularity",
    "kg_sameas_canonical",
    "kg_topo_depth",
    "kg_rdfs_type_inference",
    "ccnet_chunk_dedup",
    "louvain_communities",
    "embedding_covariance",
    "kg_scc_components",
    "corpus_kl_divergence",
    "node2vec_biased_walks",
    "exact_substr_removal",
    "bpe_train_merges",
    "bpe_encode_tokens",
    "quality_classifier_scores",
    "q6_forecast_revenue",
    "q8_national_market_share",
    "q13_customer_distribution",
    "q14_promo_revenue",
    "q17_small_quantity_revenue",
    "q19_disjunctive_revenue",
    "q22_idle_customers",
    "q2_min_cost_supplier",
    "q4_order_priority",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_late_shipment_modes",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q20_part_promotion_suppliers",
    "q21_waiting_suppliers",
    "ppr_seed_entities",
    "graph_sssp_costs",
    "local_clustering_coeff",
    "kneser_ney_logprob",
    "ccnet_perplexity_buckets",
    "graph_harmonic_centrality",
    "graph_assortativity",
    "kg_feature_propagation",
    "weighted_sample_aes",
    "bm25_topk",
    "embedding_int8_quant",
    "semantic_contamination",
    "semantic_contamination_lsh_recall",
    "gnn_neighbor_sampling",
    "knn_label_accuracy",
    "shard_assignment",
    "event_transition_matrix",
    "graph_betweenness_seeded",
    # --- staleness rotation (r04 verdict #8): most recent green row is
    # r02 for these 50 — the ~39 that fit after the new entries get
    # re-verified this round, the spillover next round ---
    "anti_join_customers_without_orders",
    "approx_distinct_bounded",
    "approx_quantiles_bounded",
    "array_functions",
    "asof_join_clicks_views",
    "bbox_intersect_join",
    "broadcast_dim_join",
    "case_when_balance_buckets",
    "chunk_documents",
    "content_hash_invariant",
    "correlated_scalar_subquery",
    "cube_order_counts",
    "date_functions",
    "dependency_gate",
    "distinct_segments",
    "duplicate_id_detection",
    "empty_content_filter",
    "events_sessionize",
    "except_all_orderkeys",
    "except_building_without_orders",
    "from_json_typed",
    "grouping_sets_quantity",
    "harvest_word_mentions",
    "intersect_active_building_custkeys",
    "json_extract_props",
    "map_functions",
    "name_truncation",
    "null_safe_join_counts",
    "pivot_status_quantity",
    "posexplode_tokens",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "quarantine_invalid_rows",
    "range_band_join",
    "release_rollup_per_source",
    "rollup_quantity",
    "scalar_subquery_above_avg",
    "semi_join_customers_with_orders",
    "sorted_string_agg",
    "stale_partition_prune",
    "string_functions",
    "string_pad_functions",
    "topk_orders_by_price",
    "union_label_vocab",
    "window_range_frame_7d",
    "window_rank_functions",
    "window_running_customer_spend",
    "window_top_order_per_customer",
    "windowed_event_counts",
    # --- last green r03 ---
    "ann_cosine_topk",
    "ann_lsh_bucketed",
    "dedup_embedding_cosine",
    "dedup_exact_by_fingerprint",
    "dedup_ngram_jaccard",
    "doc_fingerprint",
    "doc_quality_score",
    "domain_blocklist_filter",
    "group_percentiles",
    "interval_join_click_purchase",
    "lang_id_heuristic",
    "log_severity_rollup",
    "pagerank_entity_rank",
    "pii_redaction",
    "quality_gopher_rules",
    "repetition_collapse",
    "scan_pushdown_projection",
    "sequence_packing",
    "smj_large_join",
    "stratified_sample_deterministic",
    "suffix_artifact_filter",
    "token_cooccurrence_pmi",
    "token_counts",
    "url_normalize_canonical",
    "video_frame_hashes",
    "vocab_doc_frequency",
    "winnow_copy_pairs",
    "winnow_doc_fingerprints",
]

def all_queries() -> dict[str, Query]:
    out = dict(_SPARK_QUERIES)
    out.update(_ROWS_ONLY)
    missing = [n for n in _PRIORITY if n not in out]
    if missing:
        raise RuntimeError(f"_PRIORITY names not registered: {missing}")
    ordered = {n: out[n] for n in _PRIORITY}
    ordered.update({n: f for n, f in out.items() if n not in ordered})
    return ordered


def all_oracles() -> dict[str, str]:
    return dict(_ORACLE_SQL)
