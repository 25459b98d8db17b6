"""Relational operator coverage (SURVEY.md §2.2-§2.8) over the driver
testdata, each with a DuckDB oracle.

Conventions for hash-stable cross-engine comparison:
- every computed column is aliased identically in Spark and SQL;
- money aggregates are summed as DECIMAL(18,2) (order-independent,
  exact) then cast to DOUBLE so both engines hash identical float64;
- ratios divide two already-identical doubles (IEEE-deterministic);
- timestamps are returned as epoch seconds (BIGINT), never raw;
- every LIMIT is preceded by a total ORDER BY (unique tie-break).

Scale notes are inline per query; the common ones: filters sit
directly on scan columns (parquet pushdown), small dims are broadcast,
aggregations are partial-agg friendly (sum/count/min/max), and no
query collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from big_data_spark.io.readers import read_table

DEC = "decimal(18,2)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_table(spark, sf_dir, name)


def fixture_dir(prefix: str, sf_dir: str) -> str:
    """Scratch dir for a SELF-FIXTURING query (the snapshot-table
    rows build a small table under /tmp, then query it). Keyed by
    (prefix, sf_dir, PROCESS): the per-process component means two
    concurrent harnesses at the same sf — a gate_sim next to a bench
    — can never shutil.rmtree each other's fixture mid-read."""
    import hashlib
    import os
    import shutil
    import tempfile

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    suffix = f"p{os.getpid()}"
    tmp = tempfile.gettempdir()
    # Reap DEAD siblings (same prefix+sf, "p<pid>" suffix, pid no
    # longer alive): the per-process keying means each run leaves its
    # fixtures behind, so without this a long-lived host accumulates
    # one snapshot table per past harness process. Live pids (a
    # concurrent harness) are never touched; best-effort — a lost
    # race just leaves the dir for the next caller.
    lead = f"{prefix}_{tag}_p"
    try:
        for name in os.listdir(tmp):
            pid_s = name[len(lead):]
            if not name.startswith(lead) or not pid_s.isdigit():
                continue
            try:
                os.kill(int(pid_s), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            except (PermissionError, OSError):
                pass  # alive under another uid / unknowable: keep
    except OSError:
        pass
    return os.path.join(tmp, f"{prefix}_{tag}_{suffix}")


# --------------------------------------------------------------------
# Aggregations over a single fact table (SURVEY §2.4 A1-A12, §2.6 O1)
# --------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-filter-aggregate, the partial-agg poster
    child. Filter is on a scan column -> parquet predicate pushdown;
    grouping keys are low-cardinality so map-side combine collapses
    the shuffle to ~#groups rows per partition at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast(DEC)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(22,4))) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregates (SURVEY §2.4 A6-A8): exact countDistinct
    forces a two-phase agg; fine at scale because keyspace per group
    is bounded by #parts."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("distinct_parts"),
            F.countDistinct("l_suppkey").alias("distinct_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_DISTINCT = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS distinct_parts,
       COUNT(DISTINCT l_suppkey) AS distinct_supps,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive collect (SURVEY §2.4 A1/A9): deterministic via
    sort_array(collect_list) — the reference relied on orderBy
    surviving groupBy (Src/processes.py:247-250), which is unspecified;
    we sort inside the aggregate instead."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list(F.col("o_orderkey").cast("string"))), ","
            ).alias("order_keys"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey")
    )


# NOTE: string sort of keys must match: DuckDB string_agg ORDER BY the
# same stringified key keeps both engines lexicographic.
ORACLE_COLLECT = """
SELECT o_custkey,
       string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY CAST(o_orderkey AS VARCHAR)) AS order_keys,
       COUNT(*) AS n_orders
FROM orders WHERE o_orderstatus = 'P'
GROUP BY o_custkey ORDER BY o_custkey
"""


def q_first_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 'first' (SURVEY §2.4 A3): min_by instead of
    first-after-orderBy. Earliest ship per order+flag."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_returnflag")
        .agg(
            F.min_by("l_linenumber", F.struct("l_shipdate", "l_linenumber")).alias(
                "first_line"
            ),
            F.unix_timestamp(F.min("l_shipdate")).alias("first_ship_epoch"),
        )
        .orderBy("l_orderkey", "l_returnflag")
    )


ORACLE_FIRST = """
WITH ranked AS (
  SELECT l_orderkey, l_returnflag, l_linenumber, l_shipdate,
         row_number() OVER (PARTITION BY l_orderkey, l_returnflag
                            ORDER BY l_shipdate, l_linenumber) AS rn
  FROM lineitem
), mins AS (
  SELECT l_orderkey, l_returnflag,
         CAST(floor(epoch(MIN(l_shipdate))) AS BIGINT) AS first_ship_epoch
  FROM lineitem GROUP BY l_orderkey, l_returnflag
)
SELECT r.l_orderkey, r.l_returnflag, r.l_linenumber AS first_line, m.first_ship_epoch
FROM ranked r JOIN mins m
  ON r.l_orderkey = m.l_orderkey AND r.l_returnflag = m.l_returnflag
WHERE r.rn = 1 ORDER BY r.l_orderkey, r.l_returnflag
"""


# --------------------------------------------------------------------
# Joins (SURVEY §2.3 J1-J9)
# --------------------------------------------------------------------


def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join. region/nation are tiny -> explicit
    broadcast hints keep the big fact tables shuffle-free on the dim
    side; supplier-nation-region collapses to one broadcast stage."""
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    dec = lambda c: F.col(c).cast(DEC)  # noqa: E731
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(supplier, F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE"))
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_MULTIWAY = """
SELECT r_name, n_name,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey AND r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name ORDER BY r_name, n_name
"""


def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join (J2): every customer with order count, zeros
    kept. Aggregate-then-join keeps the outer side slim."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        customer.join(per_cust, customer.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("n_orders"),
        )
        .orderBy("c_custkey")
    )


ORACLE_LEFT = """
SELECT c_custkey, COALESCE(cnt, 0) AS n_orders
FROM customer LEFT JOIN (
  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
) o ON c_custkey = o_custkey
ORDER BY c_custkey
"""


def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (J3) — the reference's 'alone servers' shape
    (Src/servers.py:134-138): customers with no orders."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


ORACLE_ANTI = """
SELECT c_custkey, c_mktsegment FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join: customers having at least one 'F' order."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


ORACLE_SEMI = """
SELECT c_custkey, c_name FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
ORDER BY c_custkey
"""


def q_join_self_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aliased self-join with inequality predicate (J6 + P8):
    same-nation supplier pairs, counted per nation. The equi-key
    (nationkey) carries the join; the < predicate is a cheap
    post-filter, so this stays a hash join, not a cartesian."""
    s1 = _t(spark, sf_dir, "supplier").alias("s1")
    s2 = _t(spark, sf_dir, "supplier").alias("s2")
    return (
        s1.join(
            s2,
            (F.col("s1.s_nationkey") == F.col("s2.s_nationkey"))
            & (F.col("s1.s_suppkey") < F.col("s2.s_suppkey")),
        )
        .groupBy(F.col("s1.s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("nationkey")
    )


ORACLE_SELF = """
SELECT s1.s_nationkey AS nationkey, COUNT(*) AS n_pairs
FROM supplier s1 JOIN supplier s2
  ON s1.s_nationkey = s2.s_nationkey AND s1.s_suppkey < s2.s_suppkey
GROUP BY s1.s_nationkey ORDER BY nationkey
"""


def q_join_expr_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join on a computed key (J4 — the reference joins on
    equal_processes[0], Src/processes.py:305-310): bucket orders by
    price band, join band stats back on the computed band key."""
    orders = _t(spark, sf_dir, "orders")
    banded = orders.withColumn(
        "price_band", F.floor(F.col("o_totalprice") / 50000).cast("int")
    )
    band_stats = banded.groupBy("price_band").agg(
        F.count(F.lit(1)).alias("band_n")
    )
    return (
        banded.join(band_stats, on="price_band")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("band_n").alias("max_band_n"),
        )
        .orderBy("o_orderstatus")
    )


ORACLE_EXPR_KEY = """
WITH banded AS (
  SELECT o_orderstatus, CAST(floor(o_totalprice / 50000) AS INT) AS price_band FROM orders
), band_stats AS (
  SELECT price_band, COUNT(*) AS band_n FROM banded GROUP BY price_band
)
SELECT o_orderstatus, COUNT(*) AS n_orders, MAX(band_n) AS max_band_n
FROM banded JOIN band_stats USING (price_band)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


# --------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# --------------------------------------------------------------------


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union / intersect / except at DF level. Customers are tagged by
    which order-status sets they appear in."""
    orders = _t(spark, sf_dir, "orders")
    o_cust = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    f_cust = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    both = o_cust.intersect(f_cust).withColumn("tag", F.lit("both"))
    only_o = o_cust.subtract(f_cust).withColumn("tag", F.lit("only_o"))
    only_f = f_cust.subtract(o_cust).withColumn("tag", F.lit("only_f"))
    return (
        both.unionByName(only_o)
        .unionByName(only_f)
        .groupBy("tag")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("tag")
    )


ORACLE_SET_OPS = """
WITH o_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='O'),
     f_cust AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus='F'),
     tagged AS (
       SELECT o_custkey, 'both' AS tag FROM o_cust INTERSECT SELECT o_custkey, 'both' FROM f_cust
       UNION ALL
       SELECT o_custkey, 'only_o' FROM (SELECT * FROM o_cust EXCEPT SELECT * FROM f_cust)
       UNION ALL
       SELECT o_custkey, 'only_f' FROM (SELECT * FROM f_cust EXCEPT SELECT * FROM o_cust)
     )
SELECT tag, COUNT(*) AS n_customers FROM tagged GROUP BY tag ORDER BY tag
"""


# --------------------------------------------------------------------
# Windows (SURVEY §2.5) + sorts/limits (§2.6)
# --------------------------------------------------------------------


def q_window_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number over (customer, date desc): latest order per
    customer — the window idiom replacing the reference's
    orderBy-then-first (Src/processes.py:247-250)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.unix_timestamp("o_orderdate").alias("latest_epoch"),
        )
        .orderBy("o_custkey")
    )


ORACLE_WINDOW_LATEST = """
SELECT o_custkey, latest_orderkey, latest_epoch FROM (
  SELECT o_custkey, o_orderkey AS latest_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS latest_epoch,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1 ORDER BY o_custkey
"""


def q_window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per partition — the depth-counter idiom (SURVEY
    §2.5) on relational data: cumulative spend per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        orders.withColumn(
            "cum_spend",
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "cum_spend")
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE_RUNNING = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum_spend
FROM orders ORDER BY o_custkey, o_orderkey
"""


def q_window_lag_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): inter-order gap in days per customer."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return (
        orders.withColumn(
            "gap_days",
            F.when(
                prev.isNotNull(),
                F.datediff(F.col("o_orderdate"), prev),
            ),
        )
        .filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.max("gap_days").alias("max_gap_days"),
            F.count(F.lit(1)).alias("n_gaps"),
        )
        .orderBy("o_custkey")
    )


ORACLE_LAG = """
-- CAST: DuckDB datediff yields BIGINT; Spark datediff yields INT
SELECT o_custkey, CAST(MAX(gap_days) AS INTEGER) AS max_gap_days, COUNT(*) AS n_gaps FROM (
  SELECT o_custkey,
         datediff('day',
                  lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                  o_orderdate) AS gap_days
  FROM orders
) WHERE gap_days IS NOT NULL GROUP BY o_custkey ORDER BY o_custkey
"""


def q_window_range_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-based): trailing
    30-day spend per customer — frames follow the time axis, so ties
    and gaps are handled by value, which rowsBetween can't express."""
    orders = _t(spark, sf_dir, "orders")
    day = F.floor(F.unix_timestamp("o_orderdate") / 86400).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("order_day"))
        .rangeBetween(-29, 0)
    )
    return (
        orders.withColumn("order_day", day)
        .withColumn(
            "trailing_30d_spend",
            F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double"),
        )
        .select("o_custkey", "o_orderkey", "order_day", "trailing_30d_spend")
        .orderBy("o_custkey", "o_orderkey")
    )


ORACLE_WINDOW_RANGE = """
SELECT o_custkey, o_orderkey, order_day,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY order_day
                  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS trailing_30d_spend
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         CAST(floor(epoch(o_orderdate) / 86400) AS BIGINT) AS order_day
  FROM orders
)
ORDER BY o_custkey, o_orderkey
"""


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family windows: ntile quartiles + percent_rank + cume_dist
    over per-customer spend (unique tiebreak -> deterministic)."""
    orders = _t(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("spend")
    )
    w = Window.orderBy(F.col("spend").desc(), F.col("o_custkey"))
    return (
        spend.select(
            "o_custkey",
            F.ntile(4).over(w).alias("quartile"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume"),
        )
        .orderBy("o_custkey")
    )


ORACLE_WINDOW_RANKS = """
SELECT o_custkey,
       -- CAST: DuckDB ntile yields BIGINT; Spark ntile yields INT
       CAST(ntile(4) OVER w AS INTEGER) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
)
WINDOW w AS (ORDER BY spend DESC, o_custkey)
ORDER BY o_custkey
"""


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction (§2.8 gap — the reference never needed regex):
    pull the numeric k out of the props JSON-ish string by pattern,
    not by JSON parsing, and aggregate."""
    events = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1)
    return (
        events.withColumn("k", F.when(k != "", k.cast("int")))
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


ORACLE_REGEX = """
SELECT event_type, COUNT(*) AS n,
       -- CAST: DuckDB SUM(INTEGER) yields HUGEINT; Spark yields BIGINT
       CAST(SUM(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type,
         CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS INT) AS k
  FROM events
  WHERE regexp_extract(props, '"k":\\s*(\\d+)', 1) <> ''
)
GROUP BY event_type ORDER BY event_type
"""


def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with unique tie-break (O-ops). Spark plans this as
    TakeOrderedAndProject — no full sort, no single-node shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(25)
    )


ORACLE_TOPK = """
SELECT l_orderkey, l_linenumber, l_extendedprice
FROM lineitem ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 25
"""


# --------------------------------------------------------------------
# Scalar functions: string/array/map/case (SURVEY §2.8), filters (§2.2)
# --------------------------------------------------------------------


def q_string_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + explode + lower (the generator/UDTF shape §2.8):
    token frequencies of part names."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(F.explode(F.split(F.lower("p_name"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(50)
    )


ORACLE_TOKENS = """
SELECT token, COUNT(*) AS freq FROM (
  SELECT unnest(string_split(lower(p_name), ' ')) AS token FROM part
) WHERE token <> '' GROUP BY token ORDER BY freq DESC, token LIMIT 50
"""


def q_case_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN + conjunctive filters (P7) + cast (P5)."""
    orders = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return (
        orders.filter(
            (F.col("o_orderstatus") != "P") & (F.col("o_totalprice") > 1000)
        )
        .withColumn("bucket", bucket)
        .groupBy("o_orderpriority", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderpriority", "bucket")
    )


ORACLE_CASE = """
SELECT o_orderpriority,
       CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 150000 THEN 'medium'
            ELSE 'large' END AS bucket,
       COUNT(*) AS n
FROM orders
WHERE o_orderstatus <> 'P' AND o_totalprice > 1000
GROUP BY o_orderpriority, bucket ORDER BY o_orderpriority, bucket
"""


def q_map_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construction + explosion (SURVEY §2.8 map_from_entries /
    explode-map, Src/processes.py:112-123): per-nation map of
    mktsegment -> customer count, exploded back to rows so the output
    is oracle-comparable."""
    customer = _t(spark, sf_dir, "customer")
    per_seg = customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    as_map = per_seg.groupBy("c_nationkey").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("c_mktsegment", "cnt")))
        ).alias("seg_counts")
    )
    return (
        as_map.select(
            "c_nationkey", F.explode("seg_counts").alias("segment", "n_customers")
        )
        .orderBy("c_nationkey", "segment")
    )


ORACLE_MAP = """
SELECT c_nationkey, c_mktsegment AS segment, COUNT(*) AS n_customers
FROM customer GROUP BY c_nationkey, c_mktsegment ORDER BY c_nationkey, segment
"""


# --------------------------------------------------------------------
# Events: time windows, JSON extraction, sessionization
# --------------------------------------------------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (batch form of the streaming op):
    hourly counts + decimal-exact value sums per event type.

    ``ts`` arrives as raw nanosecond longs (see read_table); hour
    bucket = integer division. Epochs here are positive so div-based
    truncation equals floor on both engines."""
    events = _t(spark, sf_dir, "events")
    hour_epoch = (F.expr("ts div 1000000000") - F.expr("ts div 1000000000") % 3600)
    return (
        events.groupBy(
            hour_epoch.alias("hour_epoch"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        )
        .orderBy("hour_epoch", "event_type")
    )


ORACLE_EVENTS_HOURLY = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type
"""


def q_events_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling onto a complete hour grid with gap
    fill: every (event_type, hour) cell from the global min to max
    hour exists in the output — empty hours emit n=0 / sum=0.0 with
    an ``is_gap`` flag — plus a forward-filled ``last_sum`` (most
    recent real hourly sum), the shape dashboards and downstream
    models need from irregular event data.

    Plan: one map-side-combinable hourly aggregation; the grid is
    |types| x |hours| rows built from a BROADCAST 1-row bounds agg
    and an exploded sequence (never a driver loop); the gap-fill
    left join shuffles on the same (type, hour) key as the agg; the
    forward fill is a running last() window PARTITIONED by type —
    parallel across types, never a global window. At 100 TB the same
    shape resamples per (entity, bounded window) — the grid stays
    derived data, proportional to the output, not the input."""
    events = _t(spark, sf_dir, "events")
    sec = F.expr("ts div 1000000000")
    hour = sec - sec % 3600
    agg = events.groupBy("event_type", hour.alias("hour_epoch")).agg(
        F.count(F.lit(1)).alias("n_events_raw"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value_raw"),
    )
    bounds = events.select(hour.alias("h")).agg(
        F.min("h").alias("lo"), F.max("h").alias("hi")
    )
    grid = (
        events.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("lo"), F.col("hi"), F.lit(3600))
            ).alias("hour_epoch"),
        )
    )
    joined = grid.join(agg, ["event_type", "hour_epoch"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_epoch")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "hour_epoch",
        F.coalesce("n_events_raw", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value_raw", F.lit(0.0)).alias("sum_value"),
        F.col("n_events_raw").isNull().alias("is_gap"),
        F.last(F.col("sum_value_raw"), ignorenulls=True)
        .over(w)
        .alias("last_sum"),
    ).orderBy("event_type", "hour_epoch")


ORACLE_EVENTS_RESAMPLE = """
WITH agg AS (
  SELECT event_type, CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         COUNT(*) AS n_events,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(hour_epoch) AS lo, MAX(hour_epoch) AS hi FROM agg
), grid AS (
  SELECT t.event_type, u.h AS hour_epoch
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN bounds
  CROSS JOIN unnest(range(bounds.lo, bounds.hi + 3600, 3600)) AS u(h)
)
SELECT g.event_type, g.hour_epoch,
       CAST(COALESCE(a.n_events, 0) AS BIGINT) AS n_events,
       COALESCE(a.sum_value, 0.0) AS sum_value,
       a.n_events IS NULL AS is_gap,
       last_value(a.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour_epoch
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_sum
FROM grid g LEFT JOIN agg a USING (event_type, hour_epoch)
ORDER BY event_type, hour_epoch
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    advances a stage only with an event STRICTLY AFTER their previous
    stage's first event — the temporal-ordering constraint that makes
    funnels harder than three counts.

    Plan: three filtered per-user min-aggregations chained by joins,
    each map-side combinable and keyed on user_id (one partitioning
    reused); stage populations shrink monotonically so each join's
    probe side is smaller than the last. ts is the raw nanosecond
    long (read_table) — the oracle compares epoch_ns."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .join(views, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .join(clicks, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )

    def stage(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.lit(label).alias("stage"), F.count(F.lit(1)).alias("n_users")
        )

    return (
        stage(views, "1_view")
        .unionByName(stage(clicks, "2_click"))
        .unionByName(stage(purchases, "3_purchase"))
        .orderBy("stage")
    )


ORACLE_EVENTS_FUNNEL = """
WITH v AS (
  SELECT user_id, MIN(epoch_ns(ts)) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t_click
  FROM events e JOIN v USING (user_id)
  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > v.t_view
  GROUP BY e.user_id
), p AS (
  SELECT e.user_id, MIN(epoch_ns(e.ts)) AS t_purchase
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t_click
  GROUP BY e.user_id
)
SELECT '1_view' AS stage, COUNT(*) AS n_users FROM v
UNION ALL SELECT '2_click', COUNT(*) FROM c
UNION ALL SELECT '3_purchase', COUNT(*) FROM p
ORDER BY stage
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history: each customer's
    orders become versioned validity intervals — valid_from is the
    order date, valid_to the NEXT order's date (open/NULL for the
    current version). The lead() window partitions per customer, so
    interval construction parallelizes across the dimension key, and
    the (date, orderkey) tie-break makes the sequence deterministic
    under same-day orders."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)

    # o_orderdate arrives TIMESTAMP_NTZ; NTZ -> TIMESTAMP (session tz
    # is pinned UTC by read_table) -> epoch seconds.
    def epoch(c):
        return c.cast("timestamp").cast("long")

    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            epoch(F.col("o_orderdate")).alias("valid_from_epoch"),
            epoch(nxt).alias("valid_to_epoch"),
            nxt.isNull().alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from_epoch", "o_orderkey")
    )


ORACLE_SCD2 = """
SELECT o_custkey, o_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS valid_from_epoch,
       CAST(floor(epoch(lead(o_orderdate) OVER w)) AS BIGINT) AS valid_to_epoch,
       lead(o_orderdate) OVER w IS NULL AS is_current
FROM orders WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, valid_from_epoch, o_orderkey
"""


def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the query side of
    SCD2: each event is enriched with the order-version that was
    valid AT the event's timestamp. Routed through the as-of join
    operator (operators/timeseries.py): for contiguous, non-empty
    validity intervals, "latest valid_from <= ts" IS the
    BETWEEN-join answer, at ONE key-partitioned shuffle instead of a
    range join (the oracle runs the textbook BETWEEN join to prove
    the equivalence). Zero-length versions (same-day successors,
    superseded the same day) are dropped before the as-of — they can
    match nothing, and removing them makes valid_from unique per key
    so the pick is deterministic.

    At 100 TB: the fact side shuffles once on the dimension key; the
    dimension rides the same shuffle. A range join here would
    broadcast interval bands or pay an O(|fact| x versions-per-key)
    expansion — the as-of window does neither."""
    from big_data_spark.operators.timeseries import asof_join

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "user_id",
            "event_id",
            F.expr("ts div 1000000000").alias("ts_sec"),
        )
    )
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    dim = (
        orders.select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderkey").alias("version_orderkey"),
            F.col("o_orderdate").cast("timestamp").cast("long").alias("ts_sec"),
            nxt.cast("timestamp").cast("long").alias("valid_to_epoch"),
        )
        # Drop zero-length versions: superseded the same second.
        .filter(
            F.col("valid_to_epoch").isNull()
            | (F.col("valid_to_epoch") > F.col("ts_sec"))
        )
        .drop("valid_to_epoch")
    )
    joined = asof_join(
        ev,
        dim,
        on=["user_id"],
        ts_col="ts_sec",
        value_cols=["version_orderkey"],
        how="backward",
    )
    return joined.select(
        "user_id",
        "event_id",
        "ts_sec",
        F.col("version_orderkey_asof").alias("version_orderkey"),
        F.col("ts_sec_asof").alias("valid_from_epoch"),
    ).orderBy("user_id", "event_id")


ORACLE_TEMPORAL_JOIN = """
WITH dim0 AS (
  SELECT o_custkey, o_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS valid_from,
         CAST(floor(epoch(lead(o_orderdate) OVER w)) AS BIGINT) AS valid_to
  FROM orders WHERE o_custkey < 50
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
), dim AS (
  SELECT * FROM dim0 WHERE valid_to IS NULL OR valid_to > valid_from
), ev AS (
  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
  FROM events WHERE user_id < 50
)
SELECT ev.user_id, ev.event_id, ev.ts_sec,
       d.o_orderkey AS version_orderkey,
       d.valid_from AS valid_from_epoch
FROM ev LEFT JOIN dim d
  ON d.o_custkey = ev.user_id
 AND d.valid_from <= ev.ts_sec
 AND (d.valid_to IS NULL OR ev.ts_sec < d.valid_to)
ORDER BY user_id, event_id
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from a string column (§2.8 extension —
    schema-on-read the reference never needed)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn(
            "k", F.get_json_object("props", "$.k").cast("int")
        )
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_JSON = """
SELECT event_type,
       -- CAST: DuckDB SUM(INTEGER) yields HUGEINT; Spark yields BIGINT
       CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k, COUNT(*) AS n
FROM (SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
WHERE k IS NOT NULL GROUP BY event_type ORDER BY event_type
"""


def q_events_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type — the metrics-anomaly
    pass. Moments are accumulated as DECIMAL (order-independent exact
    sums; a float stddev would differ across engines by fold order),
    then one broadcast join tags events >3 sigma."""
    events = _t(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,6)")
    stats = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).cast("double").alias("sum_v"),
        F.sum((v * v).cast("decimal(28,12)")).cast("double").alias("sum_v2"),
    )
    mean = F.col("sum_v") / F.col("n")
    var = F.col("sum_v2") / F.col("n") - mean * mean
    stats = stats.select(
        "event_type", mean.alias("mean_v"), F.sqrt(var).alias("std_v")
    )
    return (
        events.join(F.broadcast(stats), on="event_type")
        .withColumn(
            "z", (F.col("value").cast("decimal(18,6)").cast("double") - F.col("mean_v")) / F.col("std_v")
        )
        .filter(F.abs("z") > 3)
        .select("event_id", "event_type", F.round("z", 6).alias("z"))
        .orderBy("event_id")
    )


ORACLE_EVENTS_OUTLIERS = """
WITH stats AS (
  SELECT event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean_v,
         sqrt(CAST(SUM(CAST(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6)) AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
              - (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
                * (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))) AS std_v
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type,
       round((CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) - mean_v) / std_v, 6) AS z
FROM events e JOIN stats USING (event_type)
WHERE abs((CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE) - mean_v) / std_v) > 3
ORDER BY event_id
"""


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT column (Spark 4): parse the JSON string
    once into a typed variant, extract by path, aggregate. Unlike
    get_json_object (string re-parse per extraction), a variant column
    parses once and serves any number of typed path reads — the
    shape for heterogeneous event payloads at scale."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "int").alias("k"),
    )
    return (
        parsed.filter(F.col("k").isNotNull())
        .withColumn("k_decile", (F.col("k") / 10).cast("int"))
        .groupBy("event_type", "k_decile")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type", "k_decile")
    )


ORACLE_VARIANT = """
-- floor, not CAST(k/10 AS INT): DuckDB's double->INT cast rounds
-- while Spark's truncates; k is non-negative so floor == truncate
SELECT event_type, CAST(floor(k / 10.0) AS INT) AS k_decile, COUNT(*) AS n
FROM (
  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events
)
WHERE k IS NOT NULL
GROUP BY event_type, k_decile ORDER BY event_type, k_decile
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gap = 30 min): lag + cumulative
    new-session flags — the per-process sequence idiom (SURVEY §2.5)
    applied to user activity; also the batch twin of the Structured
    Streaming session window."""
    events = _t(spark, sf_dir, "events").withColumn(
        "ts_sec", F.expr("ts div 1000000000")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts_sec") - F.lag("ts_sec").over(w)
    flagged = events.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sessions = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_sec").alias("session_start_epoch"),
        )
        .orderBy("user_id", "session_seq")
    )


ORACLE_SESSIONIZE = """
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         -- CAST: DuckDB windowed SUM(INTEGER) yields HUGEINT; Spark yields BIGINT
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, COUNT(*) AS n_events,
       CAST(floor(epoch(MIN(ts))) AS BIGINT) AS session_start_epoch
FROM sessions GROUP BY user_id, session_seq ORDER BY user_id, session_seq
"""


# --------------------------------------------------------------------
# Multi-dim aggregation (rollup/pivot/percentiles — SURVEY §2.4 noted
# these as absent from the reference; exposed here as first-class)
# --------------------------------------------------------------------


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus): subtotal + grand-total
    rows in one pass — Catalyst expands to a single shuffle over the
    grouping-set id, not one job per level."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


ORACLE_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube are sugar
    for): per-(flag, status), per-flag, and grand total in ONE
    shuffle over the expanded grouping-set id, plus grouping_id() to
    tell the levels apart without NULL ambiguity. The cross-level
    report shape a warehouse burns three jobs on when written
    naively."""
    li = _t(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
               COALESCE(l_linestatus, 'ALL') AS linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, returnflag, linestatus
        """,
        li=li,
    )


ORACLE_GROUPING_SETS = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(grouping(l_returnflag, l_linestatus) AS INT) AS gid,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY gid, returnflag, linestatus
"""


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all four aggregation levels —
    per-pair, per-status, per-priority, grand total — in ONE shuffle
    over the expanded grouping-set id (completes the rollup /
    GROUPING SETS / cube trio; rollup cannot produce the per-priority
    slice and the naive version burns four jobs)."""
    orders = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT COALESCE(o_orderstatus, 'ALL') AS status,
               COALESCE(o_orderpriority, 'ALL') AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n_orders
        FROM {orders}
        GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY gid, status, priority
        """,
        orders=orders,
    )


ORACLE_CUBE = """
SELECT COALESCE(o_orderstatus, 'ALL') AS status,
       COALESCE(o_orderpriority, 'ALL') AS priority,
       CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY gid, status, priority
"""


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide -> long): the per-part price/size metrics as
    (metric, value) rows — the inverse idiom of pivot_status, used
    whenever heterogeneous metric columns must feed one generic
    consumer. Spark's native unpivot() keeps it a zero-shuffle
    narrow projection (each input row fans out to k rows in place)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select(
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("retailprice"),
            F.col("p_size").cast("double").alias("size"),
        )
        .unpivot("p_partkey", ["retailprice", "size"], "metric", "value")
        .filter(F.col("p_partkey") < 200)
        .orderBy("p_partkey", "metric")
    )


# DuckDB's UNPIVOT exists but orders/aliases differently; the
# portable spelling is the UNION ALL expansion — same rows.
ORACLE_UNPIVOT = """
SELECT p_partkey, metric, value FROM (
  SELECT p_partkey, 'retailprice' AS metric,
         CAST(p_retailprice AS DOUBLE) AS value FROM part
  UNION ALL
  SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
) WHERE p_partkey < 200 ORDER BY p_partkey, metric
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (SURVEY §2.4 'not present' list): order counts by
    priority x status. Pivot values are pinned so the plan is a single
    conditional aggregation — no distinct-values pre-pass job."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
        .select(
            "o_orderpriority",
            F.col("F").alias("n_f"),
            F.col("O").alias("n_o"),
            F.col("P").alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PIVOT = """
SELECT o_orderpriority,
       COUNT(*) FILTER (o_orderstatus = 'F') AS n_f,
       COUNT(*) FILTER (o_orderstatus = 'O') AS n_o,
       COUNT(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the approx_
    percentile sketch is the 100 TB path; the exact form is the
    correctness oracle both engines agree on)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias(
                "p95_price"
            ),
        )
        .orderBy("l_returnflag")
    )


ORACLE_PERCENTILES = """
SELECT l_returnflag,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
       round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (time-series point-in-time lookup, absent from both
    the reference and vanilla Spark): for each click, the user's most
    recent prior-or-equal purchase time — the GENERIC library
    operator (`operators/timeseries.py asof_join`: union-marker +
    running struct-valued last over one key-partitioned shuffle, no
    per-key loop, no range cross-join; the shape that survives
    100 TB), so this driver row certifies the operator itself
    cross-engine. Oracle uses DuckDB's native ASOF JOIN."""
    from big_data_spark.operators.timeseries import asof_join

    events = _t(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts"
    )
    return (
        asof_join(clicks, purchases, ["user_id"], "ts", value_cols=[])
        .select(
            "event_id",
            "user_id",
            # microseconds: DuckDB timestamps are micro-precision, so
            # the nanos tail would never match cross-engine
            F.expr("ts div 1000").alias("click_ts_us"),
            F.expr("ts_asof div 1000").alias("purchase_ts_us"),
        )
        .orderBy("event_id")
    )


ORACLE_ASOF = """
SELECT c.event_id, c.user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id AND c.ts >= p.ts
ORDER BY c.event_id
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on both join sides pushed to
    the scans, join, aggregate, top-k by revenue — the classic
    'find the hottest keys' report."""
    customer = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cutoff = F.lit("1995-03-15").cast("timestamp")
    dec = lambda c: F.col(c).cast(DEC)  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast(DEC) - dec("l_discount"))).cast(
                    "decimal(22,4)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = """
SELECT l_orderkey,
       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS orderdate_epoch,
       o_orderpriority,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                 AS DECIMAL(22,4))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregation as a semi-join
    gate — orders whose total quantity clears a threshold, joined
    back for reporting. The HAVING aggregate runs ONCE and gates via
    join (no correlated subquery re-evaluation)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_totalprice").alias("totalprice"),
            "total_qty",
        )
        .orderBy("o_orderkey")
    )


ORACLE_LARGE_VOLUME = """
SELECT o_orderkey, o_custkey, o_totalprice AS totalprice, total_qty
FROM orders
JOIN (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 300
) ON o_orderkey = l_orderkey
ORDER BY o_orderkey
"""


# --------------------------------------------------------------------
# Graph: connected components (SURVEY §2.10 M7) under the oracle gate
# --------------------------------------------------------------------


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a chain graph: consecutive orders of
    a customer are linked, so each component must be exactly that
    customer's order set labeled by its minimum order key — which
    gives the iterative min-label-propagation operator
    (operators.components, the GraphFrames-free CC) a closed-form SQL
    oracle. Chains also exercise multi-hop convergence, not just
    star graphs."""
    from pyspark.sql.window import Window as W

    from big_data_spark.operators.components import connected_components

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    w = W.partitionBy("o_custkey").orderBy("o_orderkey")
    ranked = orders.withColumn("rn", F.row_number().over(w))
    nxt = ranked.select(
        F.col("o_custkey").alias("c2"),
        F.col("o_orderkey").alias("next_key"),
        (F.col("rn") - 1).alias("prev_rn"),
    )
    chain = ranked.join(
        nxt, (ranked.o_custkey == nxt.c2) & (ranked.rn == nxt.prev_rn)
    ).select(F.col("o_orderkey").alias("src"), F.col("next_key").alias("dst"))
    loops = orders.select(
        F.col("o_orderkey").alias("src"), F.col("o_orderkey").alias("dst")
    )
    cc = connected_components(chain.unionByName(loops))
    return (
        cc.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("component")
    )


ORACLE_GRAPH_CC = """
SELECT MIN(o_orderkey) AS component, COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey ORDER BY component
"""


# --------------------------------------------------------------------
# Range (interval) join — non-equi point-in-band join
# --------------------------------------------------------------------


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: each event against every OTHER event type's
    interquartile value band (lo <= value <= hi) — the point-in-
    interval join Spark has no native operator for. The interval
    table is an aggregate of the fact table itself (one row per event
    type), so the scale plan is a broadcast nested-loop join with the
    band predicates evaluated stream-side: the fact table never
    shuffles. For interval tables too big to broadcast, the 100 TB
    fallback is bucketizing both sides on a coarsened range key and
    equi-joining the bucket before the band filter.

    Bounds are round(4)ed on BOTH engines before the comparison so
    the boundary decisions are taken on identical doubles (same
    contract as the percentiles query)."""
    events = _t(spark, sf_dir, "events")
    bounds = events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("lo"),
        F.round(F.expr("percentile(value, 0.75)"), 4).alias("hi"),
    )
    bands = F.broadcast(
        bounds.select(F.col("event_type").alias("band_type"), "lo", "hi")
    )
    return (
        events.join(
            bands,
            (F.col("value") >= F.col("lo"))
            & (F.col("value") <= F.col("hi"))
            & (F.col("event_type") != F.col("band_type")),
        )
        .groupBy("event_type", "band_type")
        .agg(F.count(F.lit(1)).alias("n_in_band"))
        .orderBy("event_type", "band_type")
    )


ORACLE_RANGE_JOIN = """
WITH bounds AS (
  SELECT event_type AS band_type,
         round(quantile_cont(value, 0.25), 4) AS lo,
         round(quantile_cont(value, 0.75), 4) AS hi
  FROM events GROUP BY 1
)
SELECT e.event_type, b.band_type, COUNT(*) AS n_in_band
FROM events e JOIN bounds b
  ON e.value >= b.lo AND e.value <= b.hi AND e.event_type <> b.band_type
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_pipeline_part1_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity driver row for the part-1 pipeline grouping
    (reference: Src/main.py:13-45 + Src/processes.py:228-232): Euler
    strings over time-ordered process logs, identical processes
    grouped with sorted member lists.

    Runs the REAL pipeline functions (functions.tree.process_encodings
    + pipeline.processes.equal_process_groups) over a deterministic
    log stream derived from the events table: each user is a process,
    its first four events (by ts, event_id) are the log rows, odd rows
    are Requests and even rows Responses, and the event_type is the
    server endpoint. Low sequence entropy (5^4 shapes across thousands
    of users) guarantees real multi-member groups, so the groupBy is
    exercised, not just a distinct.

    The dense group id is partition-parallel by design (operators.ids:
    ordered by (xxhash64 bucket, key)), which no ANSI oracle can
    replay, so the driver row exposes the grouping itself — key,
    sorted members, size; id density/uniqueness is pytest-asserted
    (tests/test_operators.py). The id machinery still RUNS here even
    though the output drops it — deliberate: the row certifies the
    actual pipeline function end-to-end, and this query sits in the
    correctness gate, not the bench headline, so the extra
    distinct+window+join is parity cost, not a hot-path cost.

    Scale: one window per user (bounded by rows-per-user), one shuffle
    on process_id for the encoder, one on euler_string for the
    grouping — the same shape the full pipeline runs at 100 TB.
    """
    from big_data_spark.functions.tree import process_encodings
    from big_data_spark.pipeline.processes import equal_process_groups

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    logs = (
        events.withColumn("time", F.row_number().over(w))
        .filter(F.col("time") <= 4)
        .select(
            F.concat(F.lit("p"), F.col("user_id").cast("string")).alias(
                "process_id"
            ),
            "time",
            F.when(F.col("time") % 2 == 1, F.lit("Request"))
            .otherwise(F.lit("Response"))
            .alias("action"),
            F.col("event_type").alias("state_from"),
            F.col("event_type").alias("state_to"),
        )
    )
    groups = equal_process_groups(
        process_encodings(logs).withColumnRenamed(
            "euler_string", "cluster_euler_string"
        )
    )
    return groups.select(
        F.col("cluster_euler_string").alias("euler_string"),
        F.array_join("equal_processes", ",").alias("members"),
        F.size("equal_processes").cast("long").alias("n_members"),
    ).orderBy("euler_string")


ORACLE_PIPELINE_PART1 = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), logs AS (
  SELECT 'p' || CAST(user_id AS VARCHAR) AS process_id, rn,
         CASE WHEN rn % 2 = 1 THEN 'Request' ELSE 'Response' END AS action,
         event_type AS state
  FROM ordered WHERE rn <= 4
), enc AS (
  SELECT process_id,
         string_agg(CASE WHEN action = 'Request' THEN '1' || state
                         ELSE '0' || state END, '-' ORDER BY rn) AS euler_string
  FROM logs GROUP BY process_id
)
SELECT euler_string,
       string_agg(process_id, ',' ORDER BY process_id) AS members,
       COUNT(*) AS n_members
FROM enc GROUP BY euler_string
ORDER BY euler_string
"""


def q_pipeline_part2_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity driver row for the part-2 SIMILAR-process
    grouping (reference: Src/processes.py:305-399) — the last pipeline
    lifecycle stage without an independent-engine check until now.

    Runs the REAL pipeline functions end-to-end: process_elements +
    equal_process_groups (pipeline.processes) feed the REAL
    similar_process_groups — graph DBSCAN over a similarity ε-graph,
    then the REAL edit-distance DBSCAN kernel per LSH cluster (on the
    driver for a graph of at most components.SMALL_GRAPH_ROWS rows, as
    here; operators.dbscan rounds and one applyInPandas task per
    cluster above that). Only the
    ε-graph construction is swapped (the ``edges`` override): seeded
    ML MinHash signatures cannot be replayed in ANSI SQL, so the row
    uses the exact Jaccard neighborhood that MinHashLSH approximates,
    built as an inverted-index join (explode elements, join on
    element, count — never all-pairs). Thresholds are integer
    arithmetic in both engines (5*common > 2*union, i.e. sim > 0.4;
    levenshtein < 2) so no float boundary can disagree.

    Cross-engine determinism tricks:
    - states are the event_type's first letter, so euler tokens are
      '1c'/'0v'-style pairs; the oracle compresses each token to ONE
      char (Request -> upper, Response -> lower — injective since the
      event types start with distinct lowercase letters), making
      DuckDB's char-level levenshtein equal the kernel's token-level
      edit distance;
    - group ids are min(member user_id) — replayable, unlike the
      pipeline's partition-parallel dense ids (certified in pytest);
    - edit_min_pts=3 so the core/border/noise branches of the DBSCAN
      kernel are all exercised, not just component labeling.

    Scale: the element inverted index is the dedup_ngram posting
    pattern (shuffle ~ posting-list squares, bounded by element
    cardinality); everything after runs on group-grain rows (orders
    of magnitude fewer than logs).
    """
    from big_data_spark.pipeline.processes import (
        equal_process_groups,
        process_elements,
        similar_process_groups,
    )
    from big_data_spark.functions.tree import process_encodings

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    clogs = (
        events.withColumn("time", F.row_number().over(w))
        .filter(F.col("time") <= 4)
        .select(
            F.concat(F.lit("p"), F.col("user_id").cast("string")).alias(
                "process_id"
            ),
            "time",
            F.when(F.col("time") % 2 == 1, F.lit("Request"))
            .otherwise(F.lit("Response"))
            .alias("action"),
            F.lower(F.substring("event_type", 1, 1)).alias("cluster_from"),
            F.lower(F.substring("event_type", 1, 1)).alias("cluster_to"),
        )
    )
    encodings = process_encodings(
        clogs.select(
            "process_id",
            "time",
            "action",
            F.col("cluster_from").alias("state_from"),
            F.col("cluster_to").alias("state_to"),
        )
    ).withColumnRenamed("euler_string", "cluster_euler_string")
    elements = process_elements(clogs)
    groups = equal_process_groups(encodings)
    # Replayable group id: min numeric member id; the representative
    # member (same id) carries the group's element set — any member
    # would do, identical euler string implies identical elements.
    with_gid = groups.select(
        "cluster_euler_string",
        F.array_min(
            F.transform(
                "equal_processes",
                lambda m: F.substring(m, 2, 18).cast("long"),
            )
        ).alias("group_processes_id"),
    ).withColumn(
        "rep_pid",
        F.concat(F.lit("p"), F.col("group_processes_id").cast("string")),
    )
    gwe = (
        with_gid.join(
            elements.withColumnRenamed("process_id", "rep_pid"), on="rep_pid"
        )
        .select("group_processes_id", "cluster_euler_string", "cluster_elements")
    )
    # Exact Jaccard ε-graph via inverted index (id_a < id_b once).
    ex = gwe.select(
        "group_processes_id", F.explode("cluster_elements").alias("element")
    )
    sizes = gwe.select(
        F.col("group_processes_id").alias("gid"),
        F.size("cluster_elements").alias("n_el"),
    )
    common = (
        ex.select(F.col("group_processes_id").alias("id_a"), "element")
        .join(
            ex.select(F.col("group_processes_id").alias("id_b"), "element"),
            on="element",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    edges = (
        common.join(sizes.withColumnRenamed("gid", "id_a"), on="id_a")
        .withColumnRenamed("n_el", "n_a")
        .join(sizes.withColumnRenamed("gid", "id_b"), on="id_b")
        .withColumnRenamed("n_el", "n_b")
        .filter(
            F.lit(5) * F.col("n_common")
            > F.lit(2) * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select("id_a", "id_b")
    )
    part2 = similar_process_groups(
        gwe, lsh_min_pts=2, edit_epsilon=2, edit_min_pts=3, edges=edges
    )
    return part2.select(
        "group_processes_id", "minhash_cluster", "ped_cluster", "is_core"
    ).orderBy("group_processes_id")


ORACLE_PIPELINE_PART2 = """
WITH RECURSIVE ordered AS (
  SELECT user_id, lower(substr(event_type, 1, 1)) AS st,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), logs AS (
  SELECT user_id, rn, st,
         CASE WHEN rn % 2 = 1 THEN 'Request' ELSE 'Response' END AS action
  FROM ordered WHERE rn <= 4
), enc AS (
  -- euler string with each '1'||st / '0'||st token compressed to one
  -- char (Request -> upper, Response -> lower): char-level levenshtein
  -- on this equals the kernel's token-level edit distance.
  SELECT user_id,
         string_agg(CASE WHEN action = 'Request' THEN upper(st) ELSE st END,
                    '' ORDER BY rn) AS ce
  FROM logs GROUP BY user_id
), elems AS (
  SELECT user_id, st, st || ':' || string_agg(st, ',' ORDER BY rn) AS element
  FROM logs WHERE action = 'Request' GROUP BY user_id, st
), pelems AS (
  SELECT user_id, list_sort(list(element)) AS elements FROM elems GROUP BY user_id
), grp AS (
  SELECT ce, CAST(MIN(user_id) AS BIGINT) AS gid FROM enc GROUP BY ce
), gwe AS (
  SELECT g.gid, g.ce, p.elements FROM grp g JOIN pelems p ON p.user_id = g.gid
), pairs AS (
  SELECT a.gid AS ga, b.gid AS gb
  FROM gwe a JOIN gwe b ON a.gid < b.gid
  WHERE 5 * len(list_intersect(a.elements, b.elements))
        > 2 * len(list_distinct(a.elements || b.elements))
), sym AS (
  SELECT ga AS p, gb AS q FROM pairs UNION ALL SELECT gb, ga FROM pairs
), cc AS (
  SELECT p AS node, p AS lbl FROM (SELECT DISTINCT p FROM sym)
  UNION
  SELECT s.q, c.lbl FROM cc c JOIN sym s ON s.p = c.node
), mh AS (
  SELECT node AS gid, MIN(lbl) AS mc FROM cc GROUP BY node
), epairs AS (
  SELECT m1.mc, m1.gid AS ga, m2.gid AS gb
  FROM mh m1 JOIN mh m2 ON m1.mc = m2.mc AND m1.gid < m2.gid
  JOIN gwe a ON a.gid = m1.gid JOIN gwe b ON b.gid = m2.gid
  WHERE levenshtein(a.ce, b.ce) < 2
), esym AS (
  SELECT mc, ga AS p, gb AS q FROM epairs
  UNION ALL SELECT mc, gb, ga FROM epairs
), cores AS (
  SELECT mc, p FROM (SELECT mc, p, COUNT(*) AS nn FROM esym GROUP BY mc, p)
  WHERE nn + 1 >= 3
), coreedges AS (
  SELECT e.mc, e.p, e.q FROM esym e
  JOIN cores c1 ON c1.mc = e.mc AND c1.p = e.p
  JOIN cores c2 ON c2.mc = e.mc AND c2.p = e.q
), ecc AS (
  SELECT mc, p AS node, p AS lbl FROM cores
  UNION
  SELECT ce.mc, ce.q, c.lbl FROM ecc c
  JOIN coreedges ce ON ce.mc = c.mc AND ce.p = c.node
), elab AS (
  SELECT mc, node, MIN(lbl) AS comp FROM ecc GROUP BY mc, node
), corerows AS (
  SELECT c.mc, c.p AS gid, l.comp AS ped, 'core' AS is_core
  FROM cores c JOIN elab l ON l.mc = c.mc AND l.node = c.p
), borderrows AS (
  SELECT e.mc, e.p AS gid, MIN(l.comp) AS ped, 'border' AS is_core
  FROM esym e
  JOIN cores cq ON cq.mc = e.mc AND cq.p = e.q
  JOIN elab l ON l.mc = e.mc AND l.node = e.q
  WHERE NOT EXISTS (SELECT 1 FROM cores cp WHERE cp.mc = e.mc AND cp.p = e.p)
  GROUP BY e.mc, e.p
)
SELECT gid AS group_processes_id, mc AS minhash_cluster,
       ped AS ped_cluster, is_core
FROM (SELECT * FROM corerows UNION ALL SELECT * FROM borderrows)
ORDER BY group_processes_id
"""


# --------------------------------------------------------------------
# Lakehouse maintenance: MERGE INTO / CDC apply
# --------------------------------------------------------------------


def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO on a real fact slice: the target misses every 4th
    order, the change set re-prices every even order (+10%, priority
    'MERGED'), finished ('F') changes are deletes. Exercises all
    three MERGE clauses — matched-update, matched-delete,
    not-matched-insert — plus the insert gate (a delete arriving for
    an absent key is a no-op, not an insert).

    Plan: one full-outer key join (operators/merge.py) — AQE
    broadcasts the smaller side; the strict cardinality guard rides
    the source-side window only, so the target flows shuffle-free on
    the broadcast path."""
    from big_data_spark.operators.merge import merge_into

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    ]
    target = o.filter(F.col("o_orderkey") % 4 != 0).select(*cols)
    source = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        # double * double: one IEEE op, bit-identical in both engines
        (F.col("o_totalprice") * F.lit(1.1)).alias("o_totalprice"),
        F.lit("MERGED").alias("o_orderpriority"),
    )
    merged = merge_into(
        target,
        source,
        ["o_orderkey"],
        update_cols=["o_totalprice", "o_orderpriority"],
        delete_condition=F.col("s.o_orderstatus") == "F",
        insert_condition=F.col("s.o_orderstatus") != "F",
    )
    return merged.orderBy("o_orderkey")


ORACLE_MERGE_UPSERT = """
WITH t AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
  FROM orders WHERE o_custkey < 300 AND o_orderkey % 4 <> 0
), s AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice * 1.1 AS o_totalprice,
         'MERGED' AS o_orderpriority
  FROM orders WHERE o_custkey < 300 AND o_orderkey % 2 = 0
)
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
            ELSE t.o_totalprice END AS o_totalprice,
       CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority
            ELSE t.o_orderpriority END AS o_orderpriority
FROM t LEFT JOIN s ON t.o_orderkey = s.o_orderkey
WHERE s.o_orderkey IS NULL OR s.o_orderstatus <> 'F'
UNION ALL
SELECT s.o_orderkey, s.o_custkey, s.o_orderstatus,
       s.o_totalprice, s.o_orderpriority
FROM s
WHERE s.o_orderstatus <> 'F'
  AND NOT EXISTS (SELECT 1 FROM t WHERE t.o_orderkey = s.o_orderkey)
ORDER BY o_orderkey
"""


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply: each order is a change event against a customer
    balance mirror — op 'D' when the order finished ('F'), else
    upsert of the order's total as the new balance; the latest
    (o_orderdate, o_orderkey) change per customer wins. Customers
    with no orders pass through; a winning delete removes the row
    even for never-seen keys (no-op) — the Debezium fold,
    end-to-end through operators/cdc.py.

    Plan: the row_number winner pass shuffles only the change batch;
    the fold itself is the single merge join."""
    from big_data_spark.operators.cdc import apply_changes

    snap = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 500)
        .select("c_custkey", "c_acctbal")
    )
    ch = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 500)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.col("o_totalprice").alias("c_acctbal"),
            # NTZ -> UTC-pinned timestamp -> epoch seconds (BIGINT)
            F.col("o_orderdate").cast("timestamp").cast("long").alias("seq"),
            F.col("o_orderkey").alias("idx"),
            F.when(F.col("o_orderstatus") == "F", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
    )
    return apply_changes(snap, ch, ["c_custkey"], "seq", "idx").orderBy(
        "c_custkey"
    )


ORACLE_CDC_APPLY = """
WITH snap AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey < 500
), ch AS (
  SELECT o_custkey AS c_custkey, o_totalprice AS c_acctbal,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) AS seq,
         o_orderkey AS idx,
         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
  FROM orders WHERE o_custkey < 500
), win AS (
  SELECT c_custkey, c_acctbal, op FROM (
    SELECT *, row_number() OVER (
      PARTITION BY c_custkey ORDER BY seq DESC, idx DESC) AS rn
    FROM ch
  ) WHERE rn = 1
)
SELECT COALESCE(s.c_custkey, w.c_custkey) AS c_custkey,
       CASE WHEN w.c_custkey IS NOT NULL THEN w.c_acctbal
            ELSE s.c_acctbal END AS c_acctbal
FROM snap s FULL JOIN win w ON s.c_custkey = w.c_custkey
WHERE w.op IS NULL OR w.op <> 'D'
ORDER BY c_custkey
"""


def q_mv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance, cross-engine: a per-customer
    revenue view built over a base slice of orders, then refreshed
    with a change batch (every 3rd order inserted; the base's
    finished orders retracted via their before-image) — the result
    must equal the oracle's from-scratch aggregate over the final
    row set. Measures ride as DECIMAL so both the one-pass oracle
    fold and the two-step incremental fold are exact (a double sum
    would differ by association order).

    Plan: refresh cost is one agg of the change batch + one merge
    against the |groups|-row view; the base is never rescanned."""
    from big_data_spark.operators.incremental import refresh_aggregate

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 400)
    price = F.col("o_totalprice").cast("decimal(28,2)")
    base = o.filter(F.col("o_orderkey") % 3 != 0)
    mv = base.groupBy("o_custkey").agg(
        F.sum(price).alias("v"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    inserts = o.filter(F.col("o_orderkey") % 3 == 0).select(
        "o_custkey", price.alias("v"), F.lit("I").alias("op")
    )
    deletes = base.filter(F.col("o_orderstatus") == "F").select(
        "o_custkey", price.alias("v"), F.lit("D").alias("op")
    )
    refreshed = refresh_aggregate(
        mv,
        inserts.unionByName(deletes),
        ["o_custkey"],
        ["v"],
        op_col="op",
    )
    return refreshed.select(
        "o_custkey",
        F.col("v").cast("double").alias("revenue"),
        "n_rows",
    ).orderBy("o_custkey")


ORACLE_MV_REFRESH = """
SELECT o_custkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_rows
FROM orders
WHERE o_custkey < 400
  AND (o_orderkey % 3 = 0 OR o_orderstatus <> 'F')
GROUP BY o_custkey
ORDER BY o_custkey
"""


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-occurrence graph (parts
    sharing an order are connected) — the graph-analytics staple
    beyond components/PageRank.

    Algorithm choice is the scale story: the naive oriented 3-way
    self-join materializes every WEDGE through a shuffle (49M rows at
    sf0.1 for 1.2M edges — measured 20 s here, and quadratic-in-degree
    at 100 TB). This instead runs the edge-iterator: orient each edge
    from its (degree, id)-smaller endpoint (bounds out-degree by
    ~sqrt(m), counts each triangle exactly once), build per-vertex
    sorted out-neighbor arrays, and count
    sum(|N+(a) ∩ N+(b)|) per oriented edge with a JVM
    array_intersect — wedges never hit a shuffle; the only exchanges
    are the degree agg, the adjacency agg, and two equi-joins of the
    edge list against the (|V|-row) adjacency table, which AQE
    broadcasts when small and co-partitions at scale. Measured 3.2x
    faster than the wedge join at sf0.1 (19.8 s -> 6.2 s)."""
    from big_data_spark.lineage import truncate_lineage

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    e = truncate_lineage(
        li.alias("a")
        .join(li.alias("b"), "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("vtx"))
        .unionAll(e.select(F.col("v").alias("vtx")))
        .groupBy("vtx")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient by (deg, id): a -> b iff (deg_u, u) < (deg_v, v). No
    # broadcast hint on the |V|-row degree table: AQE broadcasts it
    # when it is small and falls back to a co-partitioned join when
    # the vertex set outgrows executor memory — a forced broadcast of
    # billions of vertices would fail outright at scale.
    withdeg = (
        e.join(deg.withColumnRenamed("vtx", "u"), "u")
        .withColumnRenamed("deg", "deg_u")
        .join(
            deg.withColumnRenamed("vtx", "v").withColumnRenamed(
                "deg", "deg_v"
            ),
            "v",
        )
    )
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    oriented = withdeg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("b"),
    )
    adj = oriented.groupBy(F.col("a").alias("vtx")).agg(
        F.sort_array(F.collect_list("b")).alias("nbrs")
    )
    # Inner joins: every oriented edge's `a` is an adjacency key by
    # construction, and an edge whose `b` has no out-neighbors
    # contributes zero triangles either way.
    inter = (
        oriented.join(adj.withColumnRenamed("vtx", "a"), "a")
        .withColumnRenamed("nbrs", "nbrs_a")
        .join(
            adj.withColumnRenamed("vtx", "b").withColumnRenamed(
                "nbrs", "nbrs_b"
            ),
            "b",
        )
        .select(
            F.size(F.array_intersect("nbrs_a", "nbrs_b")).alias("n")
        )
    )
    n_e = e.agg(F.count(F.lit(1)).alias("n_edges"), F.lit(1).alias("_j"))
    n_t = inter.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_triangles"),
        F.lit(1).alias("_j"),
    )
    return n_e.join(n_t, "_j").select("n_edges", "n_triangles")


ORACLE_TRIANGLES = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
)
SELECT (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(*) FROM e e1
          JOIN e e2 ON e1.v = e2.u
          JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles
"""


PAGERANK_ITERS = 8
PAGERANK_DAMPING = 0.85


def q_pagerank_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer–supplier trade network (an edge per
    distinct supplier->customer shipping relationship, symmetrized so
    importance flows both ways), top 20 vertices — routed THROUGH the
    generic operator (operators/pagerank.py), like asof_join.

    Iterations are FROZEN at PAGERANK_ITERS with tol=0 so the result
    is a pure function of the edge set and cross-engine checkable:
    the DuckDB oracle unrolls the same 8 iterations as chained CTEs
    (no dangling term needed — the symmetrized graph gives every
    vertex an out-edge). Ranks rounded to 6 dp on both sides; the
    top-20 cutoff orders by (rounded rank DESC, vertex) so the pick
    is deterministic in both engines.

    Vertex ids are integers in one namespace — suppliers positive,
    customers mapped to -(custkey+1) (customer AND supplier keys both
    start at 0, so plain negation would conflate customer 0 with
    supplier 0) — so the shuffle keys are 8-byte longs, not strings,
    and edge dedup happens ONCE (inside the operator) rather than per
    derivation step."""
    from big_data_spark.io.readers import parallelize_small_scan
    from big_data_spark.operators.pagerank import pagerank

    li = parallelize_small_scan(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("src"),
        (-F.col("o_custkey") - F.lit(1)).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(
        edges,
        damping=PAGERANK_DAMPING,
        max_iter=PAGERANK_ITERS,
        tol=0.0,
        check_every=PAGERANK_ITERS + 1,
        # 8 frozen iterations, lineage cut every 1: with LAZY
        # checkpoints each cut is free (the next broadcast build
        # is the materializing job — no extra action), and every
        # UN-truncated iteration is re-executed by every later
        # broadcast build in its window — a 2-wide window re-runs ~12
        # iteration shuffles for the 8 real ones, a 4-wide ~20, and
        # width 1 exactly the 8 real ones, the minimum. Interleaved
        # same-window A/B at sf0.1 (8 paired reps): every-1
        # beat every-2 in 6/8 pairs, paired mean -0.34 s (medians
        # 5.37 vs 5.63 s under load; earlier quiet pass: every-2
        # ~4.0-4.3 s, every-4 ~4.2-4.5 s, every-8 ~12.5 s — the
        # quadratic window blowup made visible). A no-broadcast
        # single-action chain (SMJ on the co-partitioned tables) was
        # also measured and lost (~6.1 s median): the per-iteration
        # sorts cost more than the broadcast builds save.
        truncate_every=1,
    )
    return (
        pr.select("vertex", F.round("rank", 6).alias("rank"))
        .orderBy(F.desc("rank"), "vertex")
        .limit(20)
    )


def _pagerank_oracle() -> str:
    """Chained-CTE unroll of the same frozen iteration count; float
    literals are repr()s of the exact Python doubles the operator
    uses, so both engines run bit-identical constants."""
    d = PAGERANK_DAMPING
    base_num = 1.0 - d
    parts = [
        """e0 AS (
  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(-o_custkey - 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
verts AS (SELECT DISTINCT src AS v FROM edges),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM verts),
r0 AS (SELECT v, CAST(1 AS DOUBLE) / (SELECT n FROM nv) AS rank FROM verts)"""
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        parts.append(
            f"""r{i} AS (
  SELECT e.dst AS v,
         {base_num!r} / (SELECT n FROM nv)
           + {d!r} * SUM(r.rank / d2.deg) AS rank
  FROM edges e
  JOIN r{i - 1} r ON r.v = e.src
  JOIN deg d2 ON d2.src = e.src
  GROUP BY e.dst
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT v AS vertex, round(rank, 6) AS rank FROM r{PAGERANK_ITERS}"
        + "\nORDER BY round(rank, 6) DESC, v LIMIT 20"
    )


ORACLE_PAGERANK = _pagerank_oracle()


SSP_LANDMARKS = (0, 1, 2)  # supplier vertices; keys start at 0 at every sf
SSP_MAX_HOPS = 6


def q_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark hop distances over the same symmetrized
    supplier-customer trade graph as pagerank_topn (suppliers
    positive, customers -(custkey+1)): for every vertex, the minimum
    number of hops to each of three hub suppliers, capped at
    SSP_MAX_HOPS — GraphFrames' shortestPaths surface, routed THROUGH
    the delta-frontier BFS operator (operators/paths.py).

    Deterministic (pure function of the edge set, frozen hop cap), so
    the DuckDB oracle is a recursive CTE over the same edges with
    UNION-dedup bounding state at |V| x |L| x max_hops rows."""
    from big_data_spark.io.readers import parallelize_small_scan
    from big_data_spark.operators.paths import shortest_paths

    li = parallelize_small_scan(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("src"),
        (-F.col("o_custkey") - F.lit(1)).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sp = shortest_paths(
        edges, list(SSP_LANDMARKS), max_hops=SSP_MAX_HOPS
    )
    return sp.orderBy("vertex", "landmark")


PSI_LO, PSI_HI, PSI_BINS = 900.0, 105000.0, 32
PSI_SPLIT = "1998-07-01"
PSI_EPS = 1e-6


def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection: Population Stability Index of
    the l_extendedprice distribution per return flag, early shipments
    vs late (split at PSI_SPLIT) — the monitoring pass that catches a
    feed silently changing shape. Routed through the sketch family:
    one fixed-bin histogram per side (operators/histogram.py
    hist_sketch — mergeable, streaming-safe), then hist_psi compares
    n_keys x n_bins COUNT rows, never the raw data twice.

    Determinism: bucket assignment is one float expression mirrored
    literally in the oracle; probabilities are single divisions of
    exact counts, one ln per bucket ratio (the PMI discipline), and
    the <=32-term per-key sum sits far inside the 1e-6 rounding."""
    from big_data_spark.operators.histogram import hist_psi, hist_sketch

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_shipdate"
    )
    early = li.filter(F.col("l_shipdate") < F.lit(PSI_SPLIT).cast("timestamp"))
    late = li.filter(F.col("l_shipdate") >= F.lit(PSI_SPLIT).cast("timestamp"))
    ha = hist_sketch(early, ["l_returnflag"], "l_extendedprice", PSI_LO, PSI_HI, PSI_BINS)
    hb = hist_sketch(late, ["l_returnflag"], "l_extendedprice", PSI_LO, PSI_HI, PSI_BINS)
    return (
        hist_psi(ha, hb, ["l_returnflag"], eps=PSI_EPS)
        .select("l_returnflag", F.round("psi", 6).alias("psi"))
        .orderBy("l_returnflag")
    )


ORACLE_DRIFT_PSI = f"""
WITH binned AS (
  SELECT l_returnflag,
         l_shipdate < TIMESTAMP '{PSI_SPLIT} 00:00:00' AS early,
         CAST(LEAST(GREATEST(floor((l_extendedprice - {PSI_LO!r}) / {PSI_HI - PSI_LO!r} * {PSI_BINS}), 0), {PSI_BINS - 1}) AS INT) AS bucket
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
ca AS (SELECT l_returnflag, bucket, COUNT(*) AS n FROM binned WHERE early GROUP BY 1, 2),
cb AS (SELECT l_returnflag, bucket, COUNT(*) AS n FROM binned WHERE NOT early GROUP BY 1, 2),
ta AS (SELECT l_returnflag, SUM(n) AS tot FROM ca GROUP BY 1),
tb AS (SELECT l_returnflag, SUM(n) AS tot FROM cb GROUP BY 1),
pa AS (SELECT ca.l_returnflag, bucket, ca.n / ta.tot AS p FROM ca JOIN ta USING (l_returnflag)),
pb AS (SELECT cb.l_returnflag, bucket, cb.n / tb.tot AS p FROM cb JOIN tb USING (l_returnflag)),
j AS (
  SELECT l_returnflag,
         GREATEST(COALESCE(pa.p, 0.0), {PSI_EPS!r}) AS qa,
         GREATEST(COALESCE(pb.p, 0.0), {PSI_EPS!r}) AS qb
  FROM pa FULL OUTER JOIN pb USING (l_returnflag, bucket)
)
SELECT l_returnflag, round(SUM((qa - qb) * (ln(qa) - ln(qb))), 6) AS psi
FROM j GROUP BY l_returnflag ORDER BY l_returnflag
"""


# ONE SQL string, two engines: executed by Spark via the catalog
# module's temp views AND by DuckDB verbatim as its own oracle. The
# portability contract: ANSI joins/aggregates, TIMESTAMP literals,
# CAST(... AS STRING) for dates (both engines render ISO dates
# identically), round() for the float path. TPC-H Q3's shape
# (shipping-priority revenue) over the testdata tables.
PORTABLE_REVENUE_SQL = """
SELECT o_orderkey,
       CAST(CAST(o_orderdate AS DATE) AS STRING) AS order_date,
       round(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


def q_sql_portable_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door (catalog.py): raw ANSI SQL through
    spark.sql over the registered views — the oracle runs the SAME
    text, so this row proves the two-engine portability contract,
    not just result parity of two hand-matched formulations."""
    from big_data_spark.catalog import run_sql

    return run_sql(spark, sf_dir, PORTABLE_REVENUE_SQL)


# One ANSI-shaped string over the SnapshotCatalog SQL door: VERSION
# AS OF / TIMESTAMP AS OF relations (read from Spark's parse tree and
# rewritten to version views through the manifest layer), plus the
# unsuffixed current view. Revenue aggregates in exact DECIMAL and
# casts once at the end, so both engines emit bit-identical doubles.
SNAPSHOT_ASOF_SQL = """
SELECT version, o_custkey, n_orders, revenue
FROM (
  SELECT 'v0' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(o_totalprice) AS DOUBLE) AS revenue
  FROM snap_orders VERSION AS OF 0 GROUP BY o_custkey
  UNION ALL
  SELECT 'ts0' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(o_totalprice) AS DOUBLE) AS revenue
  FROM snap_orders TIMESTAMP AS OF '{ts0}' GROUP BY o_custkey
  UNION ALL
  SELECT 'latest' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(o_totalprice) AS DOUBLE) AS revenue
  FROM snap_orders GROUP BY o_custkey
) v
ORDER BY version, o_custkey
"""


def q_sql_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel over the engine's own table format: build a
    two-version snapshot table from an orders slice (v0 = the base
    slice; v1 = surcharge every price by 10.00 and drop finished
    orders — a full atomic rewrite), register it through
    SnapshotCatalog, and answer ONE SQL string that reads the v0
    state TWICE — ``VERSION AS OF 0`` and ``TIMESTAMP AS OF
    '<v0's commit ts>'`` (both travel spellings resolve through
    the manifest layer) — plus the current view. The oracle
    re-derives each version's content from the raw ``orders`` table,
    so a wrong manifest or timestamp resolution (stale generation,
    mixed versions, lost rewrite, non-monotone commit ts)
    hash-mismatches immediately.

    Scale: the snapshot reads are ordinary pruned parquet scans
    (io/snapshot.py); registering views adds no materialization and
    timestamp resolution is manifest metadata only."""
    import hashlib
    import os
    import shutil
    import tempfile
    from datetime import datetime, timezone

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.manifest import read_manifest
    from big_data_spark.io.table_writes import write_snapshot

    tdir = fixture_dir("bds_sqlsnap", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    v0 = base.select("o_orderkey", "o_custkey", price.alias("o_totalprice"))
    write_snapshot(v0, tdir)
    v1 = base.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey",
        "o_custkey",
        (price + F.lit("10.00").cast("decimal(18,2)")).cast(
            "decimal(18,2)"
        ).alias("o_totalprice"),
    )
    write_snapshot(v1, tdir)
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("snap_orders", tdir)
    ts0 = read_manifest(spark, tdir, 0)["committed_at_ms"]
    iso = datetime.fromtimestamp(ts0 / 1000.0, tz=timezone.utc).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    return cat.sql(SNAPSHOT_ASOF_SQL.format(ts0=iso))


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed read over the engine's own table format
    (io/snapshot.py read_changes): build a four-commit table from an
    orders slice — v0 base write, v1 append, v2 COMPACTION
    (maintenance — must contribute nothing to the feed), v3 full
    rewrite (surcharge prices, drop finished orders) — then summarize
    every insert/delete the feed reports per commit. The oracle
    re-derives each commit's change set from the raw ``orders``
    table, so a wrong manifest diff (missed delete, phantom insert,
    compaction leaking into the feed) hash-mismatches immediately.

    Scale: the feed is manifest-diff metadata plus ordinary pruned
    parquet scans of only the CHANGED generations — cost tracks the
    change set, never the table."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.compact import compact_snapshot
    from big_data_spark.io.changes import read_changes
    from big_data_spark.io.table_writes import append_snapshot, write_snapshot

    tdir = fixture_dir("bds_feed", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        price.alias("o_totalprice"),
    )
    # Slice on orderkey modulo — non-empty at EVERY scale factor, so
    # each commit's change set exists wherever the gate runs.
    m = F.col("o_orderkey") % 4
    write_snapshot(base.filter(m < 2), tdir, 0)
    append_snapshot(base.filter(m == 2), tdir, 1)
    compact_snapshot(spark, tdir)  # commit 2: content-preserving
    v3 = base.filter(
        (m < 3) & (F.col("o_orderstatus") != "F")
    ).withColumn(
        "o_totalprice",
        (F.col("o_totalprice") + F.lit("10.00").cast("decimal(18,2)"))
        .cast("decimal(18,2)"),
    )
    write_snapshot(v3, tdir, 3)
    feed = read_changes(spark, tdir, after_id=0)
    return (
        feed.groupBy(
            F.col("_commit_id").alias("commit_id"),
            F.col("_change_type").alias("change_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_totalprice").cast("double").alias("total"),
        )
        .orderBy("commit_id", "change_type")
    )


ORACLE_SNAPSHOT_CHANGES = """
SELECT commit_id, change_type, n_rows, total
FROM (
  SELECT CAST(1 AS INTEGER) AS commit_id, 'insert' AS change_type,
         COUNT(*) AS n_rows,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders WHERE o_orderkey % 4 = 2
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'delete', COUNT(*),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
  FROM orders WHERE o_orderkey % 4 < 3
  UNION ALL
  SELECT CAST(3 AS INTEGER), 'insert', COUNT(*),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST('10.00' AS DECIMAL(18,2))) AS DOUBLE)
  FROM orders WHERE o_orderkey % 4 < 3 AND o_orderstatus <> 'F'
) c
ORDER BY commit_id, change_type
"""


def q_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level pruned read over a MULTI-COLUMN partitioned snapshot
    table: build an orders table partitioned
    on (o_orderstatus, o_orderpriority) — manifest entries keyed per
    leaf combination — partial-replace exactly ONE leaf ('O',
    '1-URGENT') with surcharged prices (untouched leaves carry by
    reference), then answer a per-priority rollup of status 'O'
    through BOTH pruning levels: ``partitions=`` drops every non-O
    entry at the MANIFEST (zero file listings for them) and the
    ``o_orderkey`` range prunes files inside the kept leaves from the
    COMMIT-TIME stats block (zero footer opens). The oracle re-derives
    the same rollup from the raw ``orders`` table, so a wrong leaf
    reconcile (stale carried partition, lost replace, key-escaping
    drift) or a lossy prune hash-mismatches immediately.

    Scale: the manifest prune is O(#partitions) driver metadata, the
    stats prune O(#files in kept leaves) dict math; only matching
    files are scanned — the (date, region) fact-table read path."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import write_snapshot_partial

    tdir = fixture_dir("bds_pprune", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    price = F.col("o_totalprice").cast("decimal(18,2)")
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        "o_orderpriority",
        price.alias("o_totalprice"),
    )
    pcols = ["o_orderstatus", "o_orderpriority"]
    leaves = [
        (r["o_orderstatus"], r["o_orderpriority"])
        for r in base.select(*pcols).distinct().collect()
    ]
    write_snapshot_partial(base, tdir, 0, pcols, touched_keys=leaves)
    hot = base.filter(
        (F.col("o_orderstatus") == "O")
        & (F.col("o_orderpriority") == "1-URGENT")
    ).withColumn(
        "o_totalprice",
        (F.col("o_totalprice") + F.lit("10.00").cast("decimal(18,2)"))
        .cast("decimal(18,2)"),
    )
    write_snapshot_partial(
        hot, tdir, 1, pcols, touched_keys=[("O", "1-URGENT")]
    )
    pruned = read_snapshot(
        spark,
        tdir,
        partitions={"o_orderstatus": "O"},
        predicate={"o_orderkey": (None, 20000.0)},
    )
    return (
        pruned.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total"),
        )
        .orderBy("o_orderpriority")
    )


ORACLE_PARTITIONED_PRUNE = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
                THEN CAST(o_totalprice AS DECIMAL(18,2))
                     + CAST('10.00' AS DECIMAL(18,2))
                ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
            AS DOUBLE) AS total
FROM orders
WHERE o_orderstatus = 'O' AND o_orderkey <= 20000
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_typed_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed data skipping end-to-end: publish events as a
    snapshot table CLUSTERED ON ts (range partition + sort, so file
    min/max are narrow on event time), then answer a per-type rollup
    of one January week through a predicate of a TIMESTAMP range (ISO
    string bound — the everyday spelling) AND a STRING range on
    event_type. Both prune from the COMMIT-TIME manifest stats block:
    zero footer opens, and the timestamp interval drops the ~3/4 of
    files outside the week before any scan. The oracle re-derives the
    rollup from the raw events table in DuckDB, so a lossy prune (a
    false file drop from a timezone shift, a lexicographic-vs-
    chronological normalization slip, truncated microseconds) hash-
    mismatches immediately.

    Scale: event-time ranges and string-key equality are THE dominant
    predicates on a 100 TB fact table; this path decides them per
    file from O(#files) driver metadata, the Iceberg read trade.
    Iceberg keeps typed lower/upper bounds per file in its manifests
    (public spec, format v2 §Manifests); this mirrors that design on
    parquet footers harvested once at commit."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import write_snapshot

    tdir = fixture_dir("bds_tprune", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    # read_table canonicalizes events.ts to epoch-NANOSECOND longs;
    # rebuild the real timestamp column (exact: the generator writes
    # microsecond precision) so the snapshot carries a true
    # timestamp-kind stats column.
    base = _t(spark, sf_dir, "events").select(
        "event_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("ts"),
        "event_type",
        "value",
    )
    write_snapshot(
        base.repartitionByRange(8, "ts").sortWithinPartitions("ts"), tdir
    )
    DEC = "decimal(18,2)"
    pruned = read_snapshot(
        spark,
        tdir,
        predicate={
            "ts": ("2024-01-08 00:00:00", "2024-01-15 00:00:00"),
            "event_type": ("click", "purchase"),
        },
    )
    return (
        pruned.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias(
                "sum_value"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_TYPED_PRUNE = """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
  AND ts <= TIMESTAMP '2024-01-15 00:00:00'
  AND event_type >= 'click' AND event_type <= 'purchase'
GROUP BY event_type
ORDER BY event_type
"""


METADATA_AGG_SQL = (
    "SELECT COUNT(*) AS n_orders, "
    "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key, "
    "SUM(o_orderkey) AS sum_key, AVG(o_custkey) AS avg_cust, "
    "MIN(o_orderstatus) AS min_status, MAX(o_orderstatus) AS max_status, "
    "MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price, "
    "MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date "
    "FROM meta_orders"
)


def q_metadata_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates through the SQL door: publish an
    orders snapshot with stats on five
    columns spanning every stat kind (bigint, string, double,
    timestamp), then answer one SELECT holding COUNT(*), MIN/MAX over
    each kind, an exact integer SUM and an AVG — entirely from the
    manifest's per-generation stats sidecars, zero data-file reads
    (the plan is asserted scan-free: a silent fall-through to the
    real query would defeat what this row certifies). The oracle
    re-derives every aggregate relationally from raw ``orders``, so
    a wrong stats fold (lossy min/max normalization, off-by-one row
    counts, inexact sums) hash-mismatches immediately. AVG is
    spelled SUM/COUNT on the oracle side — both engines then divide
    the SAME exact-integer double, IEEE-identical (module header
    convention).

    Scale: this is the planning-query shape (`SELECT MIN(d), MAX(d)
    FROM t`) that must NOT scan a 100 TB table — cost is
    O(#generations) sidecar reads, independent of data volume."""
    import shutil

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.table_writes import write_snapshot

    tdir = fixture_dir("bds_magg", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
    )
    write_snapshot(
        orders,
        tdir,
        stats_columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
        ],
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register("meta_orders", tdir)
    out = cat.sql(METADATA_AGG_SQL)
    if out.inputFiles():
        raise AssertionError(
            "metadata_aggregates: the SQL door fell through to a "
            "scan — the metadata fast path must answer this shape"
        )
    return out.select(
        "n_orders",
        "min_key",
        "max_key",
        "sum_key",
        "avg_cust",
        "min_status",
        "max_status",
        "min_price",
        "max_price",
        F.unix_timestamp("min_date").alias("min_date"),
        F.unix_timestamp("max_date").alias("max_date"),
    )


ORACLE_METADATA_AGGREGATES = """
SELECT COUNT(*) AS n_orders,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
       CAST(SUM(o_custkey) AS DOUBLE) / COUNT(o_custkey) AS avg_cust,
       MIN(o_orderstatus) AS min_status, MAX(o_orderstatus) AS max_status,
       MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
       CAST(floor(epoch(MIN(o_orderdate))) AS BIGINT) AS min_date,
       CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT) AS max_date
FROM orders
"""


_PMETA_AGG = (
    "COUNT(*) AS n_orders, MIN(o_orderkey) AS min_key, "
    "MAX(o_orderkey) AS max_key, SUM(o_orderkey) AS sum_key, "
    "MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date"
)


def _orders_by_status_fixture(
    spark: SparkSession,
    sf_dir: str,
    fixture: str,
    name: str,
    cols: list[str],
    stats_columns: list[str],
):
    """Publish orders PARTITIONED on o_orderstatus (manifest entries
    keyed per status leaf) and register it under ``name`` — the one
    fixture builder behind both metadata-planning rows
    (metadata_partition_agg / metadata_groupby_agg), parameterized on
    the selected columns and stats set."""
    import shutil

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.table_writes import write_snapshot_partial

    tdir = fixture_dir(fixture, sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(*cols)
    statuses = sorted(
        r["o_orderstatus"]
        for r in orders.select("o_orderstatus").distinct().collect()
    )
    write_snapshot_partial(
        orders,
        tdir,
        0,
        "o_orderstatus",
        touched_keys=statuses,
        stats_columns=stats_columns,
    )
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register(name, tdir)
    return cat


def q_metadata_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-predicate metadata aggregates: publish orders PARTITIONED on o_orderstatus (manifest
    entries keyed per status), then answer ``SELECT COUNT(*),
    MIN/MAX, SUM ... WHERE o_orderstatus = 'O'`` and an
    ``IN ('F', 'P')`` variant entirely from the MATCHING partitions'
    live entries + stats sidecars — the single most common planning
    query on a partitioned fact table, zero data-file reads (both
    plans asserted scan-free; a silent fall-through would defeat
    what this row certifies). Exact because a data file lives
    entirely inside one partition leaf: partition-level pruning
    loses no rows and admits no extras. The oracle re-derives both
    filtered aggregate rows relationally from raw ``orders``, so a
    wrong leaf selection (escaping drift, stale carried partition)
    or a mis-scoped fold hash-mismatches immediately.

    Scale: cost is O(#partitions) driver metadata to select entries
    plus O(matching generations) sidecar reads — independent of
    data volume, the Iceberg/Delta partition-stats planning path."""
    cat = _orders_by_status_fixture(
        spark,
        sf_dir,
        "bds_pmagg",
        "pmeta_orders",
        ["o_orderkey", "o_orderstatus", "o_orderdate"],
        ["o_orderkey", "o_orderdate"],
    )
    probes = [
        ("eq", "WHERE o_orderstatus = 'O'"),
        ("in", "WHERE o_orderstatus IN ('F', 'P')"),
    ]
    outs = []
    for tag, clause in probes:
        df = cat.sql(
            f"SELECT {_PMETA_AGG} FROM pmeta_orders {clause}"
        )
        if df.inputFiles():
            raise AssertionError(
                "metadata_partition_agg: the SQL door fell through "
                f"to a scan on {clause!r} — the partition-predicate "
                "fast path must answer this shape"
            )
        outs.append(df.select(F.lit(tag).alias("probe"), "*"))
    return (
        outs[0]
        .unionByName(outs[1])
        .select(
            "probe",
            "n_orders",
            "min_key",
            "max_key",
            "sum_key",
            F.unix_timestamp("min_date").alias("min_date"),
            F.unix_timestamp("max_date").alias("max_date"),
        )
        .orderBy("probe")
    )


ORACLE_METADATA_PARTITION_AGG = """
WITH agg AS (
  SELECT 'eq' AS probe, COUNT(*) AS n_orders,
         MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
         CAST(SUM(o_orderkey) AS BIGINT) AS sum_key,
         CAST(floor(epoch(MIN(o_orderdate))) AS BIGINT) AS min_date,
         CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT) AS max_date
  FROM orders WHERE o_orderstatus = 'O'
  UNION ALL
  SELECT 'in', COUNT(*),
         MIN(o_orderkey), MAX(o_orderkey),
         CAST(SUM(o_orderkey) AS BIGINT),
         CAST(floor(epoch(MIN(o_orderdate))) AS BIGINT),
         CAST(floor(epoch(MAX(o_orderdate))) AS BIGINT)
  FROM orders WHERE o_orderstatus IN ('F', 'P')
)
SELECT * FROM agg ORDER BY probe
"""


def q_metadata_groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-wise GROUP BY rollup from metadata only: publish
    orders PARTITIONED on o_orderstatus, then answer
    ``SELECT o_orderstatus, COUNT(*), MIN/MAX/SUM(o_orderkey) ...
    GROUP BY o_orderstatus`` — one row per live partition — entirely
    from the manifest entries + stats sidecars, zero data-file reads
    (plan asserted scan-free; the Iceberg partition-stats planning
    shape, `SHOW PARTITIONS` with real aggregates). The oracle
    re-derives the rollup relationally from raw ``orders``, so a
    wrong group scoping (a file folded into the wrong partition's
    row, a lost leaf) hash-mismatches immediately.

    Scale: one manifest read + each generation's sidecar read once;
    per-group work is dict math over that partition's files — the
    whole rollup is driver metadata, independent of data volume."""
    cat = _orders_by_status_fixture(
        spark,
        sf_dir,
        "bds_gmagg",
        "gmeta_orders",
        ["o_orderkey", "o_orderstatus"],
        ["o_orderkey"],
    )
    df = cat.sql(
        "SELECT o_orderstatus AS status, COUNT(*) AS n_orders, "
        "MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key, "
        "SUM(o_orderkey) AS sum_key "
        "FROM gmeta_orders GROUP BY o_orderstatus"
    )
    if df.inputFiles():
        raise AssertionError(
            "metadata_groupby_agg: the SQL door fell through to a "
            "scan — the partition-wise rollup must answer this shape"
        )
    return df.orderBy("status")


ORACLE_METADATA_GROUPBY_AGG = """
SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
       CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-match point lookup through the per-file Bloom index
    (io/fileindex.py): publish an orders snapshot clustered on
    o_orderkey across 32 files, build the Bloom file index, and
    read ONE key back through ``read_snapshot_point`` — the scan
    opens only the files whose Bloom matches (1 + false positives of
    32; measured in tests/test_fileindex.py), never missing the key
    (one-sided guarantee). An absent-key probe is unioned in to pin
    the empty path. The probe key is the table's min orderkey —
    derived from the data, so the row works at every scale factor.

    Scale: the index build is one map-side-combinable JVM aggregate
    per maintenance window; the probe broadcasts 5 hash positions
    against the index and ships only matching file NAMES to the
    driver — the planning metadata budget of a table-format reader."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.fileindex import (
        read_snapshot_point,
        write_bloom_index,
    )
    from big_data_spark.io.table_writes import write_snapshot

    tdir = fixture_dir("bds_point", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    write_snapshot(orders.repartition(32, "o_orderkey"), tdir)
    write_bloom_index(spark, tdir, "o_orderkey")
    kmin = orders.agg(F.min("o_orderkey")).first()[0]
    hit = read_snapshot_point(spark, tdir, "o_orderkey", kmin)
    miss = read_snapshot_point(spark, tdir, "o_orderkey", -1)
    return hit.unionByName(miss).orderBy("o_orderkey")


ORACLE_POINT_LOOKUP = """
SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders
WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders)
ORDER BY o_orderkey
"""


def q_snapshot_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write DELETE over the table format (io/snapshot.py
    delete_where): build a four-generation orders table (one append
    per orderkey-modulo slice), DELETE the finished orders of two
    slices, and report the surviving table per order status alongside
    the pre-delete version via time travel — the oracle re-derives
    both states from raw ``orders``, so an under-deleted (stale
    generation kept) or over-deleted (carried generation rewritten
    wrong) table hash-mismatches.

    Scale: one counting scan + a rewrite of ONLY the generations
    holding matches; untouched generations carry by reference."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.dml import delete_where
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import append_snapshot

    tdir = fixture_dir("bds_del", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    m = F.col("o_orderkey") % 4
    for g in range(4):
        append_snapshot(base.filter(m == g), tdir, snapshot_id=g)
    delete_where(
        spark,
        tdir,
        (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 4 < 2),
    )
    after = read_snapshot(spark, tdir)
    before = read_snapshot(spark, tdir, as_of=3)
    out = []
    for name, df in (("after", after), ("before", before)):
        out.append(
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").cast("double").alias("total"),
            )
            .withColumn("state", F.lit(name))
        )
    return (
        out[0]
        .unionByName(out[1])
        .select("state", "o_orderstatus", "n_orders", "total")
        .orderBy("state", "o_orderstatus")
    )


ORACLE_SNAPSHOT_DELETE = """
SELECT state, o_orderstatus, n_orders, total
FROM (
  SELECT 'after' AS state, o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 < 2)
  GROUP BY o_orderstatus
  UNION ALL
  SELECT 'before', o_orderstatus, COUNT(*),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
  FROM orders
  GROUP BY o_orderstatus
) s
ORDER BY state, o_orderstatus
"""


def q_snapshot_update_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level change feed for an UPDATE (io/snapshot.py
    update_where(row_cdf=True)): build a four-generation
    orders table, UPDATE the pending orders of one modulo slice with
    a pre/post-image sidecar, and return the feed's
    update_preimage/update_postimage rows — the oracle re-derives the
    exact row-level change set from raw ``orders``, so a feed that
    leaked carried rows (file-level grain), dropped a matched row, or
    mis-evaluated the post-image on updated inputs hash-mismatches.

    Scale: the sidecar is O(matched rows) written once by the update
    commit; the feed read is one bounded parquet scan of it — never a
    re-diff of the rewritten generations."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.changes import read_changes
    from big_data_spark.io.dml import update_where
    from big_data_spark.io.table_writes import append_snapshot

    tdir = fixture_dir("bds_ucdf", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    m = F.col("o_orderkey") % 4
    for g in range(4):
        append_snapshot(base.filter(m == g), tdir, snapshot_id=g)
    update_where(
        spark,
        tdir,
        "o_orderstatus = 'P' AND o_orderkey % 4 = 1",
        {"o_totalprice": "o_totalprice * 2"},
        row_cdf=True,
    )
    return (
        read_changes(spark, tdir, after_id=3)
        .select(
            "_change_type",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("price"),
        )
        .orderBy("_change_type", "o_orderkey")
    )


ORACLE_SNAPSHOT_UPDATE_CDF = """
SELECT _change_type, o_orderkey, price
FROM (
  SELECT 'update_preimage' AS _change_type, o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
  FROM orders WHERE o_orderstatus = 'P' AND o_orderkey % 4 = 1
  UNION ALL
  SELECT 'update_postimage', o_orderkey,
         CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
                   AS DECIMAL(18,2)) AS DOUBLE)
  FROM orders WHERE o_orderstatus = 'P' AND o_orderkey % 4 = 1
) c
ORDER BY _change_type, o_orderkey
"""


def q_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL DML door end-to-end (sqldml.py + SnapshotCatalog.sql):
    build a four-generation orders table, then drive DELETE, UPDATE
    and INSERT through STATEMENT STRINGS — the statement reader over
    Spark's parse tree, the expression routing, and the snapshot
    primitives behind them are all on the oracle's hook. The oracle
    re-derives the final state from raw ``orders`` with the same
    three edits expressed relationally.

    Scale: each statement routes to the already-bounded primitive
    (counting scan + touched-generation rewrite; retry append is a
    staged rename)."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.catalog import SnapshotCatalog
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.table_writes import append_snapshot

    tdir = fixture_dir("bds_dml", sf_dir)
    name = os.path.basename(tdir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    m = F.col("o_orderkey") % 4
    for g in range(4):
        append_snapshot(base.filter(m == g), tdir, snapshot_id=g)
    cat = SnapshotCatalog(spark, versions="lazy")
    cat.register(name, tdir)
    cat.sql(
        f"DELETE FROM {name} "
        "WHERE o_orderstatus = 'F' AND o_orderkey % 4 = 0"
    )
    cat.sql(
        f"UPDATE {name} SET o_totalprice = o_totalprice * 2 "
        "WHERE o_orderstatus = 'P' AND o_orderkey % 4 = 1"
    )
    cat.sql(f"INSERT INTO {name} VALUES (-1, 'Z', 10.00), (-2, 'Z', 20.00)")
    return (
        read_snapshot(spark, tdir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total"),
        )
        .select(F.col("o_orderstatus").alias("status"), "n_orders", "total")
        .orderBy("status")
    )


ORACLE_SQL_DML = """
SELECT status, n_orders, total
FROM (
  SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
         CAST(SUM(CASE WHEN o_orderstatus = 'P' AND o_orderkey % 4 = 1
                       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 2
                                 AS DECIMAL(18,2))
                       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END)
              AS DOUBLE) AS total
  FROM orders
  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 4 = 0)
  GROUP BY o_orderstatus
  UNION ALL
  SELECT 'Z', 2, 30.0
) s
ORDER BY status
"""


def q_snapshot_tag_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot tags + timestamp time travel: build a
    three-generation orders table, TAG version 1, append more, then
    read the table back through BOTH selectors — the pinned tag and
    as_of_ts at version 1's commit timestamp — alongside the current
    version. The oracle re-derives each state from raw ``orders``,
    so a tag resolving to the wrong manifest (or a timestamp
    resolving across the wrong commit boundary) hash-mismatches.

    Scale: tags are one JSON file each; as_of_ts is a manifest-
    metadata walk — no data reads beyond the chosen version."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.manifest import read_manifest
    from big_data_spark.io.table_reads import read_snapshot
    from big_data_spark.io.tags import tag_snapshot
    from big_data_spark.io.table_writes import append_snapshot

    tdir = fixture_dir("bds_tag", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    m = F.col("o_orderkey") % 3
    for g in range(3):
        append_snapshot(base.filter(m == g), tdir, snapshot_id=g)
    tag_snapshot(spark, tdir, "freeze", snapshot_id=1)
    ts1 = read_manifest(spark, tdir, 1)["committed_at_ms"]
    out = []
    for name, df in (
        ("tagged", read_snapshot(spark, tdir, tag="freeze")),
        ("as_of_ts", read_snapshot(spark, tdir, as_of_ts=ts1)),
        ("current", read_snapshot(spark, tdir)),
    ):
        out.append(
            df.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("o_totalprice").cast("double").alias("total"),
            )
            .withColumn("state", F.lit(name))
        )
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res.select(
        "state", "o_orderstatus", "n_orders", "total"
    ).orderBy("state", "o_orderstatus")


ORACLE_SNAPSHOT_TAG_TRAVEL = """
SELECT state, o_orderstatus, n_orders, total
FROM (
  SELECT s.state, o_orderstatus, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
  FROM orders, (VALUES ('tagged'), ('as_of_ts')) AS s(state)
  WHERE o_orderkey % 3 < 2
  GROUP BY s.state, o_orderstatus
  UNION ALL
  SELECT 'current', o_orderstatus, COUNT(*),
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
  FROM orders
  GROUP BY o_orderstatus
) t
ORDER BY state, o_orderstatus
"""


def q_evolved_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-additive schema evolution on the read path (evolve_schema
    + the rename_log replay): two generations written in the ORIGINAL
    schema (st, amt int), a metadata-only rename st->status + widen
    amt->bigint, a third generation appended in the evolved schema —
    then one aggregate over the union of all three. The oracle
    re-derives from raw ``orders`` in the final names/types: a broken
    rename replay surfaces as a NULL status group, a broken widen as
    a dtype mismatch.

    Scale: evolution is O(manifest) metadata; the read adds one
    column-rename projection per pre-evolution generation."""
    import hashlib
    import os
    import shutil
    import tempfile

    from big_data_spark.io.table_reads import evolve_schema, read_snapshot
    from big_data_spark.io.table_writes import append_snapshot

    tdir = fixture_dir("bds_evo", sf_dir)
    shutil.rmtree(tdir, ignore_errors=True)
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("st"),
        (F.col("o_orderkey") % 100000).cast("int").alias("amt"),
    )
    m = F.col("o_orderkey") % 3
    for g in range(2):
        append_snapshot(base.filter(m == g), tdir, snapshot_id=g)
    evolve_schema(
        spark, tdir, renames={"st": "status"}, widens={"amt": "bigint"}
    )
    append_snapshot(
        base.filter(m == 2).select(
            "o_orderkey",
            F.col("st").alias("status"),
            F.col("amt").cast("bigint"),
        ),
        tdir,
        snapshot_id=3,
    )
    return (
        read_snapshot(spark, tdir)
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("amt").cast("double").alias("amt_sum"),
        )
        .orderBy("status")
    )


ORACLE_EVOLVED_READ = """
SELECT o_orderstatus AS status, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_orderkey % 100000 AS BIGINT)) AS DOUBLE) AS amt_sum
FROM orders
GROUP BY o_orderstatus
ORDER BY status
"""


LPA_ROUNDS = 4


def q_community_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the symmetrized supplier-customer
    trade graph via deterministic synchronous label propagation
    (operators/lpa.py), LPA_ROUNDS frozen rounds, reported as
    per-community sizes (communities of the vertex carrying the
    minimum id) — the classic near-linear community algorithm next to
    components/PageRank/triangles/paths.

    Deterministic: synchronous updates + (count DESC, label ASC)
    tie-break + frozen rounds = a pure function of the edge set; the
    DuckDB oracle replays the same rounds as chained CTEs with the
    same ROW_NUMBER tie order."""
    from big_data_spark.io.readers import parallelize_small_scan
    from big_data_spark.operators.lpa import label_propagation

    li = parallelize_small_scan(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_suppkey").alias("src"),
        (-F.col("o_custkey") - F.lit(1)).alias("dst"),
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    lp = label_propagation(edges, rounds=LPA_ROUNDS)
    return (
        lp.groupBy("community")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .orderBy("community")
    )


def _lpa_oracle() -> str:
    parts = [
        """e0 AS (
  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(-o_custkey - 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
verts AS (SELECT DISTINCT src AS v FROM edges),
l0 AS (SELECT v, v AS label FROM verts)"""
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""m{r} AS (
  SELECT v, label AS new_label FROM (
    SELECT e.src AS v, l.label, COUNT(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY COUNT(*) DESC, l.label ASC) AS rn
    FROM edges e JOIN l{r - 1} l ON l.v = e.dst
    GROUP BY e.src, l.label
  ) WHERE rn = 1
), l{r} AS (
  SELECT p.v, COALESCE(m.new_label, p.label) AS label
  FROM l{r - 1} p LEFT JOIN m{r} m ON m.v = p.v
)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT label AS community, COUNT(*) AS n_members
FROM l{LPA_ROUNDS} GROUP BY label ORDER BY community"""
    )


ORACLE_COMMUNITY_LPA = _lpa_oracle()


ORACLE_SHORTEST_PATHS = f"""
WITH RECURSIVE e0 AS (
  SELECT CAST(l_suppkey AS BIGINT) AS src, CAST(-o_custkey - 1 AS BIGINT) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
lm(landmark) AS (VALUES {", ".join(f"(CAST({x} AS BIGINT))" for x in SSP_LANDMARKS)}),
walk(v, landmark, d) AS (
  SELECT landmark, landmark, 0 FROM lm
  UNION
  SELECT e.src, w.landmark, w.d + 1
  FROM edges e JOIN walk w ON e.dst = w.v
  WHERE w.d < {SSP_MAX_HOPS}
)
SELECT v AS vertex, landmark, CAST(MIN(d) AS INT) AS dist
FROM walk GROUP BY v, landmark
ORDER BY vertex, landmark
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    counted in each later week they return — the growth-analytics
    matrix. Week ids are integer floor-divisions of the raw
    nanosecond timestamp (no float in the path), the cohort pass is
    one min-agg per user, and the matrix is one distinct-count per
    (cohort, offset): two shuffles total, both keyed on user_id or
    the output key."""
    ev = _t(spark, sf_dir, "events")
    wk = F.expr("ts div 604800000000000")  # long div: ns -> week index
    byweek = ev.select("user_id", wk.alias("week")).distinct()
    cohort = byweek.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        byweek.join(cohort, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


ORACLE_COHORT = """
WITH byweek AS (
  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS week
  FROM events
), cohort AS (
  SELECT user_id, MIN(week) AS cohort_week FROM byweek GROUP BY user_id
)
SELECT c.cohort_week, b.week - c.cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM byweek b JOIN cohort c USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over the orders feed (operators/dq.py): six
    declarative constraints — presence, key uniqueness, enum
    membership, numeric bounds, format regex, FK containment —
    verified as ONE aggregation over one scan plus one anti-join for
    the FK (Deequ's single-pass verification shape). The report is
    itself a DataFrame: rows of (check, column, violations, n_rows,
    passed)."""
    from big_data_spark.operators import dq

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    report = dq.check_suite(
        orders,
        [
            dq.not_null("o_custkey"),
            dq.unique("o_orderkey"),
            dq.in_set("o_orderstatus", ["F", "O", "P"]),
            dq.in_range("o_totalprice", lo=0.0),
            dq.matches("o_orderpriority", "^[1-5]-"),
            dq.referential("o_custkey", customer, "c_custkey"),
        ],
    )
    return report.select(
        F.col("check").alias("check_name"),
        F.col("column").alias("col_name"),
        "violations",
        "n_rows",
        "passed",
    ).orderBy("check_name")


ORACLE_DQ_REPORT = """
WITH n AS (SELECT COUNT(*) AS n_rows FROM orders),
r AS (
  SELECT 'in_range(o_totalprice)' AS check_name, 'o_totalprice' AS col_name,
         (SELECT COUNT(*) FROM orders
           WHERE o_totalprice IS NOT NULL AND o_totalprice < 0) AS violations,
         n.n_rows FROM n
  UNION ALL
  SELECT 'in_set(o_orderstatus)', 'o_orderstatus',
         (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL
           AND o_orderstatus NOT IN ('F','O','P')), n.n_rows FROM n
  UNION ALL
  SELECT 'matches(o_orderpriority)', 'o_orderpriority',
         (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
           AND NOT regexp_matches(o_orderpriority, '^[1-5]-')), n.n_rows FROM n
  UNION ALL
  SELECT 'not_null(o_custkey)', 'o_custkey',
         (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL), n.n_rows FROM n
  UNION ALL
  SELECT 'referential(o_custkey)', 'o_custkey',
         (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
           AND NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)), n.n_rows FROM n
  UNION ALL
  SELECT 'unique(o_orderkey)', 'o_orderkey',
         (SELECT COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) FROM orders),
         n.n_rows FROM n
)
SELECT check_name, col_name, violations, n_rows,
       violations = 0 AS passed
FROM r
ORDER BY check_name
"""


QUERIES = {
    "pricing_summary": q_pricing_summary,
    "pipeline_part1_groups": q_pipeline_part1_groups,
    "pipeline_part2_groups": q_pipeline_part2_groups,
    "distinct_counts": q_distinct_counts,
    "agg_collect_sorted": q_agg_collect_sorted,
    "first_min_by": q_first_min_by,
    "join_multiway": q_join_multiway,
    "join_left": q_join_left,
    "join_anti": q_join_anti,
    "join_semi": q_join_semi,
    "join_self_theta": q_join_self_theta,
    "join_expr_key": q_join_expr_key,
    "set_ops": q_set_ops,
    "window_latest_order": q_window_latest_order,
    "window_running_sum": q_window_running_sum,
    "window_lag_gap": q_window_lag_gap,
    "topk": q_topk,
    "string_tokens": q_string_tokens,
    "case_buckets": q_case_buckets,
    "map_roundtrip": q_map_roundtrip,
    "events_hourly": q_events_hourly,
    "events_json": q_events_json,
    "events_resample": q_events_resample,
    "grouping_sets": q_grouping_sets,
    "unpivot_metrics": q_unpivot_metrics,
    "events_funnel": q_events_funnel,
    "scd2_intervals": q_scd2_intervals,
    "temporal_join": q_temporal_join,
    "events_sessionize": q_events_sessionize,
    "rollup_revenue": q_rollup_revenue,
    "pivot_status": q_pivot_status,
    "percentiles": q_percentiles,
    "asof_join": q_asof_join,
    "graph_components": q_graph_components,
    "window_range_trailing": q_window_range_trailing,
    "window_ranks": q_window_ranks,
    "regex_extract": q_regex_extract,
    "variant_extract": q_variant_extract,
    "events_outliers": q_events_outliers,
    "shipping_priority": q_shipping_priority,
    "large_volume_customers": q_large_volume_customers,
    "range_join_bands": q_range_join_bands,
    "merge_upsert": q_merge_upsert,
    "cdc_apply": q_cdc_apply,
    "triangle_count": q_triangle_count,
    "pagerank_topn": q_pagerank_topn,
    "shortest_paths": q_shortest_paths,
    "community_lpa": q_community_lpa,
    "sql_portable_revenue": q_sql_portable_revenue,
    "sql_snapshot_asof": q_sql_snapshot_asof,
    "snapshot_changes": q_snapshot_changes,
    "partitioned_prune": q_partitioned_prune,
    "typed_prune": q_typed_prune,
    "metadata_aggregates": q_metadata_aggregates,
    "metadata_partition_agg": q_metadata_partition_agg,
    "metadata_groupby_agg": q_metadata_groupby_agg,
    "point_lookup": q_point_lookup,
    "snapshot_delete": q_snapshot_delete,
    "snapshot_update_cdf": q_snapshot_update_cdf,
    "sql_dml": q_sql_dml,
    "snapshot_tag_travel": q_snapshot_tag_travel,
    "evolved_read": q_evolved_read,
    "drift_psi": q_drift_psi,
    "cohort_retention": q_cohort_retention,
    "dq_report": q_dq_report,
    "cube_sales": q_cube_sales,
    "mv_refresh": q_mv_refresh,
}

ORACLE_SQL = {
    "pricing_summary": ORACLE_PRICING,
    "pipeline_part1_groups": ORACLE_PIPELINE_PART1,
    "pipeline_part2_groups": ORACLE_PIPELINE_PART2,
    "distinct_counts": ORACLE_DISTINCT,
    "agg_collect_sorted": ORACLE_COLLECT,
    "first_min_by": ORACLE_FIRST,
    "join_multiway": ORACLE_MULTIWAY,
    "join_left": ORACLE_LEFT,
    "join_anti": ORACLE_ANTI,
    "join_semi": ORACLE_SEMI,
    "join_self_theta": ORACLE_SELF,
    "join_expr_key": ORACLE_EXPR_KEY,
    "set_ops": ORACLE_SET_OPS,
    "window_latest_order": ORACLE_WINDOW_LATEST,
    "window_running_sum": ORACLE_RUNNING,
    "window_lag_gap": ORACLE_LAG,
    "topk": ORACLE_TOPK,
    "string_tokens": ORACLE_TOKENS,
    "case_buckets": ORACLE_CASE,
    "map_roundtrip": ORACLE_MAP,
    "events_hourly": ORACLE_EVENTS_HOURLY,
    "events_json": ORACLE_EVENTS_JSON,
    "events_resample": ORACLE_EVENTS_RESAMPLE,
    "grouping_sets": ORACLE_GROUPING_SETS,
    "unpivot_metrics": ORACLE_UNPIVOT,
    "events_funnel": ORACLE_EVENTS_FUNNEL,
    "scd2_intervals": ORACLE_SCD2,
    "temporal_join": ORACLE_TEMPORAL_JOIN,
    "events_sessionize": ORACLE_SESSIONIZE,
    "rollup_revenue": ORACLE_ROLLUP,
    "pivot_status": ORACLE_PIVOT,
    "percentiles": ORACLE_PERCENTILES,
    "asof_join": ORACLE_ASOF,
    "graph_components": ORACLE_GRAPH_CC,
    "window_range_trailing": ORACLE_WINDOW_RANGE,
    "window_ranks": ORACLE_WINDOW_RANKS,
    "regex_extract": ORACLE_REGEX,
    "variant_extract": ORACLE_VARIANT,
    "events_outliers": ORACLE_EVENTS_OUTLIERS,
    "shipping_priority": ORACLE_SHIPPING_PRIORITY,
    "large_volume_customers": ORACLE_LARGE_VOLUME,
    "range_join_bands": ORACLE_RANGE_JOIN,
    "merge_upsert": ORACLE_MERGE_UPSERT,
    "cdc_apply": ORACLE_CDC_APPLY,
    "triangle_count": ORACLE_TRIANGLES,
    "pagerank_topn": ORACLE_PAGERANK,
    "shortest_paths": ORACLE_SHORTEST_PATHS,
    "community_lpa": ORACLE_COMMUNITY_LPA,
    "sql_portable_revenue": PORTABLE_REVENUE_SQL,
    # Re-derives each snapshot VERSION's content from the raw orders
    # table — an independent check of the manifest (and commit-
    # timestamp) resolution itself: 'v0' and 'ts0' are the SAME state
    # reached via VERSION AS OF and TIMESTAMP AS OF respectively.
    "sql_snapshot_asof": """
SELECT version, o_custkey, n_orders, revenue
FROM (
  SELECT 'v0' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
  UNION ALL
  SELECT 'ts0' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders WHERE o_custkey < 200 GROUP BY o_custkey
  UNION ALL
  SELECT 'latest' AS version, o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                  + CAST('10.00' AS DECIMAL(18,2))) AS DOUBLE) AS revenue
  FROM orders WHERE o_custkey < 200 AND o_orderstatus <> 'F'
  GROUP BY o_custkey
) v
ORDER BY version, o_custkey
""",
    "snapshot_changes": ORACLE_SNAPSHOT_CHANGES,
    "partitioned_prune": ORACLE_PARTITIONED_PRUNE,
    "typed_prune": ORACLE_TYPED_PRUNE,
    "metadata_aggregates": ORACLE_METADATA_AGGREGATES,
    "metadata_partition_agg": ORACLE_METADATA_PARTITION_AGG,
    "metadata_groupby_agg": ORACLE_METADATA_GROUPBY_AGG,
    "point_lookup": ORACLE_POINT_LOOKUP,
    "snapshot_delete": ORACLE_SNAPSHOT_DELETE,
    "snapshot_update_cdf": ORACLE_SNAPSHOT_UPDATE_CDF,
    "sql_dml": ORACLE_SQL_DML,
    "snapshot_tag_travel": ORACLE_SNAPSHOT_TAG_TRAVEL,
    "evolved_read": ORACLE_EVOLVED_READ,
    "drift_psi": ORACLE_DRIFT_PSI,
    "cohort_retention": ORACLE_COHORT,
    "dq_report": ORACLE_DQ_REPORT,
    "cube_sales": ORACLE_CUBE,
    "mv_refresh": ORACLE_MV_REFRESH,
}
