"""The declared query inventory (SURVEY.md §2.12) — Spark builders + duckdb
oracle SQL, registered side by side so `__spark_entry__.queries()` /
`oracle_sql()` stay in lock-step.

Conventions (FIXTURES.md §5):
  * every query ends with a total ORDER BY incl. tiebreakers;
  * double sums go through DECIMAL (exact, order-independent) internally
    and are CAST to DOUBLE in the final output of BOTH engines — decimal
    output columns hash-mismatch under the driver's canonicalization
    (r1 lesson; decimal→double is correctly rounded and bit-identical);
  * timestamps in outputs are unix microseconds (Spark unix_micros /
    duckdb epoch_us) — never raw timestamps;
  * column names are aliased identically in both engines (the driver sorts
    columns by name before hashing);
  * regex stays in the RE2∩Java common subset.
"""

from __future__ import annotations

import datetime as _dt
import functools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tagtree_spark.io import load_table
from tagtree_spark.onetime_cache import artifact
from tagtree_spark.session import spread, tune
from tagtree_spark.tsdb.matchers import (
    LabelMatcher,
    MatchOp,
    label_values,
    resolve_label_matchers,
    select_series,
)
from tagtree_spark.tsdb.model import build_postings, build_samples, build_series  # noqa: F401

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register ``fn`` as query ``name``; every run first applies the
    runtime conf (``tune``) to the session it is handed."""

    def deco(fn):
        @functools.wraps(fn)
        def run(spark, *args, **kwargs):
            tune(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = run
        if oracle is not None:
            ORACLE[name] = oracle
        return run

    return deco


# --------------------------------------------------------------------------
# TSDB fixture CTE shared by every matcher-query oracle (FIXTURES.md §2).
# --------------------------------------------------------------------------

TSDB_CTE = r"""
WITH ev AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value,
         'u' || CAST(user_id % 10 AS VARCHAR) AS user_bucket,
         'k' || CAST(CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) % 5 AS VARCHAR) AS k_bucket
  FROM events
), series AS (
  SELECT CAST(row_number() OVER (ORDER BY event_type, user_bucket, k_bucket) AS BIGINT) AS tsid,
         event_type, user_bucket, k_bucket, first_seen, last_seen
  FROM (
    SELECT event_type, user_bucket, k_bucket,
           min(ts) AS first_seen, max(ts) AS last_seen
    FROM ev GROUP BY 1, 2, 3
  ) g
), postings AS (
  SELECT 'event_type' AS name, event_type AS value, tsid, first_seen, last_seen FROM series
  UNION ALL
  SELECT 'user_bucket' AS name, user_bucket AS value, tsid, first_seen, last_seen FROM series
  UNION ALL
  SELECT 'k_bucket' AS name, k_bucket AS value, tsid, first_seen, last_seen FROM series
), samples AS (
  SELECT s.tsid, e.ts, e.value
  FROM ev e JOIN series s USING (event_type, user_bucket, k_bucket)
)
"""


# Derived TSDB model (series/postings/samples), derived from `events` once
# per (session, sf dir) and persisted — r1 re-derived it per query,
# repeating the same shuffle for q01-q12 (VERDICT "next round" #5). This
# is the batch analogue of the reference's persisted index: compaction
# materializes the mem index into the COW tree once, queries then read the
# materialized form (/root/reference/src/index/index_server.cpp:205-232).
def _open_model(spark: SparkSession, d: str):
    series = spark.read.parquet(f"{d}/series").persist()
    postings = spark.read.parquet(f"{d}/postings").persist()
    # r13: cache samples PRE-PARTITIONED by tsid (user-sized, so AQE
    # never coalesces it away). The frozen parquet is ~1 scan
    # partition at bench scale, so without this every consumer's
    # (tsid)-keyed window/groupBy first shipped from one task and —
    # tiny bytes — collapsed back to ONE post-shuffle partition,
    # serializing the per-series math (sweep log: 0.5–0.9 s
    # single-task window stages across the TSDB/PromQL family).
    # hash(tsid) satisfies every tsid-clustered requirement downstream
    # (windows, rate/deriv lags, (tsid, bucket) groupings), so those
    # plans now run exchange-free off the cache at full parallelism.
    samples = (
        spark.read.parquet(f"{d}/samples")
        .repartition(spark.sparkContext.defaultParallelism, "tsid")
        .persist()
    )
    # Materialize eagerly: until the cached AQE plan is finalized by a
    # first execution, InMemoryTableScan reports UNKNOWN partitioning
    # and every consumer compiled before that point inserts a
    # redundant ENSURE_REQUIREMENTS exchange above the cache (measured
    # r13: 1 exchange before count(), 0 after). The count costs one
    # pass the first consumer would have paid anyway.
    samples.count()
    return series, postings, samples


@artifact(
    "tsdb_model", build_series, build_postings, build_samples,
    kind="dir", load=_open_model,
)
def _model(spark: SparkSession, sf_dir: str, d: str) -> None:
    # the events file arrives as ~1 scan partition at bench scale; the
    # label-derivation regex work should fan out before the first
    # shuffle. TSID assignment is deterministic (dense rank over the
    # label tuple), so the frozen parquet equals what any session would
    # re-derive — verified by every oracle hash.
    events = spread(load_table(spark, sf_dir, "events"))
    series = build_series(events).persist()
    series.write.parquet(f"{d}/series")
    build_postings(series).write.parquet(f"{d}/postings")
    build_samples(events, series).write.parquet(f"{d}/samples")
    series.unpersist()


def _resolve(spark, sf_dir, matchers, start=None, end=None) -> DataFrame:
    _, postings, _ = _model(spark, sf_dir)
    return resolve_label_matchers(postings, matchers, start, end).orderBy("tsid")


# Q8/Q12 literal time bounds (events span 2024-01; FIXTURES.md §3).
T_10 = _dt.datetime(2024, 1, 10)
T_20 = _dt.datetime(2024, 1, 20)
T_05 = _dt.datetime(2024, 1, 5)
T_25 = _dt.datetime(2024, 1, 25)


@query(
    "q01_eql",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND value='click' ORDER BY tsid",
)
def q01_eql(spark, sf_dir):
    """M1 EQL (/root/reference/src/index/mem_index.cpp:180-198)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.EQL, "event_type", "click")])


@query(
    "q02_neq",
    TSDB_CTE
    + """
SELECT tsid FROM (
  SELECT tsid FROM postings WHERE name='event_type' AND value='click'
  EXCEPT
  SELECT tsid FROM postings WHERE name='user_bucket' AND value='u1'
) t ORDER BY tsid""",
)
def q02_neq(spark, sf_dir):
    """M2 NEQ exclude-set semantics (/root/reference/src/index/mem_index.cpp:149-171)."""
    return _resolve(
        spark,
        sf_dir,
        [
            LabelMatcher(MatchOp.EQL, "event_type", "click"),
            LabelMatcher(MatchOp.NEQ, "user_bucket", "u1"),
        ],
    )


@query(
    "q03_eql_regex",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND regexp_matches(value, '^(click|view)$') ORDER BY tsid",
)
def q03_eql_regex(spark, sf_dir):
    """M3 EQL_REGEX (/root/reference/src/index/mem_index.cpp:35-51,221-231)."""
    return _resolve(
        spark, sf_dir, [LabelMatcher(MatchOp.EQL_REGEX, "event_type", "^(click|view)$")]
    )


@query(
    "q04_neq_regex",
    TSDB_CTE
    + """
SELECT tsid FROM (
  SELECT DISTINCT tsid FROM postings WHERE name='event_type'
  EXCEPT
  SELECT tsid FROM postings WHERE name='event_type' AND regexp_matches(value, '^p.*')
) t ORDER BY tsid""",
)
def q04_neq_regex(spark, sf_dir):
    """M4 NEQ_REGEX, all-negative form: name must exist with a non-matching
    value (/root/reference/src/index/mem_index.cpp:199-220)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.NEQ_REGEX, "event_type", "^p.*")])


@query(
    "q05_lss",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND value < 'purchase' ORDER BY tsid",
)
def q05_lss(spark, sf_dir):
    """M5 LSS byte-wise string order (/root/reference/src/index/index_tree.cpp:122-124)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.LSS, "event_type", "purchase")])


@query(
    "q05b_lte",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND value <= 'purchase' ORDER BY tsid",
)
def q05b_lte(spark, sf_dir):
    """M7 LTE (/root/reference/src/index/index_tree.cpp:128-130)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.LTE, "event_type", "purchase")])


@query(
    "q06_gtr",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND value > 'login' ORDER BY tsid",
)
def q06_gtr(spark, sf_dir):
    """M6 GTR (/root/reference/src/index/index_tree.cpp:125-127)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.GTR, "event_type", "login")])


@query(
    "q06b_gte",
    TSDB_CTE
    + "SELECT tsid FROM postings WHERE name='event_type' AND value >= 'login' ORDER BY tsid",
)
def q06b_gte(spark, sf_dir):
    """M8 GTE (/root/reference/src/index/index_tree.cpp:131-133)."""
    return _resolve(spark, sf_dir, [LabelMatcher(MatchOp.GTE, "event_type", "login")])


# Built from the TEXT front-end (tsdb/selector.py — the
# tagtreego/helper.go:38-67 boundary brought in-engine): the parser lowers
# the selector string to the same LabelMatcher structs, so q07's driver row
# hash-verifies the parse itself.
def _q7_matchers():
    from tagtree_spark.tsdb.selector import parse_selector

    return parse_selector(
        '{user_bucket="u1", k_bucket=~"^k[12]$", event_type!="error"}'
    )


_Q7_MATCHERS = _q7_matchers()
assert _Q7_MATCHERS == [
    LabelMatcher(MatchOp.EQL, "user_bucket", "u1"),
    LabelMatcher(MatchOp.EQL_REGEX, "k_bucket", "^k[12]$"),
    LabelMatcher(MatchOp.NEQ, "event_type", "error"),
]

_Q7_ORACLE_BODY = """
  SELECT tsid FROM postings WHERE name='user_bucket' AND value='u1'
  INTERSECT
  SELECT tsid FROM postings WHERE name='k_bucket' AND regexp_matches(value, '^k[12]$')
  EXCEPT
  SELECT tsid FROM postings WHERE name='event_type' AND value='error'
"""


@query("q07_conjunction", TSDB_CTE + f"SELECT tsid FROM ({_Q7_ORACLE_BODY}) t ORDER BY tsid")
def q07_conjunction(spark, sf_dir):
    """SO1-SO3: 3-matcher AND incl. one NEQ, one regex
    (/root/reference/src/index/mem_index.cpp:144-172)."""
    return _resolve(spark, sf_dir, _Q7_MATCHERS)


@query(
    "q08_time_pruned",
    TSDB_CTE
    + """
SELECT tsid FROM (
  SELECT tsid FROM postings WHERE name='user_bucket' AND value='u1'
    AND last_seen >= TIMESTAMP '2024-01-10 00:00:00' AND first_seen < TIMESTAMP '2024-01-20 00:00:00'
  INTERSECT
  SELECT tsid FROM postings WHERE name='k_bucket' AND regexp_matches(value, '^k[12]$')
    AND last_seen >= TIMESTAMP '2024-01-10 00:00:00' AND first_seen < TIMESTAMP '2024-01-20 00:00:00'
  EXCEPT
  SELECT tsid FROM postings WHERE name='event_type' AND value='error'
    AND last_seen >= TIMESTAMP '2024-01-10 00:00:00' AND first_seen < TIMESTAMP '2024-01-20 00:00:00'
) t ORDER BY tsid""",
)
def q08_time_pruned(spark, sf_dir):
    """Q7 + interval-overlap time pruning
    (/root/reference/src/index/index_tree.cpp:213-216,263-267)."""
    return _resolve(spark, sf_dir, _Q7_MATCHERS, start=T_10, end=T_20)


@query(
    "q09_label_values",
    TSDB_CTE
    + "SELECT DISTINCT value FROM postings WHERE name='event_type' ORDER BY value",
)
def q09_label_values(spark, sf_dir):
    """L5 label_values (/root/reference/src/index/index_server.cpp:151-158)."""
    _, postings, _ = _model(spark, sf_dir)
    return label_values(postings, "event_type").orderBy("value")


@query(
    "q10_get_labels",
    TSDB_CTE
    + "SELECT tsid, event_type, user_bucket, k_bucket FROM series WHERE tsid <= 10 ORDER BY tsid",
)
def q10_get_labels(spark, sf_dir):
    """L4 tsid → label set (/root/reference/src/index/index_server.cpp:138-149),
    flattened to columns for the oracle compare."""
    series, _, _ = _model(spark, sf_dir)
    return (
        series.where(F.col("tsid") <= 10)
        .select("tsid", "event_type", "user_bucket", "k_bucket")
        .orderBy("tsid")
    )


@query(
    "q11_dense_ids",
    TSDB_CTE
    + """
SELECT CAST(count(*) AS BIGINT) AS n_series,
       CAST(min(tsid) AS BIGINT) AS min_tsid,
       CAST(max(tsid) AS BIGINT) AS max_tsid,
       CAST(count(DISTINCT event_type || '#' || user_bucket || '#' || k_bucket) AS BIGINT) AS n_label_sets
FROM series""",
)
def q11_dense_ids(spark, sf_dir):
    """L1 dense id assignment: density + bijection summary
    (/root/reference/src/index/index_server.cpp:30-60, id_counter at
    index_server.h:66)."""
    series, _, _ = _model(spark, sf_dir)
    return series.agg(
        F.count("*").cast("bigint").alias("n_series"),
        F.min("tsid").cast("bigint").alias("min_tsid"),
        F.max("tsid").cast("bigint").alias("max_tsid"),
        F.countDistinct(
            F.concat_ws("#", "event_type", "user_bucket", "k_bucket")
        ).cast("bigint").alias("n_label_sets"),
    )


@query(
    "q12_select_samples",
    TSDB_CTE
    + f"""
SELECT CAST(count(*) AS BIGINT) AS n_samples,
       CAST(epoch_us(min(ts)) AS BIGINT) AS min_ts_us,
       CAST(epoch_us(max(ts)) AS BIGINT) AS max_ts_us,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM samples
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-25 00:00:00'
  AND tsid IN ({_Q7_ORACLE_BODY})""",
)
def q12_select_samples(spark, sf_dir):
    """Querier::select — resolve matchers, semi-join samples, aggregate
    (/root/reference/src/adapters/prom/querier.cpp:13-21)."""
    _, postings, samples = _model(spark, sf_dir)
    tsids = resolve_label_matchers(postings, _Q7_MATCHERS)
    sel = select_series(samples, tsids, start=T_05, end=T_25)
    return sel.agg(
        F.count("*").cast("bigint").alias("n_samples"),
        F.unix_micros(F.min("ts")).cast("bigint").alias("min_ts_us"),
        F.unix_micros(F.max("ts")).cast("bigint").alias("max_ts_us"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
    )


# --------------------------------------------------------------------------
# Relational coverage (SURVEY.md §2.12 Q13-Q23) — native Spark DataFrame ops.
# These exercise scan/filter/project pushdown, broadcast vs shuffle joins,
# semi/anti joins, aggregation, rollup, windows, top-k, set ops, scalar
# functions and JSON extraction. The reference has no relational layer; this
# is the §2.11 extension surface running on the TPC-H-ish driver tables.
# --------------------------------------------------------------------------


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


@query(
    "q13_filter_project",
    """
SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
ORDER BY l_orderkey, l_linenumber""",
)
def q13_filter_project(spark, sf_dir):
    """Scan + filter + project; predicates and column pruning reach the
    parquet scan (verified via .explain PushedFilters)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit(_dt.datetime(1996, 1, 1)))
            & (F.col("l_shipdate") < F.lit(_dt.datetime(1996, 7, 1)))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "q14_broadcast_join",
    """
SELECT n_nationkey, n_name, r_name
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey""",
)
def q14_broadcast_join(spark, sf_dir):
    """Small-dim broadcast join (no shuffle of the fact side)."""
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("n_nationkey", "n_name", "r_name")
        .orderBy("n_nationkey")
    )


@query(
    "q15_shuffle_join",
    """
SELECT c_mktsegment, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q15_shuffle_join(spark, sf_dir):
    """Fact-fact shuffle join + aggregation; AQE handles skew/coalesce."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment", "o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_price"),
        )
        .orderBy("c_mktsegment", "o_orderstatus")
    )


@query(
    "q16_semi_anti",
    """
SELECT c_nationkey,
       CAST(count(CASE WHEN has_o THEN 1 END) AS BIGINT) AS n_with_orders,
       CAST(count(CASE WHEN NOT has_o THEN 1 END) AS BIGINT) AS n_without_orders
FROM (
  SELECT c_custkey, c_nationkey,
         EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) AS has_o
  FROM customer
) t GROUP BY 1 ORDER BY 1""",
)
def q16_semi_anti(spark, sf_dir):
    """Semi/anti join: customers with vs without orders, per nation."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    buyers = orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    flagged = customer.join(
        buyers.withColumn("has_o", F.lit(True)), "c_custkey", "left"
    ).withColumn("has_o", F.coalesce("has_o", F.lit(False)))
    return (
        flagged.groupBy("c_nationkey")
        .agg(
            F.count(F.when(F.col("has_o"), 1)).cast("bigint").alias("n_with_orders"),
            F.count(F.when(~F.col("has_o"), 1)).cast("bigint").alias("n_without_orders"),
        )
        .orderBy("c_nationkey")
    )


@query(
    "q17_groupby_agg",
    """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(4,2))) * (1 + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2 ORDER BY 1, 2""",
)
def q17_groupby_agg(spark, sf_dir):
    """TPC-H Q1 shape: map-side partial aggregation. All monetary math is
    decimal-exact: the source doubles are 2-decimal values, so casting each
    FACTOR to decimal before multiplying is lossless and reproduces
    bit-identically in duckdb (a double product cast to decimal does not —
    the engines disagree on double→decimal rounding). Final sums are CAST to
    DOUBLE: decimal→double is correctly-rounded and bit-identical in both
    engines (verified), and it sidesteps the driver's Decimal-vs-float64
    canonicalization mismatch that hash-failed r1."""
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    return (
        li.where(F.col("l_shipdate") <= F.lit(_dt.datetime(1998, 9, 2)))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (F.lit(1) - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (F.lit(1) - disc) * (F.lit(1) + tax))
            .cast("double")
            .alias("sum_charge"),
            (
                F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
                / F.count("*")
            ).alias("avg_qty"),
            F.count("*").cast("bigint").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "q18_rollup",
    """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(count(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus""",
)
def q18_rollup(spark, sf_dir):
    """Hierarchical rollup aggregation (grouping-sets machinery)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_qty"),
            F.count("*").cast("bigint").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
        .orderBy("returnflag", "linestatus")
    )


@query(
    "q19_window",
    """
SELECT o_orderpriority, rn, rnk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         CAST(row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn,
         CAST(rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
  FROM orders
) t WHERE rn <= 3
ORDER BY o_orderpriority, rn""",
)
def q19_window(spark, sf_dir):
    """Window functions: per-group top-3 by row_number + rank."""
    from pyspark.sql import Window

    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("bigint").alias("rn"),
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
        .where(F.col("rn") <= 3)
        .select("o_orderpriority", "rn", "rnk", "o_orderkey", "o_totalprice")
        .orderBy("o_orderpriority", "rn")
    )


@query(
    "q20_topk",
    """
SELECT o_orderkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100""",
)
def q20_topk(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject (no full sort)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.select("o_orderkey", "o_totalprice").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    ).limit(100)


@query(
    "q21_setops",
    """
SELECT c_custkey FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   INTERSECT
   SELECT c_custkey FROM customer WHERE c_acctbal > 1000)
  UNION
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
   EXCEPT
   SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 100000)
) t ORDER BY c_custkey""",
)
def q21_setops(spark, sf_dir):
    """Set operations: INTERSECT / UNION / EXCEPT (distinct semantics)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    a = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = customer.where(F.col("c_acctbal") > 1000).select("c_custkey")
    c = customer.where(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    d = orders.where(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("c_custkey")
    )
    # subtract = SQL EXCEPT (distinct) regardless of left-side duplicates;
    # exceptAll(...).distinct() only coincided because c_custkey is unique.
    return a.intersect(b).union(c.subtract(d)).distinct().orderBy("c_custkey")


@query(
    "q22_scalar_funcs",
    """
SELECT o_orderkey,
       upper(substring(o_orderpriority, 1, 3)) AS pri3,
       CAST(length(o_orderpriority) AS BIGINT) AS pri_len,
       CAST(year(o_orderdate) AS BIGINT) AS y,
       CAST(month(o_orderdate) AS BIGINT) AS m,
       CAST(day(o_orderdate) AS BIGINT) AS d,
       CAST(o_orderkey % 7 AS BIGINT) AS k_mod,
       CAST(CAST(round(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DECIMAL(18,2)) AS DOUBLE) AS price2,
       concat(o_orderstatus, '-', o_orderpriority) AS status_pri
FROM orders
WHERE o_orderkey % 97 = 0
ORDER BY o_orderkey""",
)
def q22_scalar_funcs(spark, sf_dir):
    """Scalar function surface: string/date/math (SURVEY.md §2.10 — the
    reference has no function library; this is the Spark-native extension)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderkey") % 97 == 0)
        .select(
            "o_orderkey",
            F.upper(F.substring("o_orderpriority", 1, 3)).alias("pri3"),
            F.length("o_orderpriority").cast("bigint").alias("pri_len"),
            F.year("o_orderdate").cast("bigint").alias("y"),
            F.month("o_orderdate").cast("bigint").alias("m"),
            F.dayofmonth("o_orderdate").cast("bigint").alias("d"),
            (F.col("o_orderkey") % 7).cast("bigint").alias("k_mod"),
            F.round(F.col("o_totalprice").cast("decimal(18,4)"), 2)
            .cast("decimal(18,2)")
            .cast("double")
            .alias("price2"),
            F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_pri"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "q23_json_props",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(k) AS BIGINT) AS min_k,
       CAST(max(k) AS BIGINT) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_k
FROM (
  SELECT event_type, CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k
  FROM events
) t GROUP BY 1 ORDER BY 1""",
)
def q23_json_props(spark, sf_dir):
    """JSON property extraction over events.props (E6). Spark side uses
    get_json_object (JVM-native JSON path); oracle uses regexp — values
    agree on this corpus."""
    events = _t(spark, sf_dir, "events")
    return (
        events.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type")
    )
