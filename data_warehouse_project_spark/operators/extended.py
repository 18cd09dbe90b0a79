"""Extended operator set — capabilities beyond the reference's SQL
surface that a warehouse engine is expected to carry (SURVEY.md §2.4
note, §7.2.5): as-of join, range (non-equi) join, pivot/unpivot,
exact percentiles, lateral explode.

Each query has a DuckDB oracle; as-of uses DuckDB's native ASOF JOIN
as the independent ground truth for our union-and-window operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.compat import fround, sql_fround
from ..registry import register
from ..sources.catalog import Catalog, local_rows
from .asof import asof_join
from .windows import latest_per_group


def asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase event: the most recent click (value + time)
    by the same user at or before the purchase — the canonical as-of
    attach (feature lookup at label time in a training pipeline).

    Right side deduplicated to one row per (user, ts) so tie behavior
    is engine-independent.
    """
    cat = Catalog(spark, sf_dir)
    purchases = cat.events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value")
    clicks = latest_per_group(
        cat.events.filter(F.col("event_type") == "click"),
        ["user_id", "ts"], ["event_id"],
    ).select("user_id", "ts", F.col("value").alias("click_value"))

    return asof_join(
        purchases, clicks, on=["user_id"], ts_col="ts",
        value_cols=["click_value"], right_ts_alias="click_ts",
    ).select("event_id", "user_id", "ts", "value", "click_value", "click_ts")


ASOF_SQL = """
WITH purchases AS (
    SELECT event_id, user_id, ts, value FROM events
    WHERE event_type = 'purchase'
),
clicks AS (
    SELECT user_id, ts, value AS click_value FROM (
        SELECT user_id, ts, value, ROW_NUMBER() OVER (
            PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type = 'click') t
    WHERE rn = 1
)
SELECT p.event_id, p.user_id, p.ts, p.value,
       c.click_value, c.ts AS click_ts
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: orders against a price-band dimension
    on lo <= price < hi. The band table is tiny → broadcast
    nested-loop, the right physical plan for interval dims; a
    fact-fact range join would instead bin both sides to equi-keys
    first (bin = floor(price/width)) to avoid the NL explosion.
    """
    cat = Catalog(spark, sf_dir)
    bands = local_rows(
        spark,
        [("budget", 0.0, 100_000.0),
         ("mid", 100_000.0, 250_000.0),
         ("premium", 250_000.0, 1e18)],
        "band string, lo double, hi double")
    return (
        cat.orders.join(
            F.broadcast(bands),
            (F.col("o_totalprice") >= F.col("lo"))
            & (F.col("o_totalprice") < F.col("hi")))
        .groupBy("band")
        .agg(F.count("*").alias("n_orders"),
             F.max("o_totalprice").alias("max_price"))
    )


RANGE_JOIN_SQL = """
WITH bands(band, lo, hi) AS (
    VALUES ('budget', 0.0, 100000.0),
           ('mid', 100000.0, 250000.0),
           ('premium', 250000.0, 1e18)
)
SELECT band, COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band
"""


def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per priority × status as columns."""
    cat = Catalog(spark, sf_dir)
    pivoted = (
        cat.orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pivoted.select(
        "o_orderpriority",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s}") for s in "FOP"],
    )


PIVOT_SQL = """
SELECT o_orderpriority,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders GROUP BY o_orderpriority
"""


def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide lineitem measures → long (measure, value)
    rows, aggregated — the inverse reshaping primitive."""
    cat = Catalog(spark, sf_dir)
    long_df = cat.lineitem.select(
        "l_returnflag", "l_quantity", "l_discount", "l_tax"
    ).unpivot(
        ids=["l_returnflag"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )
    return (
        long_df.groupBy("l_returnflag", "measure")
        .agg(F.count("*").alias("n"),
             fround(F.min("val"), 6).alias("min_val"),
             fround(F.max("val"), 6).alias("max_val"))
    )


UNPIVOT_SQL = f"""
WITH long_t AS (
    SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure, COUNT(*) AS n,
       {sql_fround('MIN(val)', 6)} AS min_val,
       {sql_fround('MAX(val)', 6)} AS max_val
FROM long_t GROUP BY l_returnflag, measure
"""


def percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median / p95) per return flag.
    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition; at 100 TB the single-pass
    `approx_percentile` sketch replaces this (see agg_approx_distinct
    for the same exact/approx pairing)."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.lineitem.groupBy("l_returnflag")
        .agg(
            fround(F.expr("percentile(l_quantity, 0.5)"), 6).alias("p50_qty"),
            fround(F.expr("percentile(l_quantity, 0.95)"), 6).alias("p95_qty"),
            fround(F.expr("percentile(l_extendedprice, 0.5)"), 6)
            .alias("p50_price"),
        )
    )


PERCENTILES_SQL = f"""
SELECT l_returnflag,
       {sql_fround('CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE)', 6)} AS p50_qty,
       {sql_fround('CAST(quantile_cont(l_quantity, 0.95) AS DOUBLE)', 6)} AS p95_qty,
       {sql_fround('CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE)', 6)} AS p50_price
FROM lineitem GROUP BY l_returnflag
"""


def lateral_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral/explode: top-20 corpus tokens by document frequency —
    explode is Spark's LATERAL UNNEST."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.documents
        .select("doc_id", F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+")))
            .alias("token"))
        .groupBy("token")
        .agg(F.countDistinct("doc_id").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), F.col("token"))
        .limit(20)
    )


LATERAL_SQL = """
SELECT token, COUNT(DISTINCT doc_id) AS doc_freq
FROM (
    SELECT doc_id, UNNEST(list_distinct(
        string_split_regex(trim(text), '\\s+'))) AS token
    FROM documents
) t
GROUP BY token
ORDER BY doc_freq DESC, token
LIMIT 20
"""


register("asof_latest_click", asof_latest_click, ASOF_SQL)
register("range_join_price_bands", range_join_price_bands, RANGE_JOIN_SQL)
register("pivot_status_by_priority", pivot_status_by_priority, PIVOT_SQL)
register("unpivot_lineitem_measures", unpivot_lineitem_measures, UNPIVOT_SQL)
register("percentiles_quantity", percentiles_quantity, PERCENTILES_SQL)
register("lateral_explode_tokens", lateral_explode_tokens, LATERAL_SQL)


def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates per return flag: variance, stddev, and
    the price↔quantity correlation — built from exact scaled-integer
    moment sums (Σx, Σx², Σxy) instead of builtin var/stddev/corr,
    whose streaming accumulation is FP-order-dependent and would
    flake the oracle hash (functions.compat policy applied to second
    moments)."""
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem.select(
        "l_returnflag",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
        .alias("p"),
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("sq"), F.sum("p").alias("sp"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
        F.sum(F.col("p") * F.col("p")).alias("spp"),
        F.sum(F.col("q") * F.col("p")).alias("sqp"),
    )
    n = F.col("n").cast("double")
    var_q = ((F.col("sqq").cast("double")
              - F.col("sq").cast("double") * F.col("sq") / n) / (n - 1)) / 1e4
    var_p = ((F.col("spp").cast("double")
              - F.col("sp").cast("double") * F.col("sp") / n) / (n - 1)) / 1e4
    cov = ((F.col("sqp").cast("double")
            - F.col("sq").cast("double") * F.col("sp") / n) / (n - 1)) / 1e4
    return agg.select(
        "l_returnflag", "n",
        fround(var_q, 4).alias("var_qty"),
        fround(F.sqrt(var_q), 6).alias("stddev_qty"),
        fround(cov / (F.sqrt(var_q) * F.sqrt(var_p)), 6).alias("corr_qty_price"),
    )


_M = """
SELECT l_returnflag, COUNT(*) AS n,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sq,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sp,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sqq,
       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS spp,
       CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT)
                * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sqp
FROM lineitem GROUP BY l_returnflag
"""

STATS_MOMENTS_SQL = f"""
WITH m AS ({_M}),
d AS (
    SELECT l_returnflag, n,
           ((CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1)) / 1e4 AS var_q,
           ((CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1)) / 1e4 AS var_p,
           ((CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * sp / CAST(n AS DOUBLE))
             / (CAST(n AS DOUBLE) - 1)) / 1e4 AS cov
    FROM m
)
SELECT l_returnflag, n,
       {sql_fround('var_q', 4)} AS var_qty,
       {sql_fround('sqrt(var_q)', 6)} AS stddev_qty,
       {sql_fround('cov / (sqrt(var_q) * sqrt(var_p))', 6)} AS corr_qty_price
FROM d
"""

register("stats_moments", stats_moments, STATS_MOMENTS_SQL)


#: columns profiled by table_profile (types chosen so min/max cast to
#: string identically in Spark and DuckDB: integers, strings, and
#: ISO-rendered timestamps — doubles excluded, their string forms
#: differ between engines)
PROFILE_COLS = ("l_orderkey", "l_linenumber", "l_returnflag",
                "l_linestatus", "l_shipdate")


def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profile of `lineitem`: per profiled column,
    row/null/distinct counts and min/max — the warehouse data-quality
    snapshot (what a catalog crawler or stats collector computes).

    All stats for all columns come from ONE aggregate over the scan
    (no per-column jobs) and are unpivoted with stack() afterward —
    the profile of a 100 TB table is one pass, not len(cols) passes.
    """
    cat = Catalog(spark, sf_dir)
    li = cat.lineitem
    aggs = [F.count("*").alias("n_rows")]
    for c in PROFILE_COLS:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.countDistinct(c).alias(f"{c}_nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}_min"),
            F.max(F.col(c).cast("string")).alias(f"{c}_max"),
        ]
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}_nn, {c}_nd, {c}_min, {c}_max" for c in PROFILE_COLS)
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(PROFILE_COLS)}, {stack_args}) AS "
                "(column_name, n_non_null, n_distinct, min_val, max_val)"
            ),
        )
        .select(
            "column_name",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_non_null").cast("long").alias("n_non_null"),
            (F.col("n_rows") - F.col("n_non_null")).cast("long")
            .alias("n_nulls"),
            F.col("n_distinct").cast("long").alias("n_distinct"),
            "min_val", "max_val",
        )
    )


_PROFILE_BRANCHES = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       (SELECT COUNT(*) FROM lineitem) AS n_rows,
       COUNT({c}) AS n_non_null,
       (SELECT COUNT(*) FROM lineitem) - COUNT({c}) AS n_nulls,
       COUNT(DISTINCT {c}) AS n_distinct,
       MIN(CAST({c} AS VARCHAR)) AS min_val,
       MAX(CAST({c} AS VARCHAR)) AS max_val
FROM lineitem""" for c in PROFILE_COLS)

TABLE_PROFILE_SQL = _PROFILE_BRANCHES

register("table_profile", table_profile, TABLE_PROFILE_SQL)
