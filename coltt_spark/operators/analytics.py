"""Relational analytics over the star schema + events table.

The reference implements no joins/aggregations/windows (SURVEY §2.5)
— this module is the engine-breadth layer a user migrating a real
workload expects, expressed so Catalyst picks the right physical
plan:

- dimension joins are broadcastable (region/nation/customer are tiny
  relative to lineitem at every scale factor — AQE re-plans to
  broadcast-hash automatically, and we hint the always-small ones);
- aggregations are partial (map-side combine) by construction;
- windows partition on the natural key so the sort is local to the
  shuffle bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pricing_summary(lineitem: DataFrame, *, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1-shaped pricing summary: one shuffle on the 6-value
    group key, everything else map-side."""
    li = lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def top_revenue_orders(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, *, segment: str = "BUILDING", k: int = 10
) -> DataFrame:
    """TPC-H Q3-shaped: the dimension side (filtered customers) is
    broadcast into the orders join; only the lineitem aggregation
    shuffles."""
    cust = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    ord_f = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    li = lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
    return (
        li.join(F.broadcast(ord_f.join(F.broadcast(cust), ord_f.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(k)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "revenue",
        )
    )


def region_revenue(
    region: DataFrame, nation: DataFrame, customer: DataFrame, orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """TPC-H Q5-shaped: chained broadcast joins up the dimension
    hierarchy, single shuffle for the final per-region aggregate."""
    dim = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "r_name")
    )
    return (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(dim), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("r_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def top_orders_per_customer(orders: DataFrame, *, k: int = 3) -> DataFrame:
    """Window rank partitioned on the shuffle key (no global sort)."""
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", F.col("rank").cast("long").alias("rank"))
    )


def rollup_revenue(lineitem: DataFrame) -> DataFrame:
    """ROLLUP aggregate with grouping markers normalized to 'ALL' so
    subtotal rows compare cleanly across engines."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_price",
            "n",
        )
    )


def cube_revenue(lineitem: DataFrame) -> DataFrame:
    """CUBE aggregate — all 2^k grouping combinations in one pass
    (Spark expands grouping sets map-side; one shuffle). Markers
    normalized to 'ALL' like :func:`rollup_revenue`."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum("l_extendedprice"), 2).alias("sum_price"), F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "sum_price",
            "n",
        )
    )


def price_percentiles(lineitem: DataFrame) -> DataFrame:
    """Exact percentiles of extended price per return flag —
    distribution statistics for data auditing. Uses the exact
    ``percentile`` aggregate (sort-based within group), NOT
    ``percentile_approx``: cross-engine value parity requires the
    exact linear-interpolation definition both Spark and DuckDB
    (``quantile_cont``) implement."""
    pcts = [0.25, 0.5, 0.75, 0.95]
    # ONE percentile aggregate with an array of percentages — a single
    # per-group sort instead of one per percentile
    arr = F.expr(f"percentile(l_extendedprice, array({', '.join(map(str, pcts))}))")
    agg = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        arr.alias("_ps"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )
    return agg.select(
        "l_returnflag",
        "n",
        "min_price",
        *[F.round(F.col("_ps")[i], 4).alias(f"p{int(p * 100)}") for i, p in enumerate(pcts)],
        "max_price",
    )


def events_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour aggregate per event type — the batch twin of
    the streaming windowed aggregation (same grouping, watermark
    removed)."""
    return (
        events.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


def sessionize(events: DataFrame, *, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a session breaks when the inter-event
    gap exceeds ``gap_minutes``. lag → flag → running sum, all inside
    one per-user window partition (single shuffle on user_id)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # Parquet tz-naive timestamps read as TIMESTAMP_NTZ (Spark 4), which
    # unix_micros does not take; bounce through TIMESTAMP_LTZ (a no-op
    # if the column is already LTZ). Gap arithmetic is invariant to the
    # fixed session-zone offset the bounce applies. Microseconds, not a
    # cast to whole seconds: a 1800.4 s gap exceeds 30 minutes.
    epoch = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    gap = epoch - F.lag(epoch).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60 * 10**6), 1).otherwise(0)
    sess = events.withColumn("_new", is_new).withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_id").cast("long").alias("session_id"),
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    ts_col: str = "ts",
    tie_col: str,
    left_cols: list[str],
    right_cols: list[str],
) -> DataFrame:
    """Distributed AS-OF join: each left row is matched to the right
    row with the greatest ``ts_col`` ≤ the left row's (ties broken by
    the greatest ``tie_col``), equi-keyed on ``on`` — the time-series
    join Spark has no native operator for (DuckDB/Pandas ``ASOF``,
    kdb ``aj``).

    Built the scale-correct way: UNION the two sides with a side
    marker, ONE shuffle on the key, one in-partition sort by
    (ts, side, tie) — right rows sort before left at equal ts so
    same-instant matches count — and a running ``last(non-null)``
    carry-forward of the right payload. No broadcast of either side,
    no range-join row explosion, no per-key driver loop; cost is one
    repartition + sort regardless of how many right rows precede each
    left row. Left rows with no prior right row keep NULL payload.

    Returns the left rows (``left_cols``) + the matched right payload
    (``right_cols``, NULL when unmatched)."""
    rstruct = F.struct(*[F.col(c) for c in right_cols])
    r2 = right.select(
        F.col(on),
        F.col(ts_col).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(tie_col).alias("_tie"),
        rstruct.alias("_r"),
    )
    rtype = r2.schema["_r"].dataType
    l2 = left.select(
        F.col(on),
        F.col(ts_col).alias("_ts"),
        F.lit(1).alias("_side"),
        F.col(tie_col).alias("_tie"),
        F.lit(None).cast(rtype).alias("_r"),
        *[F.col(c).alias(f"_l_{c}") for c in left_cols],
    )
    r2 = r2.select(
        *l2.columns[:5],
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in left_cols],
    )
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("_ts").asc(), F.col("_side").asc(), F.col("_tie").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l2.unionByName(r2).withColumn(
        "_match", F.last("_r", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("_side") == 1).select(
        F.col(on),
        *[F.col(f"_l_{c}").alias(c) for c in left_cols],
        *[F.col("_match")[c].alias(f"asof_{c}") for c in right_cols],
    )


def events_json_extract(events: DataFrame) -> DataFrame:
    """JSON scalar extraction from the props column + aggregate."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
    )


def purchasers_with_errors(events: DataFrame) -> DataFrame:
    """Set operation: users with purchases ∩ users with errors."""
    buyers = events.filter(F.col("event_type") == "purchase").select("user_id")
    erring = events.filter(F.col("event_type") == "error").select("user_id")
    return buyers.intersect(erring)
