"""Analytics query suite: groupBy/agg/top-k over the star schema.

Parity: the reference's ``src/gold/facts/fact_analytics.py`` — multi-aggregate
groupBys (A2), global single-row summaries (A3), percent-of-total with a
collected scalar (A6), top-k via ``orderBy().limit()`` (O1), temporal trends
grouped by ``year()``. We re-express percent-of-total with an unpartitioned
window (no driver round-trip) and add top-k-per-group via a ranked window —
the idiomatic replacements the reference lacked.

Determinism rules for oracle comparison (SURVEY.md §7 risk 3):
- all money columns in the testdata are exact 2-decimal values, so derived
  measures are computed in **scaled-integer space** (``round(x*100)`` →
  BIGINT): sums become exact integer arithmetic — order-independent at any
  parallelism and bit-identical across engines — and only the final result is
  divided back into a double (IEEE division of identical inputs is identical
  everywhere);
- every ORDER BY feeding a LIMIT carries a unique tiebreak column;
- raw doubles read from parquet pass through untouched (same bits).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_events, read_table


def cents(col: str | Column) -> Column:
    """Exact scaled-integer representation of a 2-decimal double column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c * 100).cast("long")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary (A2: groupBy + 8 aggregates).

    One shuffle on the two low-cardinality group keys; partial aggregation
    (map-side combine) does nearly all the work before the exchange.
    """
    li = read_table(spark, sf_dir, "lineitem")
    qty = F.round("l_quantity").cast("long")
    price_c = cents("l_extendedprice")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100).cast("long")
    disc_price_e4 = price_c * (100 - disc_pct)  # 1e-4 dollars, exact
    charge_e6 = price_c * (100 - disc_pct) * (100 + tax_pct)  # 1e-6 dollars
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(price_c).alias("base_c"),
            F.sum(disc_price_e4).alias("disc_e4"),
            F.sum(charge_e6).alias("charge_e6"),
            F.count(F.lit(1)).alias("count_order"),
            F.countDistinct("l_orderkey").alias("n_orders"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "sum_qty",
            (F.col("base_c").cast("double") / 100.0).alias("sum_base_price"),
            (F.col("disc_e4").cast("double") / 10000.0).alias("sum_disc_price"),
            (F.col("charge_e6").cast("double") / 1000000.0).alias("sum_charge"),
            (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
            (
                F.col("base_c").cast("double") / 100.0 / F.col("count_order")
            ).alias("avg_price"),
            "count_order",
            "n_orders",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT
  l_returnflag,
  l_linestatus,
  sum_qty,
  CAST(base_c AS DOUBLE) / 100.0        AS sum_base_price,
  CAST(disc_e4 AS DOUBLE) / 10000.0     AS sum_disc_price,
  CAST(charge_e6 AS DOUBLE) / 1000000.0 AS sum_charge,
  CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
  CAST(base_c AS DOUBLE) / 100.0 / count_order AS avg_price,
  count_order,
  n_orders
FROM (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
         sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS base_c,
         sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT))) AS disc_e4,
         sum(CAST(round(l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l_discount*100) AS BIGINT))
             * (100 + CAST(round(l_tax*100) AS BIGINT)))      AS charge_e6,
         count(*)                    AS count_order,
         count(DISTINCT l_orderkey)  AS n_orders
  FROM lineitem
  GROUP BY l_returnflag, l_linestatus
)
ORDER BY l_returnflag, l_linestatus
"""


def topk_parts(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k parts by shipment count (A2 + O1: TakeOrderedAndProject).

    lineitem is pre-aggregated on its own join key (l_partkey) *before* the
    broadcast join to part, so the join input is |parts| rows, not |lineitem|.
    """
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    by_part = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_shipments"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.sum(F.round("l_quantity").cast("long")).alias("total_qty"),
        F.sum(cents("l_extendedprice")).alias("price_c"),
    )
    return (
        by_part.join(F.broadcast(part), by_part.l_partkey == part.p_partkey, "inner")
        .select(
            F.col("p_partkey").alias("part_key"),
            F.col("p_name").alias("part_name"),
            F.col("p_brand").alias("part_brand"),
            "n_shipments",
            "n_orders",
            "total_qty",
            (F.col("price_c").cast("double") / 100.0).alias("total_price"),
        )
        .orderBy(F.desc("n_shipments"), F.desc("total_price"), F.asc("part_key"))
        .limit(k)
    )


TOPK_PARTS_SQL = """
SELECT
  p.p_partkey  AS part_key,
  p.p_name     AS part_name,
  p.p_brand    AS part_brand,
  a.n_shipments, a.n_orders, a.total_qty,
  CAST(a.price_c AS DOUBLE) / 100.0 AS total_price
FROM (
  SELECT l_partkey,
         count(*)                                        AS n_shipments,
         count(DISTINCT l_orderkey)                      AS n_orders,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
         sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS price_c
  FROM lineitem GROUP BY l_partkey
) a JOIN part p ON a.l_partkey = p.p_partkey
ORDER BY n_shipments DESC, total_price DESC, part_key ASC
LIMIT {k}
"""


def topk_by_group(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k suppliers per nation by account balance (ranked window)."""
    supplier = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        supplier.join(
            F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey, "inner"
        )
        .withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= k)
        .select(
            F.col("n_name").alias("nation_name"),
            F.col("s_name").alias("supplier_name"),
            F.col("s_acctbal").alias("acct_balance"),
            "rank_in_nation",
        )
        .orderBy("nation_name", "rank_in_nation")
    )


TOPK_BY_GROUP_SQL = """
SELECT nation_name, supplier_name, acct_balance,
       CAST(rank_in_nation AS INTEGER) AS rank_in_nation
FROM (
  SELECT
    n.n_name    AS nation_name,
    s.s_name    AS supplier_name,
    s.s_acctbal AS acct_balance,
    row_number() OVER (PARTITION BY n.n_name
                       ORDER BY s.s_acctbal DESC, s.s_suppkey ASC) AS rank_in_nation
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
)
WHERE rank_in_nation <= {k}
ORDER BY nation_name, rank_in_nation
"""


def pct_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type share of total (A6) — unpartitioned window, no collect."""
    events = read_events(spark, sf_dir)
    by_type = events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(cents("value")).alias("value_c"),
    )
    w = Window.partitionBy()
    return by_type.select(
        "event_type",
        "n_events",
        (F.col("value_c").cast("double") / 100.0).alias("total_value"),
        (
            F.col("n_events").cast("double") * 100.0
            / F.sum("n_events").over(w).cast("double")
        ).alias("pct_of_events"),
    ).orderBy(F.desc("n_events"), F.asc("event_type"))


PCT_OF_TOTAL_SQL = """
SELECT
  event_type,
  n_events,
  CAST(value_c AS DOUBLE) / 100.0 AS total_value,
  CAST(n_events AS DOUBLE) * 100.0 / CAST(sum(n_events) OVER () AS DOUBLE)
                                  AS pct_of_events
FROM (
  SELECT event_type, count(*) AS n_events,
         sum(CAST(round(value*100) AS BIGINT)) AS value_c
  FROM events GROUP BY event_type
)
ORDER BY n_events DESC, event_type ASC
"""


def global_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-row dataset profile (A3: global multi-aggregate)."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.min(F.to_date("o_orderdate")).alias("first_order_date"),
        F.max(F.to_date("o_orderdate")).alias("last_order_date"),
        F.sum(cents("o_totalprice")).alias("value_c"),
    ).select(
        "n_orders",
        "n_customers",
        "first_order_date",
        "last_order_date",
        (F.col("value_c").cast("double") / 100.0).alias("total_order_value"),
        (F.col("value_c").cast("double") / 100.0 / F.col("n_orders")).alias(
            "avg_order_value"
        ),
    )


GLOBAL_SUMMARY_SQL = """
SELECT
  n_orders,
  n_customers,
  first_order_date,
  last_order_date,
  CAST(value_c AS DOUBLE) / 100.0 AS total_order_value,
  CAST(value_c AS DOUBLE) / 100.0 / n_orders AS avg_order_value
FROM (
  SELECT count(*)                  AS n_orders,
         count(DISTINCT o_custkey) AS n_customers,
         min(CAST(o_orderdate AS DATE)) AS first_order_date,
         max(CAST(o_orderdate AS DATE)) AS last_order_date,
         sum(CAST(round(o_totalprice*100) AS BIGINT)) AS value_c
  FROM orders
)
"""


def latest_day_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-partition incremental read (S3) re-expressed on events.

    Reference semantics (``silver_transformations.py:21-45``): scalar MAX of
    the partition column, then an equality filter. On a table partitioned by
    day this is a metadata-only max + a single-partition scan.
    """
    events = read_events(spark, sf_dir)
    events = events.withColumn("event_day", F.to_date("ts"))
    latest = events.agg(F.max("event_day")).collect()[0][0]
    return (
        events.filter(F.col("event_day") == F.lit(latest))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            "event_type",
            "n_events",
            "n_users",
            (F.col("value_c").cast("double") / 100.0).alias("total_value"),
        )
        .orderBy("event_type")
    )


LATEST_DAY_ACTIVITY_SQL = """
SELECT event_type,
       count(*)                AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value
FROM events
WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
GROUP BY event_type
ORDER BY event_type
"""


def temporal_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly trend (A2 temporal: groupBy year(date))."""
    orders = read_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.sum(cents("o_totalprice")).alias("value_c"),
        )
        .select(
            "order_year",
            "n_orders",
            "n_customers",
            (F.col("value_c").cast("double") / 100.0).alias("total_value"),
        )
        .orderBy("order_year")
    )


TEMPORAL_TREND_SQL = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
       count(*)                            AS n_orders,
       count(DISTINCT o_custkey)           AS n_customers,
       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
                                           AS total_value
FROM orders
GROUP BY 1
ORDER BY order_year
"""


def sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user (window lag + running sum).

    A classic stateful-looking operator expressed relationally: one shuffle
    partitioned by user, two window passes over it, no Python. The streaming
    twin (``session_window``) lives in streaming/.
    """
    events = read_events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap (unix_timestamp would truncate to seconds and
    # disagree with the oracle's epoch_us on sub-second boundaries)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(by_user))
    with_breaks = events.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0),
    )
    with_ids = with_breaks.withColumn(
        "session_seq",
        F.sum("is_new_session").over(
            by_user.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_ids.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(cents("value")).alias("value_c"),
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "session_start",
            "session_end",
            (F.col("value_c").cast("double") / 100.0).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def sessionize_events_skew(
    events: DataFrame, gap_minutes: int = 30, bucket_hours: int = 24
) -> DataFrame:
    """Skew-hardened sessionize: identical output to ``sessionize`` with
    bounded window-partition sizes for hot users.

    The plain path partitions ONE window by ``user_id`` — at 100× event
    volume a hot user (bot, load test, default/anonymous id) serializes
    into a single task. Here the event-level window partitions by
    ``(user_id, time-bucket)`` so no task ever holds more than one
    bucket's worth of one user's events; sessions that the bucket edges
    cut are repaired by a second *stitch* window that runs over the
    per-(user, bucket, local-session) AGGREGATE frame — compressed by the
    events-per-session factor, and the correct altitude for the merge
    decision because only each local session's boundary timestamps matter.

    Stitch correctness: local sessions of one user are time-disjoint,
    ordered intervals (within a bucket by construction; across buckets
    because bucket ranges are disjoint), so "merge iff this session's
    first event is within ``gap`` of the previous session's last event"
    over the start-ordered sequence reproduces exactly the plain path's
    lag-gap decisions; running-summing the merge markers reproduces its
    session numbering. Property-tested equal on boundary-straddling
    inputs (tests/test_plans.py) and sharing the driver oracle
    (``SESSIONIZE_SQL``) verbatim.
    """
    gap_us = gap_minutes * 60 * 1_000_000
    bucket_us = bucket_hours * 3600 * 1_000_000
    ev = events.withColumn(
        "_bucket", F.floor(F.unix_micros("ts") / F.lit(bucket_us))
    )
    by_ub = Window.partitionBy("user_id", "_bucket").orderBy("ts", "event_id")
    lag_us = F.lag(F.unix_micros("ts")).over(by_ub)
    local_new = F.when(
        lag_us.isNull() | (F.unix_micros("ts") - lag_us > gap_us), 1
    ).otherwise(0)
    local = (
        ev.withColumn("_local_new", local_new)
        .withColumn(
            "_local_seq",
            F.sum("_local_new").over(
                by_ub.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("user_id", "_bucket", "_local_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(cents("value")).alias("value_c"),
        )
    )
    by_user = Window.partitionBy("user_id").orderBy("session_start")
    prev_end = F.lag(F.unix_micros("session_end")).over(by_user)
    merge_break = F.when(
        prev_end.isNull()
        | (F.unix_micros("session_start") - prev_end > gap_us),
        1,
    ).otherwise(0)
    stitched = local.withColumn("_new", merge_break).withColumn(
        "session_seq",
        F.sum("_new").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        stitched.groupBy("user_id", "session_seq")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.min("session_start").alias("session_start"),
            F.max("session_end").alias("session_end"),
            F.sum("value_c").alias("value_c"),
        )
        .select(
            "user_id",
            "session_seq",
            "n_events",
            "session_start",
            "session_end",
            (F.col("value_c").cast("double") / 100.0).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


def sessionize_skew(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30,
    bucket_hours: int = 24,
) -> DataFrame:
    """Driver entry for the skew-hardened sessionize (same oracle as
    ``sessionize`` — output is identical by construction)."""
    return sessionize_events_skew(
        read_events(spark, sf_dir),
        gap_minutes=gap_minutes,
        bucket_hours=bucket_hours,
    )


SESSIONIZE_SQL = """
SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       count(*)  AS n_events,
       min(ts)   AS session_start,
       max(ts)   AS session_end,
       CAST(sum(CAST(round(value*100) AS BIGINT)) AS DOUBLE) / 100.0
                 AS session_value
FROM (
  SELECT user_id, ts, value,
         sum(is_new_session) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS session_seq
  FROM (
    SELECT *,
           CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                                           ORDER BY ts, event_id))
                     > {gap_us}
                THEN 1 ELSE 0 END AS is_new_session
    FROM events
  )
)
GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
"""  # session_seq cast: DuckDB window sum(int) yields HUGEINT vs Spark LONG


FUNNEL_STEPS = ("view", "click", "signup", "purchase")


def funnel_steps(
    spark: SparkSession,
    sf_dir: str,
    steps: tuple[str, ...] = FUNNEL_STEPS,
) -> DataFrame:
    """Sequential conversion funnel over the event stream (driver entry —
    see :func:`funnel_over` for the semantics and plan shape)."""
    return funnel_over(read_events(spark, sf_dir), steps)


def funnel_over(
    events: DataFrame,
    steps: tuple[str, ...] = FUNNEL_STEPS,
) -> DataFrame:
    """Sequential conversion funnel over an events frame: for each user,
    the earliest step-N event strictly after their earliest step-(N-1)
    event; per step, how many users got there and the share of step-0
    users.

    Plan shape: ONE shuffle (partition by user), then a chain of
    unordered window-mins — step N's window condition references step
    N-1's column, so Catalyst stacks WindowExecs over the same hash
    partitioning without re-exchanging. The per-user frame collapses to
    one row per user, then to a single len(steps)-column row; the unpivot
    to (step, count) rows is driver-free. At 100 TB: events shuffle once,
    everything after is bounded by |users| then |steps|.
    """
    w = Window.partitionBy("user_id")
    cur = events.select("user_id", "ts", "event_type")
    tcols: list[str] = []
    for i, s in enumerate(steps):
        cond = F.col("event_type") == s
        if tcols:
            cond = cond & (F.col("ts") > F.col(tcols[-1]))
        cur = cur.withColumn(f"_t{i}", F.min(F.when(cond, F.col("ts"))).over(w))
        tcols.append(f"_t{i}")
    per_user = cur.groupBy("user_id").agg(
        *[F.max(t).alias(t) for t in tcols]
    )
    counts = per_user.agg(
        *[F.count(F.col(t)).alias(f"n_{i}") for i, t in enumerate(tcols)]
    )
    steps_arr = F.array(*[F.lit(s) for s in steps])
    exploded = counts.select(
        F.posexplode(
            F.array(*[F.col(f"n_{i}") for i in range(len(steps))])
        ).alias("step_index", "n_users"),
        F.col("n_0").alias("_first"),
    )
    return exploded.select(
        "step_index",
        F.element_at(steps_arr, F.col("step_index") + 1).alias("step"),
        "n_users",
        (F.col("n_users").cast("double") / F.col("_first").cast("double")).alias(
            "pct_of_first"
        ),
    ).orderBy("step_index")


def _funnel_oracle(steps: tuple[str, ...] = FUNNEL_STEPS) -> str:
    ctes = [
        f"t0 AS (SELECT user_id, min(ts) AS t FROM events"
        f" WHERE event_type = '{steps[0]}' GROUP BY user_id)"
    ]
    for i, s in enumerate(steps[1:], start=1):
        ctes.append(
            f"t{i} AS (SELECT e.user_id, min(e.ts) AS t FROM events e"
            f" JOIN t{i - 1} p USING (user_id)"
            f" WHERE e.event_type = '{s}' AND e.ts > p.t GROUP BY e.user_id)"
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS INTEGER) AS step_index, '{s}' AS step,"
        f" (SELECT count(*) FROM t{i}) AS n_users"
        for i, s in enumerate(steps)
    )
    return f"""
WITH {", ".join(ctes)},
cnt AS ({selects})
SELECT step_index, step, n_users,
       CAST(n_users AS DOUBLE) /
       CAST((SELECT n_users FROM cnt WHERE step_index = 0) AS DOUBLE)
         AS pct_of_first
FROM cnt
ORDER BY step_index
"""


FUNNEL_STEPS_SQL = _funnel_oracle()


def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction + aggregation (semi-structured scan path).

    ``events.props`` holds a JSON object; extract a typed field JVM-side
    (``get_json_object``) and aggregate. At scale this pushes the full
    parse into one codegen'd projection — no Python, no schema inference.
    """
    events = read_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


JSON_EXTRACT_AGG_SQL = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3-shaped: revenue of unshipped orders per segment window.

    Exercises filter pushdown on both join sides, a two-table shuffle join,
    groupBy on a composite key, and top-k with deterministic tiebreaks.
    """
    cutoff = "1998-01-01"
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    customer = read_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(F.sum(rev_e4).alias("rev_e4"))
        .select(
            "l_orderkey",
            "order_date",
            "o_orderpriority",
            (F.col("rev_e4").cast("double") / 10000.0).alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(k)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey, order_date, o_orderpriority,
       CAST(rev_e4 AS DOUBLE) / 10000.0 AS revenue
FROM (
  SELECT l.l_orderkey,
         CAST(o.o_orderdate AS DATE) AS order_date,
         o.o_orderpriority,
         sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
             * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS rev_e4
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE l.l_shipdate > TIMESTAMP '1998-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND c.c_mktsegment = 'BUILDING'
  GROUP BY 1, 2, 3
)
ORDER BY revenue DESC, l_orderkey ASC
LIMIT {k}
"""


def regional_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by region/nation through the full snowflake.

    lineitem⋈orders shuffles once; nation/region broadcast. Customer is left
    to AQE — it scales with the fact, so a forced broadcast breaks at 100 TB.
    """
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    rev_e4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.sum(rev_e4).alias("rev_e4"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .select(
            "region_name",
            "nation_name",
            (F.col("rev_e4").cast("double") / 10000.0).alias("revenue"),
            "n_lineitems",
            "n_customers",
        )
        .orderBy("region_name", F.desc("revenue"), "nation_name")
    )


REGIONAL_VOLUME_SQL = """
SELECT r.r_name AS region_name, n.n_name AS nation_name,
       CAST(sum(CAST(round(l.l_extendedprice*100) AS BIGINT)
                * (100 - CAST(round(l.l_discount*100) AS BIGINT))) AS DOUBLE)
         / 10000.0                     AS revenue,
       count(*)                        AS n_lineitems,
       count(DISTINCT o.o_custkey)     AS n_customers
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
GROUP BY 1, 2
ORDER BY region_name, revenue DESC, nation_name
"""


def moving_average(spark: SparkSession, sf_dir: str, days: int = 7) -> DataFrame:
    """Daily order volume with a trailing moving average (frame window)."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents("o_totalprice")).alias("value_c"),
    )
    w = Window.orderBy("day").rowsBetween(-(days - 1), 0)
    return daily.select(
        "day",
        "n_orders",
        (F.col("value_c").cast("double") / 100.0).alias("day_value"),
        (
            F.sum(F.col("value_c")).over(w).cast("double")
            / 100.0
            / F.count(F.lit(1)).over(w)
        ).alias("trailing_avg_value"),
        F.count(F.lit(1)).over(w).alias("window_days"),
    ).orderBy("day")


MOVING_AVERAGE_SQL = """
SELECT day, n_orders,
       CAST(value_c AS DOUBLE) / 100.0 AS day_value,
       CAST(sum(value_c) OVER w AS DOUBLE) / 100.0 / count(*) OVER w
         AS trailing_avg_value,
       count(*) OVER w AS window_days
FROM (
  SELECT CAST(o_orderdate AS DATE) AS day,
         count(*) AS n_orders,
         sum(CAST(round(o_totalprice*100) AS BIGINT)) AS value_c
  FROM orders GROUP BY 1
)
WINDOW w AS (ORDER BY day ROWS BETWEEN {prev} PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per market segment × order status."""
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)
    return (
        joined.groupBy(F.col("c_mktsegment").alias("market_segment"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
        .withColumnsRenamed({"O": "n_open", "F": "n_fulfilled", "P": "n_partial"})
        .orderBy("market_segment")
    )


SEGMENT_STATUS_PIVOT_SQL = """
SELECT c.c_mktsegment AS market_segment,
       count(*) FILTER (WHERE o.o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o.o_orderstatus = 'F') AS n_fulfilled,
       count(*) FILTER (WHERE o.o_orderstatus = 'P') AS n_partial
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1
ORDER BY market_segment
"""


def distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A7 parity: distinct counts + grouped counts in one result."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_orderkey", "l_linenumber").alias("n_lines"),
        )
        .orderBy("l_returnflag")
    )


DISTINCT_PROFILE_SQL = """
SELECT l_returnflag,
       count(*) AS n_rows,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT (l_orderkey, l_linenumber)) AS n_lines
FROM lineitem
GROUP BY 1
ORDER BY l_returnflag
"""


def rollup_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals via ROLLUP (flag → flag×status → grand total)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents("l_extendedprice")).alias("price_c"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            (F.col("price_c").cast("double") / 100.0).alias("total_price"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


ROLLUP_VOLUME_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def grouping_sets_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — subtotal combinations neither ROLLUP nor
    CUBE can express: (flag x status), (status), and the grand total,
    skipping the (flag) level. Uses the Spark 4 ``DataFrame.groupingSets``
    API; one shuffle, same partial-agg shape as rollup/cube."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag", "l_linestatus"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(cents("l_extendedprice")).alias("price_c"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            (F.col("price_c").cast("double") / 100.0).alias("total_price"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


GROUPING_SETS_VOLUME_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of per-returnflag measures (melt/stack)."""
    li = read_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.round("l_quantity").cast("long")).cast("double").alias("qty"),
        (F.sum(cents("l_extendedprice")).cast("double") / 100.0).alias("base_price"),
        (
            F.sum(
                cents("l_extendedprice")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
            ).cast("double")
            / 10000.0
        ).alias("disc_price"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["qty", "base_price", "disc_price"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


UNPIVOT_MEASURES_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS qty,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS DOUBLE) / 100.0
           AS base_price,
         CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                  * (100 - CAST(round(l_discount*100) AS BIGINT))) AS DOUBLE)
           / 10000.0 AS disc_price
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, measure, value FROM (
  SELECT l_returnflag, 'qty' AS measure, qty AS value FROM wide
  UNION ALL
  SELECT l_returnflag, 'base_price', base_price FROM wide
  UNION ALL
  SELECT l_returnflag, 'disc_price', disc_price FROM wide
)
ORDER BY l_returnflag, measure
"""


def profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the orders table: one row per column with
    null rate and distinct count (the pipeline-health operator every
    large-scale ingest needs). Built as a stack of per-column aggregates —
    a single pass over the table, then a tiny unpivot."""
    orders = read_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(c).alias(f"{c}__nn"),
            F.countDistinct(c).alias(f"{c}__nd"),
        ]
    wide = orders.agg(*aggs)
    rows = []
    for c in cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                (F.col(f"{c}__n") - F.col(f"{c}__nn")).alias("n_nulls"),
                F.col(f"{c}__nd").alias("n_distinct"),
            )
        )
    return (
        wide.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.column_name", "p.n_rows", "p.n_nulls", "p.n_distinct")
        .orderBy("column_name")
    )


PROFILE_COLUMNS_SQL = """
WITH wide AS (
  SELECT count(*) AS n,
         count(o_orderkey) AS nn1, count(DISTINCT o_orderkey) AS nd1,
         count(o_custkey) AS nn2, count(DISTINCT o_custkey) AS nd2,
         count(o_orderstatus) AS nn3, count(DISTINCT o_orderstatus) AS nd3,
         count(o_totalprice) AS nn4, count(DISTINCT o_totalprice) AS nd4,
         count(o_orderpriority) AS nn5, count(DISTINCT o_orderpriority) AS nd5
  FROM orders
)
SELECT column_name, n_rows, n_nulls, n_distinct FROM (
  SELECT 'o_orderkey' AS column_name, n AS n_rows, n - nn1 AS n_nulls, nd1 AS n_distinct FROM wide
  UNION ALL SELECT 'o_custkey', n, n - nn2, nd2 FROM wide
  UNION ALL SELECT 'o_orderstatus', n, n - nn3, nd3 FROM wide
  UNION ALL SELECT 'o_totalprice', n, n - nn4, nd4 FROM wide
  UNION ALL SELECT 'o_orderpriority', n, n - nn5, nd5 FROM wide
)
ORDER BY column_name
"""


def quantiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles of order value per priority tier.

    Quantile inputs are scaled-integer cents so the sort is exact; the
    linear interpolation ((1-g)*lo + g*hi) is the same IEEE arithmetic in
    both engines.
    """
    orders = read_table(spark, sf_dir, "orders")
    price_c = cents("o_totalprice")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.expr(
                "percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.5)"
            ) / 100.0).alias("median_value"),
            (F.expr(
                "percentile(CAST(round(o_totalprice*100) AS BIGINT), 0.9)"
            ) / 100.0).alias("p90_value"),
            (F.min(price_c).cast("double") / 100.0).alias("min_value"),
            (F.max(price_c).cast("double") / 100.0).alias("max_value"),
        )
        .orderBy("o_orderpriority")
    )


QUANTILES_BY_GROUP_SQL = """
SELECT o_orderpriority,
       count(*) AS n_orders,
       quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.5) / 100.0
         AS median_value,
       quantile_cont(CAST(round(o_totalprice*100) AS BIGINT), 0.9) / 100.0
         AS p90_value,
       CAST(min(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
         AS min_value,
       CAST(max(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
         AS max_value
FROM orders
GROUP BY 1
ORDER BY o_orderpriority
"""


def customer_retention_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT / UNION) on yearly customer sets.

    Retained = ordered in both years; churned = first year only; new =
    second year only. Spark plans INTERSECT/EXCEPT as left-semi/anti joins
    after aggregation — no custom set machinery needed.
    """
    orders = read_table(spark, sf_dir, "orders")
    y1 = orders.filter(F.year("o_orderdate") == 1996).select("o_custkey")
    y2 = orders.filter(F.year("o_orderdate") == 1997).select("o_custkey")
    retained = y1.intersect(y2).select(
        F.lit("retained").alias("cohort"), F.col("o_custkey").alias("cust_key")
    )
    churned = y1.subtract(y2).select(  # EXCEPT (distinct) semantics
        F.lit("churned").alias("cohort"), F.col("o_custkey").alias("cust_key")
    )
    new = y2.subtract(y1).select(
        F.lit("new").alias("cohort"), F.col("o_custkey").alias("cust_key")
    )
    return retained.unionByName(churned).unionByName(new).orderBy(
        "cohort", "cust_key"
    )


CUSTOMER_RETENTION_SETOPS_SQL = """
WITH y1 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996),
     y2 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997)
SELECT 'retained' AS cohort, o_custkey AS cust_key
  FROM (SELECT o_custkey FROM y1 INTERSECT SELECT o_custkey FROM y2)
UNION ALL
SELECT 'churned', o_custkey
  FROM (SELECT o_custkey FROM y1 EXCEPT SELECT o_custkey FROM y2)
UNION ALL
SELECT 'new', o_custkey
  FROM (SELECT o_custkey FROM y2 EXCEPT SELECT o_custkey FROM y1)
ORDER BY cohort, cust_key
"""


def sql_api_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same engine through the SQL API (S8: temp views + ``spark.sql``).

    The reference drives DML through SQL strings (its MERGE path); this
    demonstrates the equivalent surface here — Catalyst produces the same
    plan as the DataFrame version.
    """
    read_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "v_orders"
    )
    read_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "v_customer"
    )
    return spark.sql(
        """
        SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
               c.c_mktsegment AS market_segment,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS total_value
        FROM v_orders o JOIN v_customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
        ORDER BY order_year, market_segment
        """
    )


SQL_API_TREND_SQL = """
SELECT CAST(year(o.o_orderdate) AS INT) AS order_year,
       c.c_mktsegment AS market_segment,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice*100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
ORDER BY order_year, market_segment
"""


def cube_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-subtotal-combinations aggregate via CUBE (rollup's superset)."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.round("l_quantity").cast("long")).alias("total_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


CUBE_VOLUME_SQL = """
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def attribution(
    spark: SparkSession,
    sf_dir: str,
    conversion_type: str = "purchase",
) -> DataFrame:
    """Marketing attribution over the event stream: every conversion
    event credits its user's FIRST-touch and LAST-touch channel (the
    event_type of the earliest / latest preceding non-conversion event).
    Output per channel: conversions credited and value in exact cents
    under each model.

    Plan shape: one shuffle on user, two frame windows over it (running
    first/last of the preceding non-conversion touches — the same
    stacked-window idiom as the funnel), then a channel-sized aggregate.
    Conversions with no preceding touch attribute to the literal
    ``'(none)'`` channel rather than being dropped.
    """
    events = read_events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != conversion_type, F.col("event_type"))
    enriched = events.withColumn(
        "first_touch", F.first(touch, ignorenulls=True).over(w)
    ).withColumn("last_touch", F.last(touch, ignorenulls=True).over(w))
    conv = enriched.filter(F.col("event_type") == conversion_type).select(
        F.coalesce("first_touch", F.lit("(none)")).alias("first_touch"),
        F.coalesce("last_touch", F.lit("(none)")).alias("last_touch"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    first = conv.groupBy(F.col("first_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("first_touch_conversions"),
        F.sum("value_c").alias("first_touch_value_c"),
    )
    last = conv.groupBy(F.col("last_touch").alias("channel")).agg(
        F.count(F.lit(1)).alias("last_touch_conversions"),
        F.sum("value_c").alias("last_touch_value_c"),
    )
    return (
        first.join(last, "channel", "full")
        .select(
            "channel",
            F.coalesce("first_touch_conversions", F.lit(0)).alias(
                "first_touch_conversions"
            ),
            F.coalesce("first_touch_value_c", F.lit(0)).alias(
                "first_touch_value_c"
            ),
            F.coalesce("last_touch_conversions", F.lit(0)).alias(
                "last_touch_conversions"
            ),
            F.coalesce("last_touch_value_c", F.lit(0)).alias(
                "last_touch_value_c"
            ),
        )
        .orderBy("channel")
    )


ATTRIBUTION_SQL = """
WITH enriched AS (
  SELECT event_type, value,
         first_value(CASE WHEN event_type <> '{conv}' THEN event_type END
                     IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS first_touch,
         last_value(CASE WHEN event_type <> '{conv}' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM events
),
conv AS (
  SELECT COALESCE(first_touch, '(none)') AS first_touch,
         COALESCE(last_touch, '(none)') AS last_touch,
         CAST(round(value * 100) AS BIGINT) AS value_c
  FROM enriched WHERE event_type = '{conv}'
),
f AS (
  SELECT first_touch AS channel, count(*) AS fc,
         CAST(sum(value_c) AS BIGINT) AS fv
  FROM conv GROUP BY 1
),
l AS (
  SELECT last_touch AS channel, count(*) AS lc,
         CAST(sum(value_c) AS BIGINT) AS lv
  FROM conv GROUP BY 1
)
SELECT COALESCE(f.channel, l.channel) AS channel,
       COALESCE(fc, 0) AS first_touch_conversions,
       COALESCE(fv, 0) AS first_touch_value_c,
       COALESCE(lc, 0) AS last_touch_conversions,
       COALESCE(lv, 0) AS last_touch_value_c
FROM f FULL JOIN l ON f.channel = l.channel
ORDER BY channel
"""


def value_histogram(
    spark: SparkSession,
    sf_dir: str,
    n_bins: int = 20,
) -> DataFrame:
    """Fixed-width histogram of ``lineitem.l_extendedprice``: one global
    min/max aggregate (2 scalars, broadcast back as literals via a 1-row
    cross join would also work — here the bin expression uses the
    aggregate-derived bounds through a broadcast join), then a
    width-bucket projection + count. Bin ids and edges are exact
    integers in cents, so the histogram hash-matches DuckDB.
    """
    li = read_table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("p_c")
    )
    bounds = li.agg(
        F.min("p_c").alias("lo"), F.max("p_c").alias("hi")
    )
    binned = li.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.expr(f"(p_c - lo) * {n_bins} div (hi - lo + 1)"),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    return binned.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).orderBy("bin")


VALUE_HISTOGRAM_SQL = """
WITH p AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS p_c FROM lineitem
),
b AS (SELECT min(p_c) AS lo, max(p_c) AS hi FROM p)
SELECT LEAST((p.p_c - b.lo) * {n_bins} // (b.hi - b.lo + 1),
             {n_bins} - 1) AS bin,
       count(*) AS n
FROM p CROSS JOIN b
GROUP BY 1
ORDER BY bin
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by first-activity
    week; for each (cohort_week, week_offset), distinct active users and
    integer retention percent of the cohort's size.

    Plan: distinct (user, week) — one shuffle; per-user min week — an
    aggregate over that (already user-partitioned) frame; matrix — one
    more |user-weeks|-sized aggregate; cohort sizes broadcast back.
    Weeks are epoch-week integers (days since 1970-01-05, a Monday,
    div 7) — exact cross-engine arithmetic, no WEEK() locale traps.
    """
    ev = read_events(spark, sf_dir)
    wk = F.expr("datediff(to_date(ts), date'1970-01-05') div 7")
    user_weeks = ev.select(
        F.col("user_id"), wk.cast("long").alias("week")
    ).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    matrix = (
        user_weeks.join(cohorts, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    sizes = matrix.filter(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return (
        matrix.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.expr("(n_active * 100) div cohort_size").alias("retention_pct"),
        )
        .orderBy("cohort_week", "week_offset")
    )


COHORT_RETENTION_SQL = """
WITH user_weeks AS (
  SELECT DISTINCT user_id,
         datediff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7 AS week
  FROM events
),
cohorts AS (
  SELECT user_id, min(week) AS cohort_week FROM user_weeks GROUP BY user_id
),
matrix AS (
  SELECT c.cohort_week,
         u.week - c.cohort_week AS week_offset,
         count(DISTINCT u.user_id) AS n_active
  FROM user_weeks u JOIN cohorts c USING (user_id)
  GROUP BY 1, 2
),
sizes AS (
  SELECT cohort_week, n_active AS cohort_size FROM matrix WHERE week_offset = 0
)
SELECT m.cohort_week,
       CAST(m.week_offset AS BIGINT) AS week_offset,
       m.n_active,
       s.cohort_size,
       (m.n_active * 100) // s.cohort_size AS retention_pct
FROM matrix m JOIN sizes s USING (cohort_week)
ORDER BY cohort_week, week_offset
"""


def anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-status daily order values flagged by the 3-sigma rule —
    integer-exact outlier detection over grouped series.

    The float-free trick: ``|x - mean| > 3*sigma`` is squared into
    ``(n*x - S)^2 > 9*(n*Q - S^2)`` (population variance; both sides
    integer), and to keep the squares inside int64 at any realistic
    value scale the series is first SHIFTED by its integer mean
    (variance is shift-invariant): pass 1 computes ``mu0 = S div n``
    per series, pass 2 works on deviations ``d = x - mu0``, whose
    squares are bounded by the series SPREAD, not its absolute
    magnitude. Two window passes over one (status)-partitioned shuffle;
    no collect, no join. DuckDB reproduces every step bit-for-bit.
    """
    orders = read_table(spark, sf_dir, "orders")
    # stats run on x div 100 (hundreds of dollars): with the ANSI-mode
    # exact multiplies below, the coarser unit buys ~4 orders of int64
    # headroom on (n*d - sd)^2 and n*sq at any realistic daily volume;
    # the displayed x stays in whole dollars
    daily = orders.groupBy(
        F.col("o_orderstatus").alias("status"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.sum(F.round("o_totalprice").cast("long")).alias("x"))
    w = Window.partitionBy("status")
    p1 = daily.select(
        "status",
        "day",
        "x",
        F.expr("x div 100").alias("xs"),
        F.expr("sum(x div 100) over (partition by status) div "
               "count(*) over (partition by status)").alias("mu0"),
    )
    p2 = p1.select(
        "status",
        "day",
        "x",
        (F.col("xs") - F.col("mu0")).alias("d"),
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("xs") - F.col("mu0")).over(w).alias("sd"),
        F.sum((F.col("xs") - F.col("mu0")) * (F.col("xs") - F.col("mu0")))
        .over(w)
        .alias("sq"),
    )
    return p2.select(
        "status",
        "day",
        "x",
        (
            (F.col("n") * F.col("d") - F.col("sd"))
            * (F.col("n") * F.col("d") - F.col("sd"))
            > F.lit(9) * (F.col("n") * F.col("sq") - F.col("sd") * F.col("sd"))
        ).alias("is_anomaly"),
    ).orderBy("status", "day")


ANOMALY_DAYS_SQL = """
WITH daily AS (
  SELECT o_orderstatus AS status, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
), p1 AS (
  SELECT status, day, x, x // 100 AS xs,
         sum(x // 100) OVER (PARTITION BY status)
           // count(*) OVER (PARTITION BY status) AS mu0
  FROM daily
), p2 AS (
  SELECT status, day, x, xs - mu0 AS d,
         count(*) OVER (PARTITION BY status) AS n,
         sum(xs - mu0) OVER (PARTITION BY status) AS sd,
         sum((xs - mu0) * (xs - mu0)) OVER (PARTITION BY status) AS sq
  FROM p1
)
SELECT status, day, x,
       (n*d - sd) * (n*d - sd) > 9 * (n*sq - sd*sd) AS is_anomaly
FROM p2
ORDER BY status, day
"""


def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the daily order-value series, per
    status: flag days where the one-sided cumulative sum of deviations
    from the series mean exceeds a threshold.

    The textbook recursion ``C_t = max(0, C_{t-1} + dev_t)`` is not a
    window expression, but it has a closed form: with ``S_t`` the plain
    prefix sum of deviations, ``C_t = S_t - min(0, min_{i<=t} S_i)`` —
    a running SUM and a running MIN over the same keyed window (one
    exchange+sort evaluates both). Everything is exact int64 (deviations
    are scaled-cents minus the integer-div group mean minus an integer
    slack), so the DuckDB twin hashes bit-for-bit.

    Scale: windows are per status key (bounded groups of days, keyed
    exchange); the series length per key is days-of-history — the same
    bound every per-key time-series operator here carries.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(F.round("o_totalprice").cast("long")).alias("x")
        )
    )
    grp = Window.partitionBy("status")
    seq = Window.partitionBy("status").orderBy("day")
    # integer mean, slack k = mu0 div 2, threshold h = 2*mu0 — tuned to
    # a ~1.6% alarm rate on the synthetic series (alarm-rate sweep in the
    # r8 build log); dev_t = x - mu0 - k
    p1 = (
        daily.select(
            "status",
            "day",
            "x",
            F.sum("x").over(grp).alias("_tot"),
            F.count(F.lit(1)).over(grp).alias("_cnt"),
        )
        .withColumn("mu0", F.expr("_tot div _cnt"))
        .select(
            "status",
            "day",
            "x",
            (F.col("x") - F.col("mu0") - F.expr("mu0 div 2")).alias("dev"),
            (F.col("mu0") * 2).alias("h"),
        )
    )
    # windows nest one level at a time: s first, then min(s)
    p2 = p1.select(
        "status", "day", "x", "h", F.sum("dev").over(seq).alias("s")
    ).select(
        "status", "day", "x", "h", "s", F.min("s").over(seq).alias("low_water")
    )
    return p2.select(
        "status",
        "day",
        "x",
        (F.col("s") - F.least(F.lit(0).cast("long"), F.col("low_water")))
        .alias("cusum"),
        (
            F.col("s") - F.least(F.lit(0).cast("long"), F.col("low_water"))
            > F.col("h")
        ).alias("is_alarm"),
    ).orderBy("status", "day")


CUSUM_CHANGEPOINT_SQL = """
WITH daily AS (
  SELECT o_orderstatus AS status, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1, 2
), p1 AS (
  SELECT status, day, x,
         CAST(sum(x) OVER (PARTITION BY status)
           // count(*) OVER (PARTITION BY status) AS BIGINT) AS mu0
  FROM daily
), p2 AS (
  SELECT status, day, x,
         x - mu0 - (mu0 // 2) AS dev,
         mu0 * 2 AS h
  FROM p1
), p3a AS (
  SELECT status, day, x, h,
         CAST(sum(dev) OVER (PARTITION BY status ORDER BY day) AS BIGINT) AS s
  FROM p2
), p3 AS (
  SELECT status, day, x, h, s,
         min(s) OVER (PARTITION BY status ORDER BY day) AS low_water
  FROM p3a
)
SELECT status, day, x,
       CAST(s - least(0, low_water) AS BIGINT) AS cusum,
       s - least(0, low_water) > h AS is_alarm
FROM p3
ORDER BY status, day
"""


def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group statistics: clamp order values to the exact
    [p05, p95] discrete quantiles of their priority tier, then aggregate
    — the robust-mean pattern for heavy-tailed measures.

    Exactness: quantile bounds are the values at sorted positions
    ``ceil(n * p)`` (integer milli arithmetic, so the cut position is
    identical cross-engine; the value at a position is well-defined
    under ties). Everything downstream is int64 cents.

    Scale shape: ONE keyed window pass (row_number + count over the
    group) feeds a 2-rows-per-group bounds frame; bounds BROADCAST back
    onto a fresh scan for the clamp+aggregate (map-side partial agg).
    The per-group sort is the same cost any exact per-group quantile
    carries; nothing is single-partition and nothing collects.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderpriority").alias("priority"),
        cents("o_totalprice").alias("v"),
    )
    w = Window.partitionBy("priority").orderBy("v")
    grp = Window.partitionBy("priority")
    ranked = base.select(
        "priority",
        "v",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(grp).alias("n"),
    )
    bounds = (
        ranked.filter(
            (F.col("rn") == F.expr("(n * 50 + 999) div 1000"))
            | (F.col("rn") == F.expr("(n * 950 + 999) div 1000"))
        )
        .groupBy("priority")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    clamped = base.join(F.broadcast(bounds), "priority").select(
        "priority",
        "lo",
        "hi",
        F.least(F.greatest(F.col("v"), F.col("lo")), F.col("hi")).alias("cv"),
        (F.col("v") < F.col("lo")).cast("long").alias("clip_lo"),
        (F.col("v") > F.col("hi")).cast("long").alias("clip_hi"),
    )
    return (
        clamped.groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.first("lo").alias("lo_cents"),
            F.first("hi").alias("hi_cents"),
            F.sum("cv").alias("winsorized_sum_cents"),
            F.sum("clip_lo").alias("n_clipped_lo"),
            F.sum("clip_hi").alias("n_clipped_hi"),
        )
        .select(
            "priority",
            "n",
            "lo_cents",
            "hi_cents",
            "winsorized_sum_cents",
            F.expr("winsorized_sum_cents div n").alias("winsorized_mean_cents"),
            "n_clipped_lo",
            "n_clipped_hi",
        )
        .orderBy("priority")
    )


WINSORIZED_STATS_SQL = """
WITH base AS (
  SELECT o_orderpriority AS priority,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
), ranked AS (
  SELECT priority, v,
         row_number() OVER (PARTITION BY priority ORDER BY v) AS rn,
         count(*) OVER (PARTITION BY priority) AS n
  FROM base
), bounds AS (
  SELECT priority, min(v) AS lo, max(v) AS hi
  FROM ranked
  WHERE rn = (n * 50 + 999) // 1000 OR rn = (n * 950 + 999) // 1000
  GROUP BY priority
), clamped AS (
  SELECT b.priority, bo.lo, bo.hi,
         least(greatest(b.v, bo.lo), bo.hi) AS cv,
         CASE WHEN b.v < bo.lo THEN 1 ELSE 0 END AS clip_lo,
         CASE WHEN b.v > bo.hi THEN 1 ELSE 0 END AS clip_hi
  FROM base b JOIN bounds bo ON b.priority = bo.priority
)
SELECT priority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(lo) AS BIGINT) AS lo_cents,
       CAST(min(hi) AS BIGINT) AS hi_cents,
       CAST(sum(cv) AS BIGINT) AS winsorized_sum_cents,
       CAST(sum(cv) AS BIGINT) // count(*) AS winsorized_mean_cents,
       CAST(sum(clip_lo) AS BIGINT) AS n_clipped_lo,
       CAST(sum(clip_hi) AS BIGINT) AS n_clipped_hi
FROM clamped
GROUP BY priority
ORDER BY priority
"""


def pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier (skyline) of parts: minimize price, maximize
    size — the "best tradeoff set" operator.

    The naive skyline is an all-pairs dominance anti-join; in 2-D it
    collapses to a sweep: a part is non-dominated iff its size beats the
    best size at any STRICTLY lower price (integer cents, so "strictly
    lower" is an exact range bound) and ties the best size at its own
    price point (duplicate (price, size) points are mutually
    non-dominating and all survive).

    The running max is computed as a bucketed two-phase exclusive scan
    (the ``operators.sampling.prefix_sum`` shape), NOT an unpartitioned
    RANGE window — the r7 version's ``Window.orderBy("price_c")`` with
    no partitionBy planned an Exchange SinglePartition that put the
    whole table in one task (VERDICT r7 "What's wrong" #2). Here:
    (1) bucket prices into fixed-width cells; (2) one hash-partitioned
    window per bucket gives the strictly-below max WITHIN the bucket
    and the best-at-own-price max (same partition+order spec → a single
    exchange+sort evaluates both frames); (3) an exclusive prefix max
    over the per-bucket maxima — a window over n_buckets rows (KBs),
    never the table — is broadcast back. ``greatest`` skips nulls, so
    rows with no strictly-lower price anywhere keep best_below = NULL.
    DuckDB evaluates the mathematically identical single-frame SQL.
    """
    bucket_size = 1024  # cents per cell; price domain is fixed, ~200 cells
    part = read_table(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        cents("p_retailprice").alias("price_c"),
        F.col("p_size").cast("long").alias("size"),
    ).withColumn("_bkt", F.floor(F.col("price_c") / F.lit(bucket_size)))
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("price_c")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_at = (
        Window.partitionBy("_bkt").orderBy("price_c").rangeBetween(0, 0)
    )
    # exclusive prefix max over the bucket maxima: single-partition
    # window, but over n_buckets rows (bounded by the price domain /
    # bucket_size), never the table
    w_prev = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        pts.groupBy("_bkt")
        .agg(F.max("size").alias("_bmax"))
        .select("_bkt", F.max("_bmax").over(w_prev).alias("_prev_max"))
    )
    scored = pts.join(F.broadcast(offsets), "_bkt").select(
        "p_partkey",
        "price_c",
        "size",
        F.greatest(
            F.max("size").over(w_in), F.col("_prev_max")
        ).alias("best_below"),
        F.max("size").over(w_at).alias("best_at"),
    )
    return (
        scored.where(
            (F.col("best_below").isNull() | (F.col("size") > F.col("best_below")))
            & (F.col("size") == F.col("best_at"))
        )
        .select("p_partkey", "price_c", "size")
        .orderBy("price_c", "p_partkey")
    )


PARETO_FRONT_SQL = """
WITH pts AS (
  SELECT p_partkey, CAST(round(p_retailprice*100) AS BIGINT) AS price_c,
         CAST(p_size AS BIGINT) AS size
  FROM part
), scored AS (
  SELECT p_partkey, price_c, size,
         max(size) OVER (ORDER BY price_c
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS best_below,
         max(size) OVER (PARTITION BY price_c) AS best_at
  FROM pts
)
SELECT p_partkey, price_c, size
FROM scored
WHERE (best_below IS NULL OR size > best_below) AND size = best_at
ORDER BY price_c, p_partkey
"""


def ewma_daily(spark: SparkSession, sf_dir: str, window: int = 8) -> DataFrame:
    """Exponentially-weighted moving average of daily order value with
    geometric power-of-2 weights over the trailing ``window`` days —
    integer-exact (weights ``2^(w-1-i)``, denominator ``2^w - 1``), so
    the DuckDB twin matches bit-for-bit. A true recursive EWMA depends
    on unbounded history (not expressible as a frame in either engine);
    the truncated form keeps >99.6% of the mass at w=8 and is a fixed
    LAG ladder — one window shuffle, null until the ladder is full."""
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(cents("o_totalprice")).alias("x")
    )
    w = Window.orderBy("day")
    terms = None
    for i in range(window):
        t = F.lag("x", i).over(w) * F.lit(2 ** (window - 1 - i))
        terms = t if terms is None else terms + t
    denom = 2**window - 1
    return (
        daily.select("day", "x", terms.alias("wsum"))
        .select(
            "day",
            "x",
            F.expr(f"wsum div {denom}").alias("ewma_c"),
        )
        .orderBy("day")
    )


def ewma_daily_oracle_sql(window: int = 8) -> str:
    terms = " + ".join(
        f"lag(x, {i}) OVER w * {2 ** (window - 1 - i)}" for i in range(window)
    )
    return f"""
WITH daily AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS x
  FROM orders GROUP BY 1
)
SELECT day, x, CAST(({terms}) // {2**window - 1} AS BIGINT) AS ewma_c
FROM daily
WINDOW w AS (ORDER BY day)
ORDER BY day
"""


def comoment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise co-moment state over lineitem's numeric measures — the
    MERGEABLE sufficient statistics for covariance/correlation:
    ``(col_a, col_b, n, sum_a, sum_b, sum_aa, sum_bb, sum_ab)``.

    This is the classic distributed-covariance layout: partial
    co-moments add across partitions/batches/days, so the state — one
    row per column pair regardless of input size — IS the merge
    artifact, and any consumer derives covariance
    ``(n*sum_ab - sum_a*sum_b) / n^2`` or Pearson r from it in closed
    form. Everything stays exact int64: measures are quantized to
    coarse units chosen so ``n * max(x^2)`` holds headroom (quantity in
    whole units, price in whole dollars, discount in milli-units).
    Written bound (r10 overflow audit, correcting the earlier "~1e3 at
    sf100" claim): ``sum(price²)`` binds first at ~1.1e10/row →
    BIGINT-exact to ~8.4e8 lineitems ≈ sf140; past that, re-quantize
    price to deka-dollars (state stays mergeable, consumers rescale) or
    carry the squared sums in DECIMAL(38,0) state. One scan, one global aggregate
    (map-side partial), then a 1-row stack() unpivot — the
    ``expectations_audit`` shape.
    """
    li = read_table(spark, sf_dir, "lineitem")
    q = li.select(
        F.round("l_quantity").cast("long").alias("qty"),
        F.round("l_extendedprice").cast("long").alias("price"),
        F.round(F.col("l_discount") * 1000).cast("long").alias("disc"),
    )
    cols = ["qty", "price", "disc"]
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(c).alias(f"_s_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"_p_{a}_{b}"))
        aggs.append(F.sum(F.col(a) * F.col(a)).alias(f"_p_{a}_{a}"))
    wide = q.agg(*aggs)
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i:]
    ]
    stack_args = ", ".join(
        f"'{a}', '{b}', _s_{a}, _s_{b}, _p_{a}_{a}, _p_{b}_{b}, "
        + (f"_p_{a}_{b}" if a != b else f"_p_{a}_{a}")
        for a, b in pairs
    )
    return wide.selectExpr(
        "_n",
        f"stack({len(pairs)}, {stack_args}) as "
        "(col_a, col_b, sum_a, sum_b, sum_aa, sum_bb, sum_ab)",
    ).select(
        "col_a",
        "col_b",
        F.col("_n").cast("long").alias("n"),
        "sum_a",
        "sum_b",
        "sum_aa",
        "sum_bb",
        "sum_ab",
    ).orderBy("col_a", "col_b")


COMOMENT_MATRIX_SQL = """
WITH q AS (
  SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice) AS BIGINT) AS price,
         CAST(round(l_discount * 1000) AS BIGINT) AS disc
  FROM lineitem
), w AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qty) AS BIGINT) AS s_qty,
         CAST(sum(price) AS BIGINT) AS s_price,
         CAST(sum(disc) AS BIGINT) AS s_disc,
         CAST(sum(qty*qty) AS BIGINT) AS p_qq,
         CAST(sum(price*price) AS BIGINT) AS p_pp,
         CAST(sum(disc*disc) AS BIGINT) AS p_dd,
         CAST(sum(qty*price) AS BIGINT) AS p_qp,
         CAST(sum(qty*disc) AS BIGINT) AS p_qd,
         CAST(sum(price*disc) AS BIGINT) AS p_pd
  FROM q
)
SELECT * FROM (
  SELECT 'qty' AS col_a, 'qty' AS col_b, n,
         s_qty AS sum_a, s_qty AS sum_b, p_qq AS sum_aa, p_qq AS sum_bb,
         p_qq AS sum_ab FROM w
  UNION ALL
  SELECT 'qty', 'price', n, s_qty, s_price, p_qq, p_pp, p_qp FROM w
  UNION ALL
  SELECT 'qty', 'disc', n, s_qty, s_disc, p_qq, p_dd, p_qd FROM w
  UNION ALL
  SELECT 'price', 'price', n, s_price, s_price, p_pp, p_pp, p_pp FROM w
  UNION ALL
  SELECT 'price', 'disc', n, s_price, s_disc, p_pp, p_dd, p_pd FROM w
  UNION ALL
  SELECT 'disc', 'disc', n, s_disc, s_disc, p_dd, p_dd, p_dd FROM w
)
ORDER BY col_a, col_b
"""


def categorical_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StringIndexer-style deterministic categorical dictionary:
    ``(value, n, code)`` for ``c_mktsegment``, codes dense from 0 in
    (frequency desc, value asc) order — the ML-featurization encoding
    step as a pure DataFrame plan. The dictionary is category-sized
    (broadcastable back onto a 100 TB fact for the actual encode); the
    frequency-major order is what keeps frequent categories in small
    code values for downstream embedding tables."""
    cust = read_table(spark, sf_dir, "customer")
    counts = cust.groupBy(F.col("c_mktsegment").alias("value")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.orderBy(F.desc("n"), "value")
    return counts.select(
        "value",
        "n",
        (F.row_number().over(w) - 1).cast("long").alias("code"),
    ).orderBy("code")


CATEGORICAL_ENCODE_SQL = """
WITH counts AS (
  SELECT c_mktsegment AS value, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1
)
SELECT value, n,
       CAST(row_number() OVER (ORDER BY n DESC, value) - 1 AS BIGINT) AS code
FROM counts
ORDER BY code
"""


def variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark's VARIANT type (the
    columnar-JSON path Delta/Iceberg v3 standardize on): ``parse_json``
    turns the raw ``props`` string into a variant ONCE at scan level,
    and field access is ``try_variant_get`` — binary-encoded access,
    no per-access re-parse, unlike ``get_json_object`` which re-parses
    the string for every extraction (the ``json_extract_agg`` entry
    keeps that classic path for contrast). Per event type:
    ``(event_type, n, n_with_k, sum_k, max_k)`` with ``$.k`` as bigint;
    malformed/missing paths become NULL (try_ semantics), counted via
    ``n_with_k``. Oracle: DuckDB's native JSON extraction yields the
    identical integers.
    """
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


VARIANT_EXTRACT_SQL = """
WITH k AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(k) AS BIGINT) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(max(k) AS BIGINT) AS max_k
FROM k
GROUP BY event_type
ORDER BY event_type
"""


def ab_test(spark: SparkSession, sf_dir: str, conv_min: int = 14) -> DataFrame:
    """Two-proportion z-test on a deterministic A/B split — the
    experimentation primitive completing the product-analytics family
    (funnel, attribution, retention, anomaly): users split by
    ``user_id % 2``, "converted" = at least ``conv_min`` purchase
    events. One row: per-arm trials/conversions (exact integers) plus
    the pooled z-squared statistic and its 95% verdict
    (``z^2 > 3.8416`` = chi-squared(1) critical value).

    Cross-engine float rule: ``z2`` is derived from the four exact
    integer counts through the IDENTICAL IEEE-double formula in both
    engines (binary64 ops are deterministic given the same operand
    order), so even the double hashes equal. Shape: one groupBy(user)
    partial-agg, one 2-row aggregate, a 1-row pivot — nothing
    corpus-sized moves.
    """
    from ..sources.tables import read_events

    events = read_events(spark, sf_dir)
    users = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purch"))
        .select(
            (F.col("user_id") % 2).alias("arm"),
            (F.col("n_purch") >= conv_min).cast("long").alias("conv"),
        )
    )
    arms = users.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"), F.sum("conv").alias("c")
    )
    wide = arms.groupBy().pivot("arm", [0, 1]).agg(
        F.first("n").alias("n"), F.first("c").alias("c")
    )
    # identical-order IEEE arithmetic on the exact integer counts
    diff = F.expr(
        "CAST(`0_c` AS DOUBLE) / CAST(`0_n` AS DOUBLE)"
        " - CAST(`1_c` AS DOUBLE) / CAST(`1_n` AS DOUBLE)"
    )
    pooled = F.expr(
        "(CAST(`0_c` + `1_c` AS DOUBLE) / CAST(`0_n` + `1_n` AS DOUBLE))"
    )
    var = pooled * (F.lit(1.0) - pooled) * F.expr(
        "1.0 / CAST(`0_n` AS DOUBLE) + 1.0 / CAST(`1_n` AS DOUBLE)"
    )
    z2v = (diff * diff) / var
    return wide.select(
        F.col("`0_n`").alias("n_a"),
        F.col("`0_c`").alias("c_a"),
        F.col("`1_n`").alias("n_b"),
        F.col("`1_c`").alias("c_b"),
        z2v.alias("z2"),
        (z2v > F.lit(3.8416)).alias("significant_95"),
    )


def ab_test_oracle_sql(conv_min: int = 14) -> str:
    return f"""
WITH users AS (
  SELECT user_id % 2 AS arm,
         CAST(count(*) >= {conv_min} AS BIGINT) AS conv
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
), arms AS (
  SELECT arm, CAST(count(*) AS BIGINT) AS n, CAST(sum(conv) AS BIGINT) AS c
  FROM users GROUP BY arm
), wide AS (
  SELECT
    max(CASE WHEN arm = 0 THEN n END) AS n_a,
    max(CASE WHEN arm = 0 THEN c END) AS c_a,
    max(CASE WHEN arm = 1 THEN n END) AS n_b,
    max(CASE WHEN arm = 1 THEN c END) AS c_b
  FROM arms
)
SELECT n_a, c_a, n_b, c_b,
       ((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        * (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
       / ((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         AS z2,
       ((CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
         - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        * (CAST(c_a AS DOUBLE) / CAST(n_a AS DOUBLE)
           - CAST(c_b AS DOUBLE) / CAST(n_b AS DOUBLE)))
       / ((CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          * (1.0 - CAST(c_a + c_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
          * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
         > 3.8416 AS significant_95
FROM wide
"""


def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every ordered pair of consecutive events (by
    ``(ts, event_id)`` within a user), the transition count and its
    EXACT milli-probability ``(n * 1000) div row_total`` — the
    behavioral-model primitive behind funnel diagnosis, next-action
    prediction features, and anomalous-session scoring.

    Shape: ONE window ``lag`` riding the (user_id) hash partition the
    event family already uses, one map-side-combinable groupBy on the
    (src, dst) pair (|event_types|² ≤ tiny), and a row-normalizing
    window over that tiny frame — nothing corpus-sized shuffles twice,
    nothing is collected. Integer milli-units → bit-identical DuckDB
    twin (cross-engine float rule).
    """
    events = read_events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        F.lag("event_type").over(by_user).alias("src_event"),
        F.col("event_type").alias("dst_event"),
    ).filter(F.col("src_event").isNotNull())
    counts = seq.groupBy("src_event", "dst_event").agg(
        F.count(F.lit(1)).alias("n")
    )
    row_tot = Window.partitionBy("src_event")
    return counts.select(
        "src_event",
        "dst_event",
        "n",
        F.expr("n * 1000").cast("long").alias("_num"),
        F.sum("n").over(row_tot).alias("_tot"),
    ).select(
        "src_event",
        "dst_event",
        "n",
        F.expr("_num div _tot").cast("long").alias("prob_milli"),
    ).orderBy("src_event", "dst_event")


MARKOV_TRANSITIONS_SQL = """
WITH seq AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS src_event,
         event_type AS dst_event
  FROM events
), pairs AS (
  SELECT src_event, dst_event, count(*) AS n
  FROM seq WHERE src_event IS NOT NULL
  GROUP BY src_event, dst_event
)
SELECT src_event, dst_event, CAST(n AS BIGINT) AS n,
       CAST((n * 1000) // sum(n) OVER (PARTITION BY src_event) AS BIGINT)
         AS prob_milli
FROM pairs
ORDER BY src_event, dst_event
"""


def top_event_paths(
    spark: SparkSession, sf_dir: str, top_n: int = 15
) -> DataFrame:
    """Most common opening 3-step event paths across users — the
    "common journeys" report: each user's first three events (by
    ``(ts, event_id)``), folded to a ``step1 > step2 > step3`` path
    string, counted, top-``top_n``. Users with fewer than 3 events
    contribute their shorter prefix (missing steps render as ``-``).

    Shape: one row_number window on the (user) partition, a
    conditional-aggregation pivot (max-case per step — avoids
    collect_list's undefined ordering), one groupBy(path) count, and a
    deterministic TakeOrderedAndProject (count desc, path asc is a
    total order over distinct paths).
    """
    events = read_events(spark, sf_dir)
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first3 = (
        events.select(
            "user_id",
            "event_type",
            F.row_number().over(by_user).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .groupBy("user_id")
        .agg(
            *[
                F.coalesce(
                    F.max(F.when(F.col("rn") == i, F.col("event_type"))),
                    F.lit("-"),
                ).alias(f"s{i}")
                for i in (1, 2, 3)
            ]
        )
    )
    paths = first3.select(
        F.concat_ws(" > ", "s1", "s2", "s3").alias("path")
    ).groupBy("path").agg(F.count(F.lit(1)).alias("n_users"))
    return paths.orderBy(F.desc("n_users"), "path").limit(top_n)


def top_event_paths_oracle_sql(top_n: int = 15) -> str:
    return f"""
WITH ranked AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
), first3 AS (
  SELECT user_id,
         coalesce(max(CASE WHEN rn = 1 THEN event_type END), '-') AS s1,
         coalesce(max(CASE WHEN rn = 2 THEN event_type END), '-') AS s2,
         coalesce(max(CASE WHEN rn = 3 THEN event_type END), '-') AS s3
  FROM ranked WHERE rn <= 3 GROUP BY user_id
)
SELECT concat_ws(' > ', s1, s2, s3) AS path,
       CAST(count(*) AS BIGINT) AS n_users
FROM first3
GROUP BY 1
ORDER BY n_users DESC, path
LIMIT {top_n}
"""


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group outlier screen via the Median Absolute
    Deviation: for each event type, the median of ``value``, the MAD
    (median of ``|x - median|``), and the count of rows deviating more
    than ``3 x MAD`` — the standard robust alternative to z-scores for
    heavy-tailed data (a mean/stddev screen is dragged by the very
    outliers it hunts).

    Exactness: BOTH percentile inputs stay integer. Values are scaled
    to double-cents (``2 x round(value*100)`` — even integers), so the
    interpolated median is itself integer-valued and the absolute
    deviation is computed integer-exactly; only the FINAL mad can carry
    a .5 fraction, and the outlier comparison is one identical-order
    IEEE multiply in both engines (repo cross-engine float rule; the
    ``quantiles_by_group`` integer-percentile idiom).

    Shape: two grouped exact percentiles (sort within ~5 tiny groups),
    each joined back via a broadcast of the |groups|-sized stats frame,
    then one counting aggregate — the events scan is the only big input.
    """
    events = read_events(spark, sf_dir)
    vals = events.select(
        "event_type",
        F.expr("2 * CAST(round(value * 100) AS BIGINT)").alias("v2"),
    )
    med = vals.groupBy("event_type").agg(
        F.expr("percentile(v2, 0.5)").alias("med2"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = vals.join(F.broadcast(med), "event_type").select(
        "event_type",
        "n",
        "med2",
        F.expr("CAST(abs(v2 - CAST(med2 AS BIGINT)) AS BIGINT)").alias(
            "adev2"
        ),
    )
    mad = dev.groupBy("event_type", "n", "med2").agg(
        F.expr("percentile(adev2, 0.5)").alias("mad2")
    )
    out = (
        dev.select("event_type", "adev2")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "n", "med2", "mad2")
        .agg(
            F.sum(
                F.when(
                    F.col("adev2").cast("double") > F.lit(3.0) * F.col("mad2"),
                    1,
                ).otherwise(0)
            ).cast("long").alias("n_outliers")
        )
    )
    return out.select(
        "event_type",
        "n",
        (F.col("med2") / 200.0).alias("median_value"),
        (F.col("mad2") / 200.0).alias("mad_value"),
        "n_outliers",
    ).orderBy("event_type")


MAD_OUTLIERS_SQL = """
WITH vals AS (
  SELECT event_type, 2 * CAST(round(value * 100) AS BIGINT) AS v2
  FROM events
), med AS (
  SELECT event_type, quantile_cont(v2, 0.5) AS med2, count(*) AS n
  FROM vals GROUP BY event_type
), dev AS (
  SELECT vals.event_type, med.n, med.med2,
         CAST(abs(v2 - CAST(med2 AS BIGINT)) AS BIGINT) AS adev2
  FROM vals JOIN med ON vals.event_type = med.event_type
), mad AS (
  SELECT event_type, n, med2, quantile_cont(adev2, 0.5) AS mad2
  FROM dev GROUP BY event_type, n, med2
)
SELECT dev.event_type, CAST(dev.n AS BIGINT) AS n,
       mad.med2 / 200.0 AS median_value,
       mad.mad2 / 200.0 AS mad_value,
       CAST(sum(CASE WHEN CAST(dev.adev2 AS DOUBLE) > 3.0 * mad.mad2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.event_type = mad.event_type
GROUP BY dev.event_type, dev.n, mad.med2, mad.mad2
ORDER BY dev.event_type
"""


def global_ntile(
    df: DataFrame, n_bins: int, sort_cols: list[str], n_parts: int = 32
) -> DataFrame:
    """Distributed ``ntile(n_bins)`` over a TOTAL order without the
    single-partition window funnel.

    ``F.ntile().over(Window.orderBy(...))`` moves every row to ONE
    partition (WindowExec warns exactly this) — a non-starter at 100 TB.
    Instead: range-repartition on the sort key (parallel sampled-split
    shuffle, the same mechanism as a global sort), take a local
    ``row_number`` per physical partition, and add each partition's
    cumulative row offset — a |partitions|-row frame aggregated and
    broadcast — to form the exact global rank. The bin is then pure
    arithmetic: ``ntile(n) == floor((rank-1)*n/N) + 1`` (first ``N mod
    n`` bins get the extra row, matching SQL ntile exactly). The range
    exchange feeds both the size census and the rank pass, so Spark
    reuses one shuffle.

    ``sort_cols`` must form a total order (include a unique tie
    breaker), otherwise ntile is nondeterministic in any engine.
    Adds column ``bin``; drops nothing.
    """
    part = df.repartitionByRange(n_parts, *sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    sizes = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_n"))
    # |partitions| rows: the unpartitioned windows here are over a
    # bounded tiny frame, not the data.
    offsets = sizes.select(
        "_pid",
        F.coalesce(
            F.sum("_n").over(
                Window.orderBy("_pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("_off"),
        F.sum("_n").over(Window.partitionBy()).alias("_tot"),
    )
    ranked = part.join(F.broadcast(offsets), "_pid").withColumn(
        "_rank",
        F.col("_off")
        + F.row_number().over(
            Window.partitionBy("_pid").orderBy(*sort_cols)
        ),
    )
    return ranked.withColumn(
        "bin",
        F.expr(f"((_rank - 1) * CAST({int(n_bins)} AS BIGINT)) div _tot")
        + 1,
    ).drop("_pid", "_off", "_tot", "_rank")


def quantile_binning(
    spark: SparkSession, sf_dir: str, n_bins: int = 10
) -> DataFrame:
    """Equal-frequency discretization (the feature-engineering binning
    primitive behind GBDT feature histograms and monotonic-risk
    bucketing): lineitem extended price ntile'd into ``n_bins`` bins
    over a TOTAL order (scaled-integer cents, line identity as the tie
    breaker), with per-bin row count and exact integer bounds/mass.

    Shape: one range-partitioned shuffle via :func:`global_ntile` — no
    single-partition window anywhere — then a map-side-combinable
    groupBy of |bins| rows.
    """
    li = read_table(spark, sf_dir, "lineitem")
    binned = global_ntile(
        li.select(
            F.expr(
                "CAST(round(l_extendedprice * 100) AS BIGINT)"
            ).alias("price_c"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        ),
        n_bins,
        ["price_c", "l_orderkey", "l_linenumber"],
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("price_c").alias("lo_cents"),
            F.max("price_c").alias("hi_cents"),
            F.sum("price_c").alias("mass_cents"),
        )
        .orderBy("bin")
    )


def quantile_binning_oracle_sql(n_bins: int = 10) -> str:
    return f"""
WITH binned AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         ntile({n_bins}) OVER (
           ORDER BY CAST(round(l_extendedprice * 100) AS BIGINT),
                    l_orderkey, l_linenumber
         ) AS bin
  FROM lineitem
)
SELECT bin, CAST(count(*) AS BIGINT) AS n_rows,
       min(price_c) AS lo_cents, max(price_c) AS hi_cents,
       CAST(sum(price_c) AS BIGINT) AS mass_cents
FROM binned GROUP BY bin ORDER BY bin
"""


def crosstab_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared contingency analysis of event type vs a
    deterministic user segment (``user_id % 4``) — the categorical
    independence test completing the experimentation family
    (``ab_test`` = two proportions; this = r x c counts). Per cell:
    observed count, expected count, and the cell's chi-squared
    contribution ``(o - e)^2 / e``. The doubles are PER-CELL values
    derived from the three exact integer totals through the identical
    IEEE expression in both engines — no float SUM whose accumulation
    order could diverge (an integer-rational form was rejected: the
    cross-multiplied residual ``(o*n - r*c)^2`` overflows int64 once
    n reaches ~1e5 rows, i.e. immediately at bench scale).

    Shape: one groupBy over (type, segment) — |cells| = ~20 rows —
    then window sums over that tiny frame; the events scan dominates.
    """
    events = read_events(spark, sf_dir)
    cells = (
        events.select(
            "event_type", (F.col("user_id") % 4).alias("segment")
        )
        .groupBy("event_type", "segment")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    w_row = Window.partitionBy("event_type")
    w_col = Window.partitionBy("segment")
    w_all = Window.partitionBy()
    return (
        cells.withColumn("r_tot", F.sum("observed").over(w_row))
        .withColumn("c_tot", F.sum("observed").over(w_col))
        .withColumn("n", F.sum("observed").over(w_all))
        .select(
            "event_type",
            "segment",
            "observed",
            F.expr(
                "CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)"
                " / CAST(n AS DOUBLE)"
            ).alias("expected"),
            F.expr(
                "(CAST(observed AS DOUBLE)"
                " - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)"
                "   / CAST(n AS DOUBLE))"
                " * (CAST(observed AS DOUBLE)"
                " - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)"
                "   / CAST(n AS DOUBLE))"
                " / (CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE)"
                "    / CAST(n AS DOUBLE))"
            ).alias("chi2_contrib"),
        )
        .orderBy("event_type", "segment")
    )


CROSSTAB_CHI2_SQL = """
WITH cells AS (
  SELECT event_type, user_id % 4 AS segment, count(*) AS observed
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT event_type, segment, observed,
         sum(observed) OVER (PARTITION BY event_type) AS r_tot,
         sum(observed) OVER (PARTITION BY segment) AS c_tot,
         sum(observed) OVER () AS n
  FROM cells
)
SELECT event_type, CAST(segment AS BIGINT) AS segment,
       CAST(observed AS BIGINT) AS observed,
       CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE)
         AS expected,
       (CAST(observed AS DOUBLE)
        - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE))
       * (CAST(observed AS DOUBLE)
          - CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE))
       / (CAST(r_tot AS DOUBLE) * CAST(c_tot AS DOUBLE) / CAST(n AS DOUBLE))
         AS chi2_contrib
FROM tot
ORDER BY event_type, segment
"""


def lag_autocorrelation(
    spark: SparkSession, sf_dir: str, max_lag: int = 7
) -> DataFrame:
    """Per-event-type autocorrelation function (ACF) of the daily count
    series at lags 1..``max_lag`` — the seasonality probe behind
    forecasting and anomaly pipelines (weekly cadence shows as a lag-7
    peak).

    Exactness: the six sufficient statistics (n, Sx, Sy, Sxx, Syy, Sxy)
    are exact int64 sums of daily counts; the Pearson r is ONE IEEE
    expression over them (int64->double conversion stays exact while the
    stats are < 2^53 — true for daily counts up to ~30M/day over a
    decade; coarsen the count unit beyond that). ``sqrt`` is correctly
    rounded by IEEE-754, so both engines emit identical doubles.

    Shape: daily rollup is one map-side-combinable groupBy; the lag
    pairing is an equi-join of the (type, day) series against itself
    shifted by an exploded lag column — no global window, no collect;
    partitions by event type at any scale.
    """
    events = read_events(spark, sf_dir)
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    a = daily.select(
        "event_type",
        "day",
        F.col("c").alias("x"),
        F.explode(
            F.array(*[F.lit(i) for i in range(1, max_lag + 1)])
        ).alias("lag"),
    ).withColumn("pair_day", F.date_add("day", F.col("lag")))
    b = daily.select(
        "event_type",
        F.col("day").alias("pair_day"),
        F.col("c").alias("y"),
    )
    stats = (
        a.join(b, ["event_type", "pair_day"])
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    return stats.select(
        "event_type",
        "lag",
        "n",
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
            " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            "        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            "    * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
            "          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
        ).alias("acf"),
    ).orderBy("event_type", "lag")


def lag_autocorrelation_oracle_sql(max_lag: int = 7) -> str:
    return f"""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), lags AS (
  SELECT unnest(range(1, {max_lag + 1})) AS lag
), stats AS (
  SELECT a.event_type, l.lag,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(a.c) AS BIGINT) AS sx,
         CAST(sum(b.c) AS BIGINT) AS sy,
         CAST(sum(a.c * a.c) AS BIGINT) AS sxx,
         CAST(sum(b.c * b.c) AS BIGINT) AS syy,
         CAST(sum(a.c * b.c) AS BIGINT) AS sxy
  FROM daily a CROSS JOIN lags l
  JOIN daily b
    ON b.event_type = a.event_type AND b.day = a.day + CAST(l.lag AS INTEGER)
  GROUP BY a.event_type, l.lag
)
SELECT event_type, CAST(lag AS INT) AS lag, n,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
          * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         AS acf
FROM stats
ORDER BY event_type, lag
"""


def window_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-function breadth in one pass: row_number, lag/lead,
    nth_value, first/last with explicit frames, running sum,
    percent_rank, and cume_dist over per-customer order sequences —
    every frame is spelled out explicitly because default frames for
    value functions differ subtly across engines.

    The ordering (o_orderdate, o_orderkey) is TOTAL per partition, so
    the rank-derived doubles (percent_rank = (rank-1)/(n-1), cume_dist
    = rank/n) are single IEEE divisions of exact integers — identical
    cross-engine. One (custkey)-partitioned shuffle; each window below
    shares it, so Spark plans a single exchange + sort.
    """
    orders = read_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round("o_totalprice").cast("long").alias("cents"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    grow = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    near = w.rowsBetween(-1, 1)
    return base.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.lag("cents", 1).over(w).alias("prev_cents"),
        F.lead("cents", 1).over(w).alias("next_cents"),
        F.nth_value("cents", 2).over(grow).alias("second_cents"),
        F.first("cents").over(near).alias("near_first"),
        F.last("cents").over(near).alias("near_last"),
        F.sum("cents").over(grow).alias("run_cents"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    ).orderBy("o_custkey", "rn")


WINDOW_SUITE_SQL = """
WITH base AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CAST(round(o_totalprice) AS BIGINT) AS cents
  FROM orders
)
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INT) AS rn,
       lag(cents, 1) OVER w AS prev_cents,
       lead(cents, 1) OVER w AS next_cents,
       nth_value(cents, 2) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS second_cents,
       first_value(cents) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
       ) AS near_first,
       last_value(cents) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING
       ) AS near_last,
       CAST(sum(cents) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS run_cents,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM base
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, rn
"""


def period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month and year-over-year revenue deltas — the
    period-comparison staple of every BI layer. Monthly revenue is an
    exact integer cents rollup; the comparisons are self-equi-joins on
    shifted month keys (key-1 for MoM, key-12 for YoY), so the plan is
    two broadcast-size hash joins over a |months|-row frame — never a
    single-partition global window, and gap months (no LAG misfire)
    compare against true calendar neighbors. Growth ratios are single
    IEEE divisions of exact integers, bit-identical cross-engine.
    """
    orders = read_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
            "mkey"
        )
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_c"
        )
    )
    prev = monthly.select(
        (F.col("mkey") + 1).alias("mkey"), F.col("rev_c").alias("prev_c")
    )
    yago = monthly.select(
        (F.col("mkey") + 12).alias("mkey"), F.col("rev_c").alias("yago_c")
    )
    return (
        monthly.join(prev, "mkey", "left")
        .join(yago, "mkey", "left")
        .select(
            F.expr("mkey div 12").alias("yr"),
            (F.col("mkey") % 12 + 1).alias("mo"),
            "rev_c",
            "prev_c",
            "yago_c",
            F.expr(
                "CASE WHEN prev_c IS NOT NULL AND prev_c != 0 THEN"
                " (CAST(rev_c AS DOUBLE) - CAST(prev_c AS DOUBLE))"
                " / CAST(prev_c AS DOUBLE) END"
            ).alias("mom"),
            F.expr(
                "CASE WHEN yago_c IS NOT NULL AND yago_c != 0 THEN"
                " (CAST(rev_c AS DOUBLE) - CAST(yago_c AS DOUBLE))"
                " / CAST(yago_c AS DOUBLE) END"
            ).alias("yoy"),
        )
        .orderBy("yr", "mo")
    )


PERIOD_OVER_PERIOD_SQL = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS mkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1
)
SELECT m.mkey // 12 AS yr, CAST(m.mkey % 12 + 1 AS BIGINT) AS mo,
       m.rev_c, p.rev_c AS prev_c, y.rev_c AS yago_c,
       CASE WHEN p.rev_c IS NOT NULL AND p.rev_c != 0 THEN
         (CAST(m.rev_c AS DOUBLE) - CAST(p.rev_c AS DOUBLE))
         / CAST(p.rev_c AS DOUBLE) END AS mom,
       CASE WHEN y.rev_c IS NOT NULL AND y.rev_c != 0 THEN
         (CAST(m.rev_c AS DOUBLE) - CAST(y.rev_c AS DOUBLE))
         / CAST(y.rev_c AS DOUBLE) END AS yoy
FROM monthly m
LEFT JOIN monthly p ON m.mkey = p.mkey + 1
LEFT JOIN monthly y ON m.mkey = y.mkey + 12
ORDER BY yr, mo
"""


def rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue per order priority via a RANGE frame over
    integer epoch-day keys — the gap-correct form of a moving window.
    A ROWS frame slides over the previous N ROWS and silently spans
    calendar gaps; the RANGE frame ``6 PRECEDING`` over the day NUMBER
    covers exactly the trailing week whether or not every day traded —
    the semantics dashboards actually mean by "rolling 7d".

    Exactness: revenue is integer cents; the frame sum and count are
    exact; the rolling mean is one IEEE division. Partitioned by
    priority, so the shuffle is keyed and the sort is per-partition —
    no single-partition window.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias(
            "epoch_day"
        ),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "rev_c"
        )
    )
    w = (
        Window.partitionBy("priority")
        .orderBy("epoch_day")
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "priority",
        "epoch_day",
        "rev_c",
        F.sum("rev_c").over(w).alias("rev_7d_c"),
        F.count(F.lit(1)).over(w).alias("days_in_window"),
        (
            F.sum("rev_c").over(w).cast("double")
            / F.count(F.lit(1)).over(w).cast("double")
        ).alias("avg_daily_7d"),
    ).orderBy("priority", "epoch_day")


ROLLING_RANGE_FRAME_SQL = """
WITH daily AS (
  SELECT o_orderpriority AS priority,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS INT)
           AS epoch_day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_c
  FROM orders GROUP BY 1, 2
)
SELECT priority, epoch_day, rev_c,
       CAST(sum(rev_c) OVER w AS BIGINT) AS rev_7d_c,
       CAST(count(*) OVER w AS BIGINT) AS days_in_window,
       CAST(sum(rev_c) OVER w AS DOUBLE) / CAST(count(*) OVER w AS DOUBLE)
         AS avg_daily_7d
FROM daily
WINDOW w AS (PARTITION BY priority ORDER BY epoch_day
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY priority, epoch_day
"""


def key_skew_profile(
    spark: SparkSession, sf_dir: str, top_n: int = 20
) -> DataFrame:
    """Join-key skew diagnosis — the profile an engineer reads BEFORE
    choosing salting/AQE strategies: the top-N heaviest user_ids with
    per-key row share, plus each key's cumulative share of total rows.
    Shares are IEEE divisions of exact counts; ranking ties break on
    the key so the top-N set is deterministic.

    Shape: one map-side-combinable groupBy over the fact; the top-N
    selection is ``orderBy().limit()`` — Spark plans TakeOrdered, a
    per-partition heap + N-row driver merge, NEVER a global window over
    the |distinct keys| frame — and the grand total is a 1-row scalar
    aggregate broadcast in. Rank/cumulative windows then run over the
    N-row tail only.
    """
    events = read_events(spark, sf_dir)
    counts = events.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("total"))
    top = counts.orderBy(F.col("n").desc(), F.col("key")).limit(top_n)
    # bounded unpartitioned windows: the frame is top_n rows by
    # construction
    w = Window.orderBy(F.col("n").desc(), F.col("key"))
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = top.crossJoin(F.broadcast(total)).select(
        "key",
        "n",
        "total",
        F.row_number().over(w).alias("rank"),
        F.sum("n").over(wcum).alias("cum_n"),
    )
    return ranked.select(
        "rank",
        "key",
        "n",
        (F.col("n").cast("double") / F.col("total").cast("double")).alias(
            "share"
        ),
        (
            F.col("cum_n").cast("double") / F.col("total").cast("double")
        ).alias("cum_share"),
    ).orderBy("rank")


def key_skew_oracle_sql(top_n: int = 20) -> str:
    return f"""
WITH counts AS (
  SELECT user_id AS key, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), ranked AS (
  SELECT key, n,
         CAST(row_number() OVER (ORDER BY n DESC, key) AS INT) AS rank,
         CAST(sum(n) OVER (ORDER BY n DESC, key
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_n,
         CAST(sum(n) OVER () AS BIGINT) AS total
  FROM counts
)
SELECT rank, key, n,
       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM ranked WHERE rank <= {int(top_n)}
ORDER BY rank
"""


def group_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend line — slope/intercept/r² of daily
    event volume against time, one regression per event_type, in closed
    form from mergeable sufficient statistics (the distributed-OLS
    classic: no iteration, no solver, one aggregation).

    Exactness discipline: x is an integer day offset from a fixed
    anchor, y an integer daily count, so n, Σx, Σy, Σxy, Σx², Σy² are
    exact int64 (map-side-combinable sums over a day-spine-sized
    frame); slope is ONE exactly-rounded IEEE division of two exact
    integers, and intercept/r² are short fixed-shape double expressions
    both engines evaluate identically (no libm anywhere). The cross
    products ``n*sxy - sx*sy`` / ``n*syy - sy*sy`` run in DECIMAL(38,0)
    (HUGEINT in the twin): in BIGINT, ``n*syy`` overflows at ~8e5
    events/day/type over a decade — the r10 overflow audit corrected
    the earlier "~1e9 rows/day" claim. The emitted BIGINT moment
    columns themselves are exact to ~5e7 events/day/type over a decade
    (``syy`` binds first); coarsen the count unit beyond that.

    Scale shape: groupBy(type, day) reduces the fact to |types x days|
    rows in one shuffle; the per-type moment aggregation runs over that
    tiny frame. Nothing is windowed, nothing is collected.
    """
    anchor = "2024-01-01"
    ev = read_events(spark, sf_dir)
    daily = (
        ev.select(
            F.col("event_type").alias("g"),
            F.to_date("ts").alias("day"),
        )
        .groupBy("g", "day")
        .agg(F.count(F.lit(1)).alias("y"))
        .select(
            "g",
            F.datediff("day", F.lit(anchor)).cast("long").alias("x"),
            F.col("y").cast("long").alias("y"),
        )
    )
    m = daily.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # decimal cross products: n*syy overflows BIGINT at ~8e5 events/
    # day/type (r10 overflow audit); the decimal->double casts are
    # identical IEEE conversions in both engines
    nd = m["n"].cast("decimal(38,0)")
    num = nd * m["sxy"] - m["sx"].cast("decimal(38,0)") * m["sy"]
    den = nd * m["sxx"] - m["sx"].cast("decimal(38,0)") * m["sx"]
    syc = nd * m["syy"] - m["sy"].cast("decimal(38,0)") * m["sy"]
    slope = num.cast("double") / F.nullif(den, F.lit(0)).cast("double")
    intercept = (
        m["sy"].cast("double") - slope * m["sx"].cast("double")
    ) / m["n"].cast("double")
    r2 = (num.cast("double") * num.cast("double")) / F.nullif(
        den.cast("double") * syc.cast("double"), F.lit(0.0)
    )
    return m.select(
        F.col("g").alias("event_type"),
        F.col("n").alias("n_days"),
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    ).orderBy("event_type")


GROUP_OLS_TREND_SQL = """
WITH daily AS (
  SELECT event_type AS g,
         CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS x,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, CAST(ts AS DATE)
), m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x*y) AS BIGINT) AS sxy,
         CAST(sum(x*x) AS BIGINT) AS sxx,
         CAST(sum(y*y) AS BIGINT) AS syy
  FROM daily GROUP BY 1
)
SELECT g AS event_type, n AS n_days, sx, sy, sxy, sxx, syy,
       CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
         / CAST(nullif(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx,
                       0) AS DOUBLE) AS slope,
       (CAST(sy AS DOUBLE)
          - (CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy
                  AS DOUBLE)
             / CAST(nullif(CAST(n AS HUGEINT)*sxx
                           - CAST(sx AS HUGEINT)*sx, 0) AS DOUBLE))
            * CAST(sx AS DOUBLE))
         / CAST(n AS DOUBLE) AS intercept,
       (CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy AS DOUBLE)
        * CAST(CAST(n AS HUGEINT)*sxy - CAST(sx AS HUGEINT)*sy
               AS DOUBLE))
         / nullif(CAST(CAST(n AS HUGEINT)*sxx - CAST(sx AS HUGEINT)*sx
                       AS DOUBLE)
                  * CAST(CAST(n AS HUGEINT)*syy - CAST(sy AS HUGEINT)*sy
                         AS DOUBLE), 0.0) AS r2
FROM m
ORDER BY event_type
"""
