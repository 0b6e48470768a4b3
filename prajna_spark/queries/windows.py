"""Window functions (SURVEY.md §2.11) — absent from the reference (only
``mapi``'s per-partition ordinal, DSetGenerics.fs:1041); declared upgrades.
All windows are PARTITIONed (per-customer / per-user) so work distributes;
no global unpartitioned windows in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prajna_spark.functions.rounding import R, pround
from prajna_spark.queries import query, work_dir
from prajna_spark.session import tune
from prajna_spark.sources import load_table


@query(
    "window_running_revenue",
    oracle=f"""
    SELECT o_custkey, o_orderkey,
           {R('''sum(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)''', 2)} AS running_spend,
           {R('''avg(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)''', 2)} AS ma3
    FROM orders
    """,
    tags=("window", "frame", "running-agg"),
)
def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-based running sum + 3-row moving average per customer."""
    tune(spark)
    od = load_table(spark, "orders", sf_dir)
    order = [F.col("o_orderdate"), F.col("o_orderkey")]
    w_run = (
        Window.partitionBy("o_custkey")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ma = Window.partitionBy("o_custkey").orderBy(*order).rowsBetween(-2, 0)
    return od.select(
        "o_custkey",
        "o_orderkey",
        pround(F.sum("o_totalprice").over(w_run), 2).alias("running_spend"),
        pround(F.avg("o_totalprice").over(w_ma), 2).alias("ma3"),
    )


@query(
    "telemetry_hourly_rollup",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS epoch_hour,
           event_type,
           count(*) AS n_events,
           {R('sum(value)', 2)} AS total_value,
           {R('avg(value)', 4)} AS avg_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "telemetry", "window-agg"),
)
def telemetry_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch equivalent of the Prajna service-telemetry loop (paper §5.2:
    ``import → RowsReorg -1 → MapByCollection → Fold`` over live stats,
    DSetGenerics.fs:788,1127,392): tumbling 1-hour rollup per event type.
    The streaming twin (readStream + watermark + F.window) lives in
    prajna_spark.streaming; hour buckets here are raw epoch arithmetic so
    the oracle is timezone-free."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.select(
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("epoch_hour"),
            "event_type",
            "value",
        )
        .groupBy("epoch_hour", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("total_value"),
            pround(F.avg("value"), 4).alias("avg_value"),
        )
    )


@query(
    "rollup_stream_hourly",
    oracle=f"""
    -- batch twin of the incremental delta-store rollup: after AvailableNow
    -- drains the source and the store is compacted, cascade-on-read must
    -- equal the one-shot batch rollup over the same events
    SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS epoch_hour,
           event_type,
           count(*) AS n_events,
           {R('sum(value)', 2)} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("streaming", "continuous-aggregate", "compaction"),
)
def rollup_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate, end-to-end through the PERSISTED
    path (streaming.rollup_stream): readStream -> per-batch delta write ->
    compact_store -> cascade_from_store. The driver-checked guarantee is
    store-state-after-drain == batch rollup — the invariant that makes the
    delta store a valid continuous aggregate. Only aggregate rows ever
    land on disk; the store stays O(buckets) regardless of stream length."""
    from prajna_spark.streaming.rollup_stream import (
        cascade_from_store,
        compact_store,
        start_incremental_rollup,
    )
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("rollup_stream_q", sf_dir)
    ev = events_readstream(spark, sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "value"
    )
    q = start_incremental_rollup(
        ev, "t", ["event_type"], "value", 3600,
        f"{base}/store", f"{base}/ckpt",
    )
    q.awaitTermination()
    compact_store(spark, f"{base}/store", ["event_type"])
    return (
        cascade_from_store(spark, f"{base}/store", ["event_type"], [3600])
        .select(
            # the store keys buckets by their start second; the oracle (and
            # the batch twin) report the hour INDEX — exact division
            F.floor(F.col("epoch_start") / 3600).cast("long").alias("epoch_hour"),
            "event_type",
            "n_events",
            pround(F.col("total_value"), 2).alias("total_value"),
        )
    )


@query(
    "telemetry_gapfilled_hours",
    oracle=f"""
    -- densified hourly rollup: every hour on each type's [min, max] grid,
    -- absent hours filled with zeros (the hypertable gapfill feature)
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS epoch_start,
             count(*) AS n_events,
             {R('sum(value)', 2)} AS total_value
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, min(epoch_start) AS lo, max(epoch_start) AS hi
      FROM r GROUP BY 1
    ), g AS (
      SELECT event_type,
             unnest(range(lo, hi + 3600, 3600)) AS epoch_start
      FROM b
    )
    SELECT g.event_type, g.epoch_start,
           coalesce(r.n_events, 0) AS n_events,
           {R('coalesce(r.total_value, 0e0)', 2)} AS total_value
    FROM g LEFT JOIN r
      ON r.event_type = g.event_type AND r.epoch_start = g.epoch_start
    """,
    tags=("gapfill", "time-series", "rollup"),
)
def telemetry_gapfilled_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly rollup (operators.rollup_cascade.gapfill): every
    hour between each event type's first and last bucket appears, absent
    hours as zeros — honest time axes for downsampled dashboards. The
    grid side is bounded by time-range/width (data-independent), so the
    left join's small side never grows with the corpus."""
    from prajna_spark.operators.rollup_cascade import gapfill

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("long") / 3600) * 3600)
            .cast("long")
            .alias("epoch_start"),
            "value",
        )
        .groupBy("event_type", "epoch_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = gapfill(hourly, ["event_type"], 3600)
    return out.select(
        "event_type",
        "epoch_start",
        "n_events",
        pround(F.col("total_value"), 2).alias("total_value"),
    )


@query(
    "stream_stream_purchase_views",
    oracle="""
    -- batch twin of the watermarked stream-stream self-join: each purchase
    -- paired with the same user's views in the preceding hour
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type
      FROM events
    ), p AS (SELECT event_id AS p_id, user_id, t AS pt FROM e
             WHERE event_type = 'purchase'),
       v AS (SELECT event_id AS v_id, user_id, t AS vt FROM e
             WHERE event_type = 'view')
    SELECT p.p_id, v.v_id
    FROM p JOIN v ON v.user_id = p.user_id
                 AND v.vt >= p.pt - 3600 AND v.vt <= p.pt
    """,
    tags=("streaming", "stream-stream-join", "interval"),
)
def stream_stream_purchase_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream event-time interval self-join, end-to-end through the
    streaming engine (both sides watermarked so join state GCs past the
    hour bound), drained with AvailableNow into a memory sink and checked
    against the batch interval join — Spark's stream-stream join is the
    §2.12 capability furthest beyond the reference's snapshot loop."""
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    ev = events_readstream(spark, sf_dir)
    p = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_id"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("v_id"),
        )
        .withWatermark("v_ts", "2 hours")
    )
    cond = (
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("v_ts") <= F.col("p_ts"))
    )
    name = "q_ss_purchase_views"
    # join state buffers BOTH sides' rows within the watermark bound —
    # state that scales with the event universe, so the drain runs under
    # the footer-estimated provider selection (off-heap RocksDB once the
    # corpus outgrows the heap threshold; statestore.py rationale)
    import os as _os

    from prajna_spark.streaming.statestore import (
        auto_state_provider,
        parquet_row_estimate,
    )

    est = parquet_row_estimate(_os.path.join(sf_dir, "events.parquet"))
    with auto_state_provider(spark, est):
        q = (
            p.join(v, cond, "inner")
            .select("p_id", "v_id")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "telemetry_distinct_users_hll",
    # Hash-verifiable spelling (VERDICT r9 task #2): DuckDB cannot replay
    # Apache DataSketches HLL bit-for-bit, so the catalog row emits the
    # DECISION-RELEVANT output in oracle-expressible form — the exact
    # distinct count per bucket (DuckDB-replayable) plus a boolean
    # asserting the HLL estimate landed within its advertised tolerance
    # (3x the lg_k=12 relative standard error ~1.6% -> 5%; HLL is
    # deterministic for fixed data, so the bound either holds for a
    # dataset or it doesn't — no flakiness). The raw-estimate surface
    # stays on operators.sketch_rollup + tests/test_rollup_cascade.py
    # (union-of-sketches == sketch-of-union invariant).
    oracle="""
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type, user_id
      FROM events
    ), lv AS (
      SELECT CAST(3600 AS BIGINT) AS resolution,
             (t // 3600) * 3600 AS epoch_start, event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM e GROUP BY 2, 3
      UNION ALL
      SELECT CAST(86400 AS BIGINT) AS resolution,
             (t // 86400) * 86400 AS epoch_start, event_type,
             CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
      FROM e GROUP BY 2, 3
    )
    SELECT resolution, epoch_start, event_type, exact_users,
           TRUE AS hll_within_tolerance
    FROM lv
    """,
    tags=("streaming", "sketch", "hll", "continuous-aggregate"),
)
def telemetry_distinct_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type at hour AND day resolution from ONE
    finest-level sketch pass (operators.sketch_rollup): distinct counts
    are not additive, so the cascade stores mergeable HLL sketches and
    unions them upward — the COUNT DISTINCT continuous-aggregate pattern
    the plain rollup cannot express. All-JVM, map-side-combined.

    The catalog output audits the cascade against an exact
    count-distinct twin computed in the same job: per bucket it returns
    the exact count plus ``hll_within_tolerance`` (|est - exact| / exact
    <= 5%, 3x the lg_k=12 RSE). At scale the exact twin is the expensive
    side — production keeps only the sketch cascade; this join is the
    correctness harness that makes the row oracle-verifiable."""
    from prajna_spark.operators.sketch_rollup import hll_cascade, hll_partials

    tune(spark)
    ev = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "user_id"
    )
    hourly = hll_partials(ev, "t", ["event_type"], "user_id", 3600)
    est = hll_cascade(hourly, ["event_type"], [3600, 86400])

    def _exact(width: int) -> DataFrame:
        return ev.groupBy(
            (F.floor(F.col("t") / width) * width).cast("long").alias("epoch_start"),
            "event_type",
        ).agg(
            F.count_distinct("user_id").cast("long").alias("exact_users")
        ).select(
            F.lit(width).cast("long").alias("resolution"),
            "epoch_start",
            "event_type",
            "exact_users",
        )
    exact = _exact(3600).unionByName(_exact(86400))
    return est.join(exact, ["resolution", "epoch_start", "event_type"]).select(
        "resolution",
        "epoch_start",
        "event_type",
        "exact_users",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("hll_within_tolerance"),
    )


@query(
    "window_ntile_dense_rank",
    oracle="""
    SELECT c_custkey,
           ntile(4) OVER (ORDER BY c_acctbal DESC, c_custkey)      AS bal_quartile,
           dense_rank() OVER (ORDER BY c_nationkey)                AS nation_rank
    FROM customer
    WHERE c_mktsegment = 'BUILDING'
    """,
    tags=("window", "ntile", "dense_rank"),
)
def window_ntile_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile/dense_rank WITHOUT the unpartitioned-window funnel:
    operators.rank computes both from the distributed zip-index pattern
    (range repartition + per-partition ordinals; only #partitions-sized
    and distinct-key-sized state is ever centralized), so the same plan
    survives an unbounded input where ``OVER (ORDER BY ...)`` would move
    every row through one task."""
    from prajna_spark.operators.rank import global_dense_rank, global_ntile

    tune(spark)
    cu = load_table(spark, "customer", sf_dir)
    filtered = cu.where(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    nt = global_ntile(
        filtered,
        [F.col("c_acctbal").desc(), F.col("c_custkey")],
        4,
        tile_col="bal_quartile",
    )
    dr = global_dense_rank(nt, ["c_nationkey"], rank_col="nation_rank")
    return dr.select("c_custkey", "bal_quartile", "nation_rank")


@query(
    "telemetry_sliding_rollup",
    oracle=f"""
    -- sliding 2h window, 1h hop: each event lands in exactly two windows
    -- (start = its hour, and the hour before)
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type, value
      FROM events
    ), w AS (
      SELECT (t // 3600) * 3600 AS epoch_start, event_type, value FROM e
      UNION ALL
      SELECT ((t // 3600) - 1) * 3600 AS epoch_start, event_type, value FROM e
    )
    SELECT epoch_start, event_type,
           count(*) AS n_events,
           {R('sum(value)', 2)} AS total_value
    FROM w GROUP BY 1, 2
    """,
    tags=("streaming", "window-agg", "sliding"),
)
def telemetry_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window rollup (2-hour window, 1-hour hop) via F.window —
    the overlapping-window upgrade over the reference's snapshot fold
    (SURVEY §2.12). Spark expands each event into its two covering
    windows map-side; partial aggregation collapses before the shuffle, so
    the 2x row expansion never crosses the network unaggregated."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("win.start").cast("long").alias("epoch_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "asof_join_purchase_view",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type, value
      FROM events
    ), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
       v AS (SELECT user_id, t AS vt, value AS vvalue FROM e
             WHERE event_type = 'view')
    SELECT p.event_id,
           p.t     AS purchase_ts,
           p.value AS purchase_value,
           v.vvalue AS view_value_asof,
           v.vt     AS view_ts_asof
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t >= v.vt
    """,
    tags=("asof-join", "custom-operator", "upgrade"),
)
def asof_join_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join (operators.asof): each purchase event gets the
    user's most recent at-or-before view event. Checked against DuckDB's
    native ASOF JOIN. Plan: one hash shuffle on user_id + a running
    last-non-null window — no inequality-join expansion (SURVEY §2.8
    'no as-of joins' upgrade)."""
    from prajna_spark.operators.asof import asof_join

    tune(spark)
    e = load_table(spark, "events", sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").cast("long").alias("t"),
        "event_type",
        "value",
    )
    p = e.where(F.col("event_type") == "purchase")
    v = e.where(F.col("event_type") == "view").select("user_id", "t", "value")
    out = asof_join(p, v, on=["user_id"], ts="t", right_cols=["value", "t"])
    return out.select(
        "event_id",
        F.col("t").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
        F.col("value_asof").alias("view_value_asof"),
        F.col("t_asof").alias("view_ts_asof"),
    )


@query(
    "asof_join_bucketed_clicks",
    oracle="""
    -- deliberately skewed key (user_id % 50: every key holds ~2% of the
    -- table) checked against DuckDB's native ASOF JOIN; the purchase side
    -- is deduped to one row per (shard, second) by max event_id so ties
    -- are deterministic on both engines
    WITH e AS (
      SELECT event_id, user_id % 50 AS shard,
             CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type, value
      FROM events
    ), c AS (
      SELECT event_id, shard, t FROM e WHERE event_type = 'click'
    ), p AS (
      SELECT shard, t AS pt, max_by(value, event_id) AS pvalue
      FROM e WHERE event_type = 'purchase' GROUP BY shard, t
    )
    SELECT c.event_id, c.shard, c.t AS click_ts,
           p.pvalue AS purchase_value_asof,
           p.pt     AS purchase_ts_asof
    FROM c ASOF LEFT JOIN p ON c.shard = p.shard AND c.t >= p.pt
    """,
    tags=("asof-join", "skew", "custom-operator", "upgrade"),
)
def asof_join_bucketed_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe as-of join (operators.asof.asof_join_bucketed): clicks
    get the latest at-or-before purchase under a DELIBERATELY skewed key
    (user_id % 50 — every key is hot). The one-shuffle as-of would put each
    key's full history on one task; the bucketed variant windows within
    (key, day) then carries bucket boundaries in a second O(#buckets) pass,
    so the largest task holds one key-day, not one key."""
    from prajna_spark.operators.asof import asof_join_bucketed

    tune(spark)
    e = load_table(spark, "events", sf_dir).select(
        "event_id",
        (F.col("user_id") % 50).alias("shard"),
        F.col("ts").cast("long").alias("t"),
        "event_type",
        "value",
    )
    c = e.where(F.col("event_type") == "click").select("event_id", "shard", "t")
    p = (
        e.where(F.col("event_type") == "purchase")
        .groupBy("shard", "t")
        .agg(F.max_by("value", "event_id").alias("pvalue"))
    )
    out = asof_join_bucketed(
        c, p, on=["shard"], ts="t", right_cols=["pvalue", "t"], bucket_width=86400
    )
    return out.select(
        "event_id",
        "shard",
        F.col("t").alias("click_ts"),
        F.col("pvalue_asof").alias("purchase_value_asof"),
        F.col("t_asof").alias("purchase_ts_asof"),
    )


@query(
    "session_window_users",
    oracle=f"""
    -- gaps-and-islands twin of F.session_window (30 min gap):
    -- a session BREAKS when the inter-event gap is >= the timeout (Spark
    -- windows are [start, last+gap) — an event exactly at the end opens a
    -- new session); session_end = last event + gap
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, value FROM events
    ), m AS (
      SELECT user_id, t, value,
             CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM e
    ), s AS (
      SELECT user_id, t, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY t
                                 ROWS UNBOUNDED PRECEDING) AS sess_no
      FROM m
    )
    SELECT user_id,
           min(t)        AS session_start,
           max(t) + 1800 AS session_end,
           count(*)      AS n_events,
           {R('sum(value)', 2)} AS total_value
    FROM s GROUP BY user_id, sess_no
    """,
    tags=("session-window", "streaming", "upgrade"),
)
def session_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions (30-minute inactivity gap) — the dynamic-gap
    upgrade the reference's fixed-snapshot telemetry cannot express
    (SURVEY §2.12). Gaps and islands (streaming.sessions.gap_sessions,
    the batch twin of the stateful streaming sessionizer): a gap of at
    least 30 minutes opens a new session. ``F.session_window`` is not
    used: it merges two events exactly 30 minutes apart. ts truncated to
    whole seconds on BOTH engines so gap boundaries agree."""
    from prajna_spark.streaming.sessions import gap_sessions

    tune(spark)
    ev = load_table(spark, "events", sf_dir).select(
        "user_id", F.col("ts").cast("long").alias("t"), "value"
    )
    return gap_sessions(ev, 1800).withColumn(
        "total_value", pround(F.col("total_value"), 2)
    )


@query(
    "range_join_open_orders",
    oracle="""
    WITH iv AS (
      SELECT datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS s,
             datediff('day', DATE '1970-01-01', o_orderdate::DATE)
               + o_orderkey % 30 + 1 AS e
      FROM orders
    ), p AS (
      SELECT DISTINCT datediff('day', DATE '1970-01-01', l_shipdate::DATE) AS d
      FROM lineitem
    )
    SELECT d AS ship_day, count(*) AS n_open_orders
    FROM p JOIN iv ON d >= s AND d <= e
    GROUP BY d
    """,
    tags=("range-join", "custom-operator", "upgrade"),
)
def range_join_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval join (operators.rangejoin): for every distinct
    ship day, count the orders whose fulfillment window
    [o_orderdate, o_orderdate + o_orderkey%30+1 days] contains it — a pure
    inequality join with no equi-key (SURVEY §2.8 'no range/interval
    joins' upgrade). The binning rewrite turns it into an ordinary
    shuffled equi-join on bin id; the exact BETWEEN predicate runs on the
    per-bin candidates only, so neither BroadcastNestedLoopJoin nor a
    cartesian product ever appears in the plan."""
    from prajna_spark.operators.rangejoin import interval_join

    tune(spark)
    od = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    iv = od.select(
        F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("s"),
        (
            F.unix_date(F.col("o_orderdate").cast("date"))
            + F.col("o_orderkey") % 30
            + 1
        ).cast("long").alias("e"),
    )
    points = (
        li.select(F.unix_date(F.col("l_shipdate").cast("date")).cast("long").alias("d"))
        .distinct()
    )
    # bin width ~ max interval length (31 days) => each interval lands in
    # at most 3 bins; replication stays ~2x.
    # the points side is a distinct-DAY frame — a few KB forever — while
    # probe compute grows with the orders side: spread it or the single
    # AQE-coalesced probe task serializes the whole pair scan (measured
    # r12 at 10x: 10.3 s single-task probe; 2.7 s spread). The count is
    # INPUT-derived (~35k intervals of probe work per task, cap 2048 —
    # the scale_shuffle_partitions sizing), NOT the core count: a fixed
    # 32-way spread measured +0.7 s at sf0.1 where the whole probe is
    # ~0.6 s of work (task scheduling + per-task broadcast access
    # dominate), while 4 tasks there is break-even and the count grows
    # linearly with data (guide §2.5).
    import os as _os

    from prajna_spark.streaming.statestore import parquet_row_estimate

    est = parquet_row_estimate(_os.path.join(sf_dir, "orders.parquet"))
    n_spread = min(2048, est // 35_000)
    joined = interval_join(
        points, "d", iv, "s", "e", bin_width=16,
        spread_points=n_spread if n_spread > 1 else None,
    )
    return joined.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_open_orders")
    ).select(F.col("d").alias("ship_day"), "n_open_orders")


@query(
    "cascade_rollup_events",
    oracle=f"""
    WITH e AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, event_type, value
      FROM events
    )
    SELECT CAST(60 AS BIGINT) AS resolution, (t // 60) * 60 AS epoch_start,
           event_type, count(*) AS n_events, {R('sum(value)', 2)} AS total_value
    FROM e GROUP BY 2, 3
    UNION ALL
    SELECT CAST(3600 AS BIGINT), (t // 3600) * 3600,
           event_type, count(*), {R('sum(value)', 2)}
    FROM e GROUP BY 2, 3
    UNION ALL
    SELECT CAST(86400 AS BIGINT), (t // 86400) * 86400,
           event_type, count(*), {R('sum(value)', 2)}
    FROM e GROUP BY 2, 3
    """,
    tags=("hypertable", "rollup-cascade", "custom-operator", "upgrade"),
)
def cascade_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (minute -> hour -> day)
    via operators.rollup_cascade: raw events are scanned ONCE at minute
    grain; hour and day levels re-aggregate the finer partials (counts and
    sums compose exactly), versus the oracle's three independent full
    scans. Same rows, one raw pass."""
    from prajna_spark.operators.rollup_cascade import cascade_rollup

    tune(spark)
    ev = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "value"
    )
    out = cascade_rollup(
        ev, "t", ["event_type"], "value", resolutions=[60, 3600, 86400]
    )
    return out.withColumn("total_value", pround(F.col("total_value"), 2))


@query(
    "window_frames_suite",
    oracle=f"""
    -- the remaining §2.11 surface in one pass: distribution functions,
    -- value-offset functions, and a numeric RANGE frame — all per-nation
    SELECT c_custkey,
           c_nationkey,
           {R('''percent_rank() OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey)''', 6)} AS pct_rank,
           {R('''cume_dist() OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey)''', 6)} AS cdist,
           lead(c_custkey) OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey) AS next_custkey,
           nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal, c_custkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS second_custkey,
           {R('''sum(c_acctbal) OVER (PARTITION BY c_nationkey
                 ORDER BY c_acctbal
                 RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)''', 2)}
                 AS near_balance_sum
    FROM customer
    """,
    tags=("window", "percent-rank", "cume-dist", "nth-value", "range-frame"),
)
def window_frames_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes §2.11: percent_rank/cume_dist (distribution), lead and
    nth_value (value offsets, explicit full frame), and a numeric RANGE
    frame (value-based moving sum). Every window PARTITIONs BY nation, so
    the single shuffle key distributes; all five functions share one sort
    order and Spark evaluates them in one WindowExec pass."""
    tune(spark)
    cust = load_table(spark, "customer", sf_dir)
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    w_range = (
        Window.partitionBy("c_nationkey")
        .orderBy("c_acctbal")
        .rangeBetween(-1000, Window.currentRow)
    )
    return cust.select(
        "c_custkey",
        "c_nationkey",
        pround(F.percent_rank().over(w), 6).alias("pct_rank"),
        pround(F.cume_dist().over(w), 6).alias("cdist"),
        F.lead("c_custkey").over(w).alias("next_custkey"),
        F.nth_value("c_custkey", 2).over(w_full).alias("second_custkey"),
        pround(F.sum("c_acctbal").over(w_range), 2).alias("near_balance_sum"),
    )


@query(
    "window_rank_orders",
    oracle=f"""
    SELECT o_custkey, o_orderkey, {R('o_totalprice', 2)} AS total_price, rk
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rk
      FROM orders
    ) WHERE rk <= 3
    """,
    tags=("window", "rank", "topk-per-key"),
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the scalable per-key
    top-k (one shuffle on o_custkey; rank filter evaluated streaming,
    nothing materializes per group). Ties broken by o_orderkey."""
    tune(spark)
    od = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            pround(F.col("o_totalprice"), 2).alias("total_price"),
            "rk",
        )
    )



@query(
    "window_lag_events",
    oracle=f"""
    SELECT user_id, event_id,
           {R('value', 4)} AS value,
           {R('value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)', 4)} AS delta,
           CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lag(ts) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
           ))) AS BIGINT) AS gap_seconds
    FROM events
    """,
    tags=("window", "lag", "sessionize"),
)
def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event deltas via lag — the sessionization building block.
    Event order disambiguated by (ts, event_id); timestamps compared as
    raw epoch seconds (timezone-free)."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        pround(F.col("value"), 4).alias("value"),
        pround(F.col("value") - F.lag("value").over(w), 4).alias("delta"),
        (
            F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
        ).alias("gap_seconds"),
    )


@query(
    "ewma_hourly_value",
    oracle=f"""
    -- bounded-window EWMA (decay 0.7, 12 trailing hours) over the hourly
    -- value rollup, normalized over PRESENT hours only; the oracle
    -- replays the same explode-contributions algebra (libm pow is
    -- cross-engine bit-identical, sums carry the standard 4-dec rounding)
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS epoch_hour,
             sum(value) AS x
      FROM events GROUP BY 1, 2
    ),
    contrib AS (
      SELECT event_type, epoch_hour + t.i AS tgt,
             power(7e-1, t.i) * x AS wx, power(7e-1, t.i) AS w
      FROM hourly, range(0, 12) t(i)
    ),
    agg AS (
      SELECT event_type, tgt, sum(wx) AS swx, sum(w) AS sw
      FROM contrib GROUP BY 1, 2
    )
    SELECT a.event_type, a.tgt AS epoch_hour, {R('a.swx / a.sw', 4)} AS ewma
    FROM agg a
    JOIN hourly h ON h.event_type = a.event_type AND h.epoch_hour = a.tgt
    """,
    tags=("time-series", "ewma", "smoothing", "rollup"),
)
def ewma_hourly_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed smoothing of the hourly telemetry rollup
    (operators/smoothing.py ewma_bounded): trailing-12-hour geometric
    weights, gap-aware normalization. A sequential EWMA recurrence can't
    distribute; the explode-contributions spelling turns it into one
    map-combinable hash aggregation over the (tiny) rollup series — the
    raw events are touched once, by the rollup itself."""
    from prajna_spark.operators.smoothing import ewma_bounded

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("epoch_hour"),
            "value",
        )
        .groupBy("event_type", "epoch_hour")
        .agg(F.sum("value").alias("x"))
    )
    out = ewma_bounded(
        hourly, ["event_type"], "epoch_hour", "x", decay=0.7, window=12
    )
    return out.select(
        "event_type", "epoch_hour", pround(F.col("ewma"), 4).alias("ewma")
    )


@query(
    "rolling_distinct_users_24h",
    oracle="""
    -- exact trailing-24h distinct users per hour per event type,
    -- replayed with the same linear explode-dedup algebra (integer
    -- counts: no rounding anywhere)
    WITH pairs AS (
      SELECT DISTINCT event_type, user_id,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hr
      FROM events
    ),
    tgt AS (
      SELECT DISTINCT event_type, user_id, hr + t.i AS epoch_hour
      FROM pairs, range(0, 24) t(i)
    ),
    counts AS (
      SELECT event_type, epoch_hour, CAST(count(*) AS BIGINT) AS n_distinct
      FROM tgt GROUP BY 1, 2
    )
    SELECT c.event_type, c.epoch_hour, c.n_distinct
    FROM counts c
    SEMI JOIN (SELECT DISTINCT event_type, hr FROM pairs) p
      ON p.event_type = c.event_type AND p.hr = c.epoch_hour
    """,
    tags=("time-series", "rolling-window", "distinct", "rollup"),
)
def rolling_distinct_users_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 24-hour active-user counts (operators/smoothing.py
    rolling_distinct) — the DAU-style metric, computed EXACTLY in linear
    work: dedup (type, user, hour), explode each pair into its 24 target
    hours, dedup again, one hash count. No per-hour rescans, no sketch,
    shuffles carry narrow triples. The approximate twin at untenable
    window*cardinality products is the HLL rollup
    (telemetry_distinct_users_hll)."""
    from prajna_spark.operators.smoothing import rolling_distinct

    tune(spark)
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        "user_id",
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("epoch_hour"),
    )
    return rolling_distinct(
        ev, ["event_type"], "epoch_hour", "user_id", window=24
    )


@query(
    "ohlc_hourly_bars",
    oracle=f"""
    -- OHLC bars: open/close via arg_min/arg_max over a composite BIGINT
    -- total order (floor-second * 1e8 + event_id; event_id is globally
    -- unique, so the order is total on any engine without struct
    -- comparators, which DuckDB 1.0 arg_min lacks)
    SELECT event_type,
           CAST(floor(epoch(ts) / 3600) AS BIGINT) AS epoch_hour,
           CAST(count(*) AS BIGINT) AS n_events,
           {R('arg_min(value, CAST(floor(epoch(ts)) AS BIGINT) * 100000000 + event_id)', 4)}
             AS open,
           {R('max(value)', 4)} AS high,
           {R('min(value)', 4)} AS low,
           {R('arg_max(value, CAST(floor(epoch(ts)) AS BIGINT) * 100000000 + event_id)', 4)}
             AS close
    FROM events
    GROUP BY 1, 2
    """,
    tags=("time-series", "ohlc", "bars", "rollup"),
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type — the market-data downsampling
    shape: open/close are min_by/max_by over the (ts, event_id) total
    order, high/low plain extremes, all in ONE map-combinable hash
    aggregation (min_by/max_by partials merge associatively, so no
    window scan and no second shuffle)."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    ts_long = F.col("ts").cast("long")
    return (
        ev.select(
            "event_type",
            F.floor(ts_long / 3600).cast("long").alias("epoch_hour"),
            "value",
            (ts_long * 100000000 + F.col("event_id")).alias("ord"),
        )
        .groupBy("event_type", "epoch_hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.min_by("value", F.col("ord")), 4).alias("open"),
            pround(F.max("value"), 4).alias("high"),
            pround(F.min("value"), 4).alias("low"),
            pround(F.max_by("value", F.col("ord")), 4).alias("close"),
        )
    )


# Shared by the batch query AND the streaming-store twin below: the KMV
# pipeline replayed from raw data. The sketch's merge invariant is EXACT
# (k minima of a union == merge of per-part k minima), so hourly->daily
# merge — batch in one plan or through the streamed delta store — must
# reproduce this hash-for-hash. 63e0 * 1152921504606846976 == (k-1)*2^60
# exactly in IEEE double.
_KMV_DAILY_ORACLE = """
    WITH h AS (
      SELECT DISTINCT event_type,
             CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 86400) * 86400
                  AS BIGINT) AS epoch_start,
             CAST('0x' || substring(
                    md5('kmv1|' || CAST(user_id AS VARCHAR)), 1, 15)
                  AS BIGINT) AS h
      FROM events
    ), r AS (
      SELECT event_type, epoch_start, h,
             row_number() OVER (PARTITION BY event_type, epoch_start
                                ORDER BY h) AS rn
      FROM h
    )
    SELECT event_type, epoch_start,
           CAST(count(*) AS BIGINT) AS n_kept,
           round(CASE WHEN count(*) < 64 THEN CAST(count(*) AS DOUBLE)
                      ELSE (63e0 * 1152921504606846976)
                           / max(CASE WHEN rn = 64 THEN h END)
                 END, 6) AS approx_distinct
    FROM r WHERE rn <= 64
    GROUP BY event_type, epoch_start
    """


@query(
    "kmv_distinct_users_daily",
    oracle=_KMV_DAILY_ORACLE,
    tags=("sketch", "kmv", "distinct", "continuous-aggregate"),
)
def kmv_distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users per event type through the DETERMINISTIC
    mergeable sketch path (operators.sketch_rollup.kmv_*): hourly KMV
    partials (k=64 smallest md5-derived 60-bit hashes) merged upward to
    daily, then the Bar-Yossef estimate — the EXACTLY-replayable twin of
    the HLL cascade (telemetry_distinct_users_hll, whose catalog row is
    hash-verified via its bounded-error audit spelling). Every
    shuffle carries (bucket, event_type, 8-byte hash) rows bounded by
    WindowGroupLimit's pre-shuffle partial limit; keys never move."""
    from prajna_spark.operators.sketch_rollup import (
        kmv_estimate,
        kmv_merge,
        kmv_partials,
    )

    tune(spark)
    ev = load_table(spark, "events", sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "user_id"
    )
    hourly = kmv_partials(ev, "t", ["event_type"], "user_id", 3600, k=64, seed="kmv1")
    daily = kmv_merge(hourly, ["event_type"], 86400, k=64)
    return kmv_estimate(daily, k=64).select(
        "event_type", "epoch_start", "n_kept", "approx_distinct"
    )


@query(
    "asof_join_forward_views",
    oracle="""
    -- forward as-of: DuckDB's native ASOF with the inequality flipped
    -- picks the EARLIEST right at-or-after each left row
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type, value
      FROM events
    ), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
       v AS (SELECT user_id, t AS vt, value AS vvalue FROM e
             WHERE event_type = 'view')
    SELECT p.event_id,
           p.t      AS purchase_ts,
           v.vvalue AS next_view_value,
           v.vt     AS next_view_ts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t <= v.vt
    """,
    tags=("asof-join", "forward", "custom-operator", "upgrade"),
)
def asof_join_forward_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD point-in-time join (operators.asof, direction='forward'):
    each purchase gets the user's earliest at-or-after view — the
    what-happened-next attribution shape. Same one-shuffle union+window
    plan as backward, with the carry running over descending time."""
    from prajna_spark.operators.asof import asof_join

    tune(spark)
    e = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", F.col("ts").cast("long").alias("t"),
        "event_type", "value",
    )
    p = e.where(F.col("event_type") == "purchase")
    v = e.where(F.col("event_type") == "view").select("user_id", "t", "value")
    out = asof_join(
        p, v, on=["user_id"], ts="t", right_cols=["value"],
        direction="forward", include_right_ts=True,
    )
    return out.select(
        "event_id",
        F.col("t").alias("purchase_ts"),
        F.col("value_asof").alias("next_view_value"),
        F.col("t_asof").alias("next_view_ts"),
    )


@query(
    "asof_join_nearest_views",
    oracle="""
    -- nearest-within-tolerance: both native ASOF directions, masked at
    -- the 1800 s bound, nearer one wins, exact tie -> backward
    WITH e AS (
      SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_type, value
      FROM events
    ), p AS (SELECT * FROM e WHERE event_type = 'purchase'),
       v AS (SELECT user_id, t AS vt, value AS vvalue FROM e
             WHERE event_type = 'view'),
    b0 AS (
      SELECT p.event_id, v.vt AS bt, v.vvalue AS bv
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t >= v.vt
    ), f0 AS (
      SELECT p.event_id, v.vt AS ft, v.vvalue AS fv
      FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.t <= v.vt
    ), m AS (
      SELECT p.event_id, p.t,
             CASE WHEN p.t - b0.bt <= 1800 THEN b0.bt END AS bt,
             CASE WHEN p.t - b0.bt <= 1800 THEN b0.bv END AS bv,
             CASE WHEN f0.ft - p.t <= 1800 THEN f0.ft END AS ft,
             CASE WHEN f0.ft - p.t <= 1800 THEN f0.fv END AS fv
      FROM p JOIN b0 USING (event_id) JOIN f0 USING (event_id)
    )
    SELECT event_id, t AS purchase_ts,
           CASE WHEN bt IS NOT NULL AND (ft IS NULL OR t - bt <= ft - t)
                THEN bt ELSE ft END AS near_view_ts,
           CASE WHEN bt IS NOT NULL AND (ft IS NULL OR t - bt <= ft - t)
                THEN bv ELSE fv END AS near_view_value
    FROM m
    """,
    tags=("asof-join", "nearest", "tolerance", "custom-operator", "upgrade"),
)
def asof_join_nearest_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-within-tolerance point-in-time join (operators.asof,
    direction='nearest', tolerance_sec=1800): each purchase gets the
    closest view within half an hour either way, exact ties resolving
    backward (pandas merge_asof's rule). Still one hash exchange — the
    two opposite-order carries share the shuffle, Spark only re-sorts
    within partitions."""
    from prajna_spark.operators.asof import asof_join

    tune(spark)
    e = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", F.col("ts").cast("long").alias("t"),
        "event_type", "value",
    )
    p = e.where(F.col("event_type") == "purchase")
    v = e.where(F.col("event_type") == "view").select("user_id", "t", "value")
    out = asof_join(
        p, v, on=["user_id"], ts="t", right_cols=["value"],
        direction="nearest", tolerance_sec=1800, include_right_ts=True,
    )
    return out.select(
        "event_id",
        F.col("t").alias("purchase_ts"),
        F.col("t_asof").alias("near_view_ts"),
        F.col("value_asof").alias("near_view_value"),
    )


@query(
    "trend_hourly_events",
    oracle="""
    -- OLS trend replay on INTEGER sufficient statistics: every sum is
    -- exact (DuckDB HUGEINT == Spark long in range), the closed-form
    -- divisions are single IEEE ops -> bit-identical slopes
    WITH h AS (
      SELECT event_type,
             CAST(floor(CAST(floor(epoch(ts)) AS BIGINT) / 3600) AS BIGINT)
               AS eh,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), m AS (SELECT min(eh) AS mh FROM h),
    p AS (SELECT event_type, eh - m.mh AS x, y FROM h, m),
    s AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM p GROUP BY 1
    )
    SELECT event_type, n,
           round(CASE WHEN n * sxx - sx * sx <> 0
                 THEN CAST(n * sxy - sx * sy AS DOUBLE)
                      / CAST(n * sxx - sx * sx AS DOUBLE) END, 6) AS slope,
           round((CAST(sy AS DOUBLE)
                  - (CASE WHEN n * sxx - sx * sx <> 0
                     THEN CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE) END)
                    * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE), 6) AS intercept,
           round(CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0
                 THEN (CAST(n * sxy - sx * sy AS DOUBLE)
                       * CAST(n * sxy - sx * sy AS DOUBLE))
                      / (CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS r2
    FROM s
    """,
    tags=("regression", "trend", "timeseries", "analytics"),
)
def trend_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity trend per event type (operators.smoothing.ols_trend):
    OLS slope/intercept/r2 of hourly event counts against the hour
    index. Hourly counts are one map-combined aggregation; the
    regression itself is a second tiny aggregation over #hours rows per
    type — sufficient statistics, never a point-wise fit. Integer x/y
    keep every sum exact, so even the driver's hash gate sees identical
    slopes."""
    from prajna_spark.operators.smoothing import ols_trend

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("eh"),
        )
        .groupBy("event_type", "eh")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    minh = hourly.agg(F.min("eh").alias("mh"))
    pts = hourly.crossJoin(F.broadcast(minh)).select(
        "event_type", (F.col("eh") - F.col("mh")).alias("x"), "y"
    )
    return ols_trend(pts, ["event_type"], "x", "y")


@query(
    "kmv_stream_distinct_daily",
    oracle=_KMV_DAILY_ORACLE,
    tags=("sketch", "kmv", "distinct", "streaming", "continuous-aggregate"),
)
def kmv_stream_distinct_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily distinct users through the STREAMED sketch store
    (streaming.kmv_stream): readStream over events -> per-micro-batch
    hourly KMV partials written to a delta store -> read-side merge +
    daily cascade + estimate. Shares the batch twin's oracle VERBATIM —
    the k-min merge is the same equality that makes the streamed path
    reproduce the one-shot batch numbers hash-for-hash."""
    from prajna_spark.streaming.kmv_stream import (
        distinct_from_store,
        start_incremental_kmv,
    )
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("kmv_stream_q", sf_dir)
    ev = events_readstream(spark, sf_dir).select(
        F.col("ts").cast("long").alias("t"), "event_type", "user_id"
    )
    import os as _os

    from prajna_spark.streaming.statestore import (
        parquet_row_estimate,
        scale_state_partitions,
    )

    est = parquet_row_estimate(_os.path.join(sf_dir, "events.parquet"))
    # input-derived state partitioning (r11): see dedup_stream_watermark
    with scale_state_partitions(spark, est):
        q = start_incremental_kmv(
            ev, "t", ["event_type"], "user_id", 3600,
            f"{base}/store", f"{base}/ckpt", k=64, seed="kmv1",
        )
        q.awaitTermination()
    out = distinct_from_store(spark, f"{base}/store", ["event_type"], [3600, 86400])
    return out.where(F.col("resolution") == 86400).select(
        "event_type", "epoch_start", "n_kept", "approx_distinct"
    )


@query(
    "telemetry_interpolated_hours",
    oracle=f"""
    -- linear interpolation replay via two native ASOF joins (prev/next
    -- known bucket per series) — an independent formulation of the
    -- engine's carry-window spelling, same arithmetic order
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS epoch_start,
             {R('sum(value)', 2)} AS v
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, min(epoch_start) AS lo, max(epoch_start) AS hi
      FROM r GROUP BY 1
    ), g AS (
      SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS epoch_start
      FROM b
    ), pv AS (
      SELECT g.event_type, g.epoch_start, k.epoch_start AS pt, k.v AS pval
      FROM g ASOF LEFT JOIN r k
        ON g.event_type = k.event_type AND g.epoch_start >= k.epoch_start
    ), nx AS (
      SELECT g.event_type, g.epoch_start, k.epoch_start AS nt, k.v AS nval
      FROM g ASOF LEFT JOIN r k
        ON g.event_type = k.event_type AND g.epoch_start <= k.epoch_start
    )
    SELECT p.event_type, p.epoch_start,
           round(CASE
             WHEN p.pt = p.epoch_start THEN p.pval
             WHEN p.pt IS NOT NULL AND n.nt IS NOT NULL
             THEN p.pval + (n.nval - p.pval)
                  * (CAST(p.epoch_start - p.pt AS DOUBLE)
                     / CAST(n.nt - p.pt AS DOUBLE))
           END, 6) AS value_interp
    FROM pv p JOIN nx n USING (event_type, epoch_start)
    """,
    tags=("gapfill", "interpolation", "time-series", "rollup"),
)
def telemetry_interpolated_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linearly interpolated hourly totals
    (operators.rollup_cascade.interpolate) — gapfill's other half: a
    sensor absent for an hour charts the line between its neighbors, not
    zero; edges stay NULL (no extrapolation). One hash exchange of
    grid-sized rows; the reversed carry re-sorts in partition, never
    re-shuffles. Interpolation weights are exact integer bucket deltas
    fed to one IEEE division, so the ASOF-based oracle matches to the
    digit."""
    from prajna_spark.operators.rollup_cascade import interpolate

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("long") / 3600) * 3600)
            .cast("long")
            .alias("epoch_start"),
            "value",
        )
        .groupBy("event_type", "epoch_start")
        .agg(pround(F.sum("value"), 2).alias("v"))
    )
    return interpolate(
        hourly, ["event_type"], 3600, "v", out_col="value_interp"
    )


@query(
    "telemetry_locf_hours",
    oracle=f"""
    -- LOCF replay via one backward ASOF join: each grid bucket carries
    -- the latest known bucket's value (copied, never recomputed)
    WITH r AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS epoch_start,
             {R('sum(value)', 2)} AS v
      FROM events GROUP BY 1, 2
    ), b AS (
      SELECT event_type, min(epoch_start) AS lo, max(epoch_start) AS hi
      FROM r GROUP BY 1
    ), g AS (
      SELECT event_type, unnest(range(lo, hi + 3600, 3600)) AS epoch_start
      FROM b
    )
    SELECT g.event_type, g.epoch_start, k.v AS value_locf
    FROM g ASOF LEFT JOIN r k
      ON g.event_type = k.event_type AND g.epoch_start >= k.epoch_start
    """,
    tags=("gapfill", "locf", "time-series", "rollup"),
)
def telemetry_locf_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward hourly series
    (operators.rollup_cascade.locf) — the fill mode for GAUGE metrics,
    completing the trio: gapfill charts zeros (counters), interpolate
    charts lines (smooth trends), locf holds the last reading (queue
    depth, balances). One forward carry window per series — a single
    hash exchange of grid-sized rows; the carried value is copied
    bit-for-bit so the ASOF-join oracle matches with no rounding
    alignment beyond the rollup's own."""
    from prajna_spark.operators.rollup_cascade import locf

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hourly = (
        ev.select(
            "event_type",
            (F.floor(F.col("ts").cast("long") / 3600) * 3600)
            .cast("long")
            .alias("epoch_start"),
            "value",
        )
        .groupBy("event_type", "epoch_start")
        .agg(pround(F.sum("value"), 2).alias("v"))
    )
    return locf(hourly, ["event_type"], 3600, "v", out_col="value_locf")


@query(
    "cusum_stream_alarms",
    oracle="""
    -- batch replay of the live CUSUM chart: same fixed slack/threshold,
    -- same (ts, event_id) fold order, pure BIGINT identity
    WITH base AS (
      SELECT event_type AS k, CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id AS tb, CAST(floor(value) AS BIGINT) AS x
      FROM events
    ), pre AS (
      SELECT k, t, tb, x,
             CAST(sum(x - 60) OVER (
               PARTITION BY k ORDER BY t, tb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ct
      FROM base
    )
    SELECT k AS event_type, t AS epoch_sec, tb AS event_id, x,
           CAST(ct - least(CAST(0 AS BIGINT), min(ct) OVER (
             PARTITION BY k ORDER BY t, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             AS BIGINT) AS cusum,
           (ct - least(CAST(0 AS BIGINT), min(ct) OVER (
             PARTITION BY k ORDER BY t, tb
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))) > 500
             AS is_alarm
    FROM pre
    """,
    tags=("streaming", "cusum", "changepoint", "stateful"),
)
def cusum_stream_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live level-shift alerting (streaming.cusum_stream): a stateful
    per-event_type CUSUM over the event stream — the alarm fires in the
    micro-batch the drift crosses the threshold, not at the next batch
    job. State is TWO BIGINTs per series (running cumsum + prefix min:
    the whole chart identity), integer-exact, so the AvailableNow drain
    equals the fixed-parameter batch chart row for row — which is
    exactly what the oracle replays."""
    import uuid

    from prajna_spark.streaming.cusum_stream import cusum_stream
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    ev = events_readstream(spark, sf_dir).select(
        F.col("event_type").alias("k"),
        "ts",
        F.col("event_id").alias("tb"),
        F.floor("value").cast("long").alias("x"),
    )
    name = f"cusum_stream_{uuid.uuid4().hex[:8]}"
    import os as _os

    from prajna_spark.streaming.statestore import (
        parquet_row_estimate,
        scale_state_partitions,
    )

    est = parquet_row_estimate(_os.path.join(sf_dir, "events.parquet"))
    # input-derived state partitioning (r11): see dedup_stream_watermark
    with scale_state_partitions(spark, est):
        q = (
            cusum_stream(ev, slack=60, threshold=500)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        F.col("k").alias("event_type"),
        F.col("t").alias("epoch_sec"),
        F.col("tb").alias("event_id"),
        "x",
        "cusum",
        "is_alarm",
    )


@query(
    "twa_daily_value",
    oracle="""
    -- time-weighted daily average replay: lead-window hold durations
    -- (exact integer seconds), identical weighted-sum formula
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_start,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             event_id, value
      FROM events
    ), wgt AS (
      SELECT event_type, day_start, t,
             value * CAST(coalesce(
               lead(t) OVER (PARTITION BY event_type, day_start
                             ORDER BY t, event_id),
               day_start + 86400) - t AS DOUBLE) AS wv
      FROM s
    )
    SELECT event_type, day_start,
           CAST(count(*) AS BIGINT) AS n_samples,
           (floor((sum(wv) / CAST(day_start + 86400 - min(t) AS DOUBLE))
                  * 1e4 + 5e-1) / 1e4) AS twa
    FROM wgt GROUP BY 1, 2
    """,
    tags=("timeseries", "twa", "gauge", "events"),
)
def twa_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted daily value average per event type
    (operators.smoothing.time_weighted_avg): each sample holds until
    the next (LOCF semantics), the last until midnight — the correct
    gauge mean where the row-count ``avg`` is a polling-frequency
    artifact. One (type, day)-keyed exchange serves both the lead
    window and the aggregate; hold durations are exact integer
    seconds."""
    from prajna_spark.operators.smoothing import time_weighted_avg

    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    s = ev.select(
        "event_type",
        (F.floor(F.col("ts").cast("long") / 86400) * 86400)
        .cast("long")
        .alias("day_start"),
        F.col("ts").cast("long").alias("t"),
        "event_id",
        "value",
    )
    return time_weighted_avg(
        s,
        ["event_type"],
        "day_start",
        "t",
        "value",
        86400,
        tiebreak_col="event_id",
        dec=4,
    )


@query(
    "autocorr_hourly_counts",
    oracle="""
    -- lag-1 and lag-24 autocorrelation of hourly event counts per type,
    -- from INTEGER sufficient statistics (pair count, sums, cross/square
    -- sums are all exact BIGINTs): the Pearson r assembles in one fixed
    -- IEEE association from exact integers, so both engines agree
    -- bit-for-bit — no rounding slack needed, rounded only for display.
    -- Pairs come from an equi-join on (type, hour + lag), so calendar
    -- gaps pair nothing (never the previous EXISTING hour, a windowed
    -- lag()'s classic gap bug).
    WITH hc AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), lags AS (SELECT CAST(1 AS BIGINT) AS lag_hours
                UNION ALL SELECT CAST(24 AS BIGINT)),
    pairs AS (
      SELECT x.event_type, l.lag_hours, x.n AS xv, y.n AS yv
      FROM lags l
      JOIN hc x ON TRUE
      JOIN hc y ON y.event_type = x.event_type
              AND y.h + l.lag_hours * 3600 = x.h
    ), s AS (
      SELECT event_type, lag_hours,
             CAST(count(*) AS BIGINT) AS np,
             CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
             CAST(sum(xv * yv) AS BIGINT) AS sxy,
             CAST(sum(xv * xv) AS BIGINT) AS sxx,
             CAST(sum(yv * yv) AS BIGINT) AS syy
      FROM pairs GROUP BY 1, 2
    )
    SELECT event_type, lag_hours, np AS n_pairs,
           CASE WHEN (np * sxx - sx * sx) > 0 AND (np * syy - sy * sy) > 0
             THEN (floor((CAST(np * sxy - sx * sy AS DOUBLE)
                   / (sqrt(CAST(np * sxx - sx * sx AS DOUBLE))
                      * sqrt(CAST(np * syy - sy * sy AS DOUBLE)))) * 1e6
                   + 5e-1) / 1e6)
           END AS autocorr
    FROM s
    """,
    tags=("timeseries", "autocorrelation", "events", "sufficient-stats"),
)
def autocorr_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series at lags 1 h and
    24 h per event type — the seasonality diagnostic run before picking
    smoothing/forecast windows (complements ewma_hourly_value). Pairing
    is an equi-join on (type, hour + lag) so calendar gaps pair nothing
    — a windowed lag() would silently pair across gaps. Pearson r is
    assembled from INTEGER sufficient statistics (all sums exact
    BIGINTs) in one fixed IEEE association, so the result is
    bit-identical cross-engine before the display rounding. Plan: the
    event log collapses to |types| x |hours| rows at the first
    aggregate; everything after is narrow."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hc = ev.groupBy(
        "event_type",
        F.expr("CAST(date_trunc('HOUR', ts) AS LONG)").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    lags = ev.sparkSession.createDataFrame(
        [(1,), (24,)], "lag_hours long"
    )
    x = hc.select("event_type", "h", F.col("n").alias("xv"))
    y = hc.select(
        F.col("event_type").alias("y_type"),
        F.col("h").alias("y_h"),
        F.col("n").alias("yv"),
    )
    pairs = lags.crossJoin(x).join(
        y,
        (F.col("y_type") == F.col("event_type"))
        & (F.col("y_h") + F.col("lag_hours") * 3600 == F.col("h")),
    )
    # co-moments in DECIMAL(38,0), one operand cast BEFORE the multiply
    # so the product runs in decimal: hourly counts at extreme ingest
    # rates (1e9/hour) put xv*yv itself past int64 — casting the
    # already-wrapped product would keep the garbage (r6 ADVICE; any
    # int64*int64 fits decimal(38,0) exactly). DuckDB widens BIGINT to
    # HUGEINT on its own, so decimal keeps the engines on the same
    # exact integers.
    dec = "decimal(38,0)"
    s = pairs.groupBy("event_type", "lag_hours").agg(
        F.count(F.lit(1)).alias("np"),
        F.sum("xv").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("xv").cast(dec) * F.col("yv")).alias("sxy"),
        F.sum(F.col("xv").cast(dec) * F.col("xv")).alias("sxx"),
        F.sum(F.col("yv").cast(dec) * F.col("yv")).alias("syy"),
    )
    sx_d, sy_d = F.col("sx").cast(dec), F.col("sy").cast(dec)
    dxx = F.col("np") * F.col("sxx") - sx_d * sx_d
    dyy = F.col("np") * F.col("syy") - sy_d * sy_d
    num = (F.col("np") * F.col("sxy") - sx_d * sy_d).cast("double")
    r = num / (F.sqrt(dxx.cast("double")) * F.sqrt(dyy.cast("double")))
    return s.select(
        "event_type",
        "lag_hours",
        F.col("np").alias("n_pairs"),
        F.when((dxx > 0) & (dyy > 0), pround(r, 6)).alias("autocorr"),
    )


@query(
    "seasonal_forecast_mae",
    oracle=f"""
    -- hour-of-day seasonal-naive forecast: train on the first three
    -- weeks (per-type per-hour-of-day mean value, rounded portably),
    -- score MAE + bias on the rest. The forecast is rounded BEFORE the
    -- error pass, so per-row errors are exact IEEE diffs and only the
    -- final averages need rounding slack.
    WITH tr AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             {R("avg(value)", 6)} AS fc
      FROM events WHERE ts < TIMESTAMP '2024-01-22' GROUP BY 1, 2
    ), te AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod, value
      FROM events WHERE ts >= TIMESTAMP '2024-01-22'
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           {R("avg(abs(value - fc))", 6)} AS mae,
           {R("avg(value - fc)", 6)} AS bias
    FROM te JOIN tr USING (event_type, hod)
    GROUP BY event_type
    """,
    tags=("timeseries", "forecast", "eval", "events"),
)
def seasonal_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: per (event_type, hour-of-day)
    mean value learned on the first three weeks becomes the forecast for
    the remainder; MAE and signed bias score it per type — the baseline
    every fancier forecaster must beat, and the natural consumer of
    autocorr_hourly_counts' seasonality verdict. The forecast table is
    |types| x 24 rows (broadcast), so the test pass is map-side; the
    event log reduces at the first aggregate. Forecasts are rounded
    portably BEFORE the error pass so per-row errors are exact."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    split = F.lit("2024-01-22").cast("timestamp")
    tr = (
        ev.where(F.col("ts") < split)
        .groupBy("event_type", F.hour("ts").cast("long").alias("hod"))
        .agg(pround(F.avg("value"), 6).alias("fc"))
    )
    te = ev.where(F.col("ts") >= split).select(
        "event_type", F.hour("ts").cast("long").alias("hod"), "value"
    )
    err = te.join(F.broadcast(tr), ["event_type", "hod"])
    return err.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        pround(F.avg(F.abs(F.col("value") - F.col("fc"))), 6).alias("mae"),
        pround(F.avg(F.col("value") - F.col("fc")), 6).alias("bias"),
    )


@query(
    "dedup_stream_watermark",
    oracle="""
    -- batch twin of the ENGINE-NATIVE stateful dedup: after a clean
    -- AvailableNow drain the survivor store holds exactly one row per
    -- (user, type, hour) key — i.e. SELECT DISTINCT
    SELECT user_id, event_type,
           CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS epoch_hour
    FROM events
    GROUP BY 1, 2, 3
    """,
    tags=("dedup", "streaming", "stateful", "watermark", "events"),
)
def dedup_stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-most-one-credit-per-(user, type, hour) dedup through Spark's
    NATIVE stateful operator (streaming.dedup_stream.start_watermark_dedup
    -> dropDuplicatesWithinWatermark): the state store keeps first
    arrivals and drops re-arrivals inside the watermark horizon — the
    engine-managed twin of the hand-built fingerprint store
    (dedup_stream_firstseen). A horizon wider than the fixture's span
    makes the drain equal batch DISTINCT exactly; production picks the
    horizon as a retention policy and accepts re-emission past it (the
    documented eviction contract, tested in test_dedup_stream).

    This operator's state is KEY-UNIVERSE-sized (one row per distinct
    key until the horizon passes) — the one streaming shape whose state
    legitimately outgrows executor heap at 100 TB — so the drain runs
    under the auto-selected state-store provider: RocksDB (off-heap,
    changelog-checkpointed) above the row threshold, the default heap
    provider for tiny fixtures. Provider equivalence + engagement are
    asserted in tests/test_statestore.py."""
    import os

    from prajna_spark.streaming.dedup_stream import start_watermark_dedup
    from prajna_spark.streaming.statestore import (
        auto_state_provider,
        parquet_row_estimate,
        scale_state_partitions,
    )
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("wm_dedup_q", sf_dir)
    ev = events_readstream(spark, sf_dir).select(
        "ts",
        "user_id",
        "event_type",
        (F.expr("CAST(ts AS LONG) div 3600") * 3600).alias("epoch_hour"),
    )
    est = parquet_row_estimate(os.path.join(sf_dir, "events.parquet"))
    # state partitions derived from input size (r11): streaming has no
    # AQE coalescing, so the drain otherwise commits 32 near-empty
    # stores per batch at small scale and too few at 100 TB
    with auto_state_provider(spark, est), scale_state_partitions(spark, est):
        q = start_watermark_dedup(
            ev, "ts", ["user_id", "event_type", "epoch_hour"],
            f"{base}/store", f"{base}/ckpt",
        )
        q.awaitTermination()
    return spark.read.parquet(f"{base}/store").drop("ingest_batch")


@query(
    "stream_stream_left_outer",
    oracle="""
    -- batch twin of the watermarked stream-stream LEFT OUTER interval
    -- join: every purchase row, null-padded when no view preceded it
    -- within the hour
    WITH p AS (
      SELECT event_id AS p_id, user_id, ts FROM events
      WHERE event_type = 'purchase'
    ), v AS (
      SELECT event_id AS v_id, user_id AS v_user, ts AS v_ts FROM events
      WHERE event_type = 'view'
    )
    SELECT p.p_id, v.v_id
    FROM p LEFT JOIN v
      ON v.v_user = p.user_id
     AND v.v_ts <= p.ts AND v.v_ts >= p.ts - INTERVAL 1 HOUR
    """,
    tags=("streaming", "stream-stream-join", "outer", "watermark"),
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the outer variant's extra
    semantics over the inner twin (stream_stream_purchase_views): matched
    rows emit eagerly, but an UNMATCHED purchase emits its null-padded
    row only once the view-side watermark proves no match can still
    arrive, and a LEFT row arriving behind the watermark is dropped as
    late entirely. Both contracts shape the drain: the data must land in
    ONE micro-batch (watermark still at epoch 0 — nothing late), then a
    sentinel batch (max ts + 4h) pushes the watermark past every
    purchase's window, and a second sentinel batch (+ 8h) is where that
    watermark evicts + emits the held state — watermarks take effect one
    batch AFTER they advance. Round 6 (68 s in r5's review -> ~15 s):
    all three batches run inside ONE streaming query (one startup, was
    2 drains/3 in r4) — data and sentinel files are staged up front
    with explicitly ordered mtimes and maxFilesPerTrigger = #data-files
    slices the availableNow drain into exactly the ordered micro-batches
    the protocol needs; sentinels are built driver-side with pyarrow
    (a 2-row Spark write job costs ~5 s of scheduling); and the drain
    runs on 8 state partitions (the sentinel/final batches are pure
    state-store fixed cost, which scales with the partition count).
    Sentinel rows filter out of the store. Production spells the same
    flush as a heartbeat/punctuation event on both streams."""
    import glob
    import os

    from prajna_spark.streaming.sink import drain

    tune(spark)
    base = work_dir("ss_louter", sf_dir)
    src = os.path.join(base, "src")
    out = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    # only the two joined event types enter the stream: the in-stream
    # filters would drop the rest anyway, so filtering at the staging
    # write shrinks the state-store and scan work identically on both
    # engines (the oracle filters the same way)
    ev_batch = (
        load_table(spark, "events", sf_dir)
        .where(F.col("event_type").isin("purchase", "view"))
        .select("event_id", "ts", "user_id", "event_type")
    )
    ev_batch.write.parquet(src)
    # collect the max ts as an EPOCH, not a datetime: collect() returns a
    # naive datetime in the driver's LOCAL tz, and handing naive values
    # to pyarrow's tz='UTC' schema reinterprets them as UTC wall time —
    # on a non-UTC driver host the sentinels would land hours early and
    # the held left-outer rows would silently never flush (r6 ADVICE,
    # high). An epoch is tz-exact on every host.
    mx_epoch = ev_batch.agg(
        F.max(F.unix_timestamp("ts")).alias("m")
    ).collect()[0]["m"]

    def drain_join(max_files: int | None = None) -> None:
        reader = spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string"
        )
        if max_files is not None:
            reader = reader.option("maxFilesPerTrigger", max_files)
        stream = reader.parquet(src)
        p = (
            stream.where(F.col("event_type") == "purchase")
            .select(
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"),
                F.col("event_id").alias("p_id"),
            )
            .withWatermark("p_ts", "2 hours")
        )
        v = (
            stream.where(F.col("event_type") == "view")
            .select(
                F.col("user_id").alias("v_user"),
                F.col("ts").alias("v_ts"),
                F.col("event_id").alias("v_id"),
            )
            .withWatermark("v_ts", "2 hours")
        )
        cond = (
            (F.col("p_user") == F.col("v_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") <= F.col("p_ts"))
        )
        drain(
            p.join(v, cond, "left_outer").select("p_id", "v_id"),
            lambda b, _i: b.write.mode("append").parquet(out),
            ckpt,
        ).awaitTermination()

    # Stage both sentinels INTO src before the (single) drain — built
    # driver-side with pyarrow (2 rows each; a Spark job per sentinel
    # write measured ~5 s of pure scheduling overhead). The drain runs
    # with maxFilesPerTrigger = #data-files, so micro-batch #1 is ALL
    # the data (its files carry the oldest mtimes); each sentinel is
    # duplicated into a same-mtime group of the SAME size, so the
    # trigger boundary can't merge the +4h group with the +8h group —
    # batches come out [data], [sentinel+4h], [sentinel+8h] exactly
    # (FileStreamSource takes oldest-mtime-first, up to the cap).
    # Duplicate sentinel ROWS are harmless: they only join each other
    # (user_id -1) and filter out of the result.
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_

    data_files = glob.glob(os.path.join(src, "*.parquet"))
    n_data = len(data_files)
    t0 = max(os.path.getmtime(f) for f in data_files)
    pa_schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us", tz="UTC")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
        ]
    )
    for i, hours in enumerate((4, 8)):
        s_ts = datetime.datetime.fromtimestamp(
            mx_epoch + hours * 3600, tz=datetime.timezone.utc
        )
        table = pa.Table.from_pydict(
            {
                "event_id": [-1 - 2 * i, -2 - 2 * i],
                "ts": [s_ts, s_ts],
                "user_id": [-1, -1],
                "event_type": ["purchase", "view"],
            },
            schema=pa_schema,
        )
        first = os.path.join(src, f"zz_sentinel_{i}_0.parquet")
        pq_.write_table(table, first)
        mtime = t0 + 100 * (i + 1)
        for j in range(n_data):
            dest = os.path.join(src, f"zz_sentinel_{i}_{j}.parquet")
            if j > 0:
                shutil.copyfile(first, dest)
            os.utime(dest, (mtime, mtime))
    # the drain's only heavy rows are batch #1; the small sentinel and
    # final batches are pure state-store load/commit overhead, which
    # scales with the shuffle-partition count — 8 state partitions keep
    # ~40k state rows comfortably parallel while quartering that fixed
    # cost (state partitioning binds to this checkpoint only)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # outer-join state holds BOTH sides within the watermark (plus the
    # held unmatched left rows) — event-universe-sized, so the provider
    # is footer-estimate-selected like the other key-universe streams
    from prajna_spark.streaming.statestore import (
        auto_state_provider,
        parquet_row_estimate,
    )

    est = parquet_row_estimate(os.path.join(sf_dir, "events.parquet"))
    try:
        with auto_state_provider(spark, est):
            drain_join(max_files=n_data)  # ONE streaming startup, 3 ordered batches
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.read.parquet(out).where(F.col("p_id") >= 0)


@query(
    "anomaly_stream_alerts",
    oracle=f"""
    -- batch twin of the streaming forecast-deviation alerts: every
    -- event whose value misses its (type, hour-of-day) seasonal
    -- forecast by more than 100; forecast rounded BEFORE scoring so
    -- per-row deviations are exact
    WITH tr AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             {R("avg(value)", 6)} AS fc
      FROM events WHERE ts < TIMESTAMP '2024-01-22' GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type, e.value, tr.fc,
           {R("e.value - tr.fc", 6)} AS deviation
    FROM events e JOIN tr
      ON tr.event_type = e.event_type AND tr.hod = CAST(hour(e.ts) AS BIGINT)
    WHERE abs(e.value - tr.fc) > 1e2
    """,
    tags=("streaming", "anomaly", "forecast", "alerting", "composition"),
)
def anomaly_stream_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous model-scoring alerts (streaming.anomaly_stream): the
    seasonal hour-of-day forecast (the table behind
    seasonal_forecast_mae) broadcasts into every micro-batch; events
    deviating by more than 100 land in the alert store — the
    reference's telemetry analytic loop (paper §5.2) upgraded to a
    standing scoring stream. Stateless scoring makes the clean drain
    equal the batch filter row-for-row, which is exactly what the
    oracle checks; unseen (type, hour) keys pass silently by the
    documented inner-join contract."""
    from prajna_spark.streaming.anomaly_stream import start_forecast_alerts
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("anomaly_q", sf_dir)
    ev_batch = load_table(spark, "events", sf_dir)
    split = F.lit("2024-01-22").cast("timestamp")
    forecast = (
        ev_batch.where(F.col("ts") < split)
        .groupBy("event_type", F.hour("ts").cast("long").alias("hod"))
        .agg(pround(F.avg("value"), 6).alias("fc"))
    )
    stream = events_readstream(spark, sf_dir).select(
        "event_id",
        "event_type",
        "value",
        F.hour("ts").cast("long").alias("hod"),
    )
    q = start_forecast_alerts(
        stream, forecast, ["event_type", "hod"], "value", "fc",
        threshold=100.0, store_path=f"{base}/store",
        checkpoint_path=f"{base}/ckpt",
    )
    q.awaitTermination()
    return spark.read.parquet(f"{base}/store").select(
        "event_id", "event_type", "value", "fc", "deviation"
    )


@query(
    "forecast_conformal_coverage",
    oracle=f"""
    -- split-conformal interval for the seasonal forecast: the band is
    -- the exact q95 of TRAIN absolute residuals per type (forecast
    -- rounded before residuals, quantile_cont == percentile
    -- bit-identical), and test coverage counts hits inside
    -- forecast ± band — the finite-sample ~95% guarantee that needs no
    -- distributional assumption.
    WITH tr AS (
      SELECT event_type, CAST(hour(ts) AS BIGINT) AS hod,
             {R("avg(value)", 6)} AS fc
      FROM events WHERE ts < TIMESTAMP '2024-01-22' GROUP BY 1, 2
    ), resid AS (
      SELECT e.event_type, abs(e.value - tr.fc) AS r
      FROM events e JOIN tr
        ON tr.event_type = e.event_type
       AND tr.hod = CAST(hour(e.ts) AS BIGINT)
      WHERE e.ts < TIMESTAMP '2024-01-22'
    ), band AS (
      SELECT event_type, quantile_cont(r, 0.95) AS q FROM resid GROUP BY 1
    ), te AS (
      SELECT e.event_type, e.value, tr.fc, band.q
      FROM events e
      JOIN tr ON tr.event_type = e.event_type
             AND tr.hod = CAST(hour(e.ts) AS BIGINT)
      JOIN band ON band.event_type = e.event_type
      WHERE e.ts >= TIMESTAMP '2024-01-22'
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_test,
           {R("max(q)", 6)} AS band_width,
           (floor((CAST(sum(CASE WHEN abs(value - fc) <= q THEN 1 ELSE 0
                             END) AS DOUBLE) / CAST(count(*) AS DOUBLE))
                  * 1e6 + 5e-1) / 1e6) AS coverage
    FROM te GROUP BY event_type
    """,
    tags=("forecast", "conformal", "uncertainty", "events", "eval"),
)
def forecast_conformal_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals for the seasonal forecast —
    the distribution-free uncertainty layer (band = exact q95 of train
    absolute residuals per type) with its empirical test coverage, the
    number that validates the ~95% finite-sample guarantee. Composes
    the forecast table (broadcast), one exact percentile over train
    residuals, and a counting pass over test; the hit test
    |value - fc| <= q compares IEEE-identical doubles, so coverage is
    exact cross-engine. At scale everything rides the same broadcast
    pattern as the forecast itself."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    split = F.lit("2024-01-22").cast("timestamp")
    tr = (
        ev.where(F.col("ts") < split)
        .groupBy("event_type", F.hour("ts").cast("long").alias("hod"))
        .agg(pround(F.avg("value"), 6).alias("fc"))
    )
    train_resid = (
        ev.where(F.col("ts") < split)
        .select("event_type", F.hour("ts").cast("long").alias("hod"), "value")
        .join(F.broadcast(tr), ["event_type", "hod"])
        .select(
            "event_type", F.abs(F.col("value") - F.col("fc")).alias("r")
        )
    )
    band = train_resid.groupBy("event_type").agg(
        F.percentile("r", 0.95).alias("q")
    )
    te = (
        ev.where(F.col("ts") >= split)
        .select("event_type", F.hour("ts").cast("long").alias("hod"), "value")
        .join(F.broadcast(tr), ["event_type", "hod"])
        .join(F.broadcast(band), "event_type")
    )
    return te.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        pround(F.max("q"), 6).alias("band_width"),
        pround(
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("fc")) <= F.col("q"), 1
                ).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("coverage"),
    )


@query(
    "mann_kendall_trend",
    oracle="""
    -- Mann-Kendall monotonic-trend test per event type over the hourly
    -- count series: S = sum over hour pairs of sign(x_j - x_i), its
    -- tie-corrected variance, and the continuity-corrected z — all
    -- INTEGER sufficient statistics until the final sqrt/division, so
    -- bit-identical cross-engine before display rounding.
    WITH hc AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS mk_s
      FROM hc a JOIN hc b
        ON b.event_type = a.event_type AND b.h > a.h
      GROUP BY 1
    ), n AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM hc GROUP BY 1
    ), ties AS (
      SELECT event_type,
             CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (
        SELECT event_type, x, CAST(count(*) AS BIGINT) AS t
        FROM hc GROUP BY 1, 2
      ) WHERE t > 1 GROUP BY 1
    ), v AS (
      SELECT n.event_type, s.mk_s, n.n,
             CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                  - coalesce(t.tie_term, 0) AS DOUBLE) / 1.8e1 AS var_s
      FROM n JOIN s USING (event_type)
      LEFT JOIN ties t ON t.event_type = n.event_type
    )
    SELECT event_type, mk_s, n AS n_hours,
           (floor((CASE WHEN mk_s > 0
                        THEN CAST(mk_s - 1 AS DOUBLE) / sqrt(var_s)
                        WHEN mk_s < 0
                        THEN CAST(mk_s + 1 AS DOUBLE) / sqrt(var_s)
                        ELSE 0e0 END) * 1e6 + 5e-1) / 1e6) AS z
    FROM v
    """,
    tags=("timeseries", "trend", "mann-kendall", "statistics", "events"),
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event type — the
    nonparametric companion to trend_hourly_events' OLS slope (no
    normality assumption, robust to outliers): S counts concordant
    minus discordant hour pairs, variance gets the standard tie
    correction, z applies the continuity correction. The log reduces to
    the |types| x |hours| series first; the pair join is bounded by
    series length squared PER TYPE (series-cardinality, never corpus).
    All sufficient statistics are exact BIGINTs; only the final
    sqrt/division is IEEE, identically associated on both engines."""
    tune(spark)
    ev = load_table(spark, "events", sf_dir)
    hc = ev.groupBy(
        "event_type",
        F.expr("CAST(date_trunc('HOUR', ts) AS LONG)").alias("h"),
    ).agg(F.count(F.lit(1)).alias("x"))
    b = hc.select(
        F.col("event_type").alias("et2"),
        F.col("h").alias("h2"),
        F.col("x").alias("x2"),
    )
    s = (
        hc.join(
            b,
            (F.col("et2") == F.col("event_type")) & (F.col("h2") > F.col("h")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("x2") > F.col("x"), 1)
                .when(F.col("x2") < F.col("x"), -1)
                .otherwise(0)
            ).alias("mk_s")
        )
    )
    n = hc.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ties = (
        hc.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("t"))
        .where(F.col("t") > 1)
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tie_term")
        )
    )
    v = (
        n.join(s, "event_type")
        .join(ties, "event_type", "left")
        .withColumn(
            "var_s",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            ).cast("double")
            / F.lit(18.0),
        )
    )
    z = (
        F.when(
            F.col("mk_s") > 0,
            (F.col("mk_s") - 1).cast("double") / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("mk_s") < 0,
            (F.col("mk_s") + 1).cast("double") / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return v.select(
        "event_type",
        "mk_s",
        F.col("n").alias("n_hours"),
        pround(z, 6).alias("z"),
    )
