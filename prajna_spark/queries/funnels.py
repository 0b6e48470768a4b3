"""Event-funnel and cohort-retention analytics over the ``events``
table — the product-analytics tier every telemetry deployment of the
reference's VM-Hub loop (SURVEY §2.12, paper §5.2) runs downstream.

Scale shapes: every join and aggregate here keys on ``user_id`` (narrow,
high-cardinality, uniform) or on (cohort_week, week_offset)
(low-cardinality rollup); per-step frames are user-cardinality, never
event-cardinality, so a 100 TB event log reduces at the first aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prajna_spark.queries import query, work_dir
from prajna_spark.session import tune
from prajna_spark.sources import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    return load_table(spark, "events", sf_dir)


@query(
    "funnel_signup_view_purchase",
    oracle="""
    -- ordered 3-step funnel: first signup, first view AFTER it, first
    -- purchase after THAT; per-step user counts
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), v AS (
      SELECT e.user_id, min(e.ts) AS v_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'view' AND e.ts > s.s_ts
      GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN v ON v.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > v.v_ts
      GROUP BY 1
    )
    SELECT CAST(1 AS BIGINT) AS step, 'signup' AS name, count(*) AS n_users FROM s
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'view_after_signup', count(*) FROM v
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase_after_view', count(*) FROM p
    """,
    tags=("funnel", "events", "analytics"),
)
def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel: users who signed up, then viewed AFTER
    signing up, then purchased after that first view — the sequencing
    makes it a funnel rather than three independent filters. Each step
    is a conditional min-aggregate keyed on user_id joined to the
    previous step's user-cardinality frame: the raw event log is
    touched once per step with a pushed event_type filter and reduced
    to |users| rows immediately; step frames then join narrow. The
    event-time ORDER constraint (ts > previous step's ts) is what
    window-free funnel SQL gets wrong most often — here it is explicit
    in each step's predicate."""
    ev = _events(spark, sf_dir)

    def first_after(etype: str, prev: DataFrame | None, prev_ts: str, out_ts: str):
        step = ev.where(F.col("event_type") == etype).select("user_id", "ts")
        if prev is not None:
            step = step.join(prev, "user_id").where(F.col("ts") > F.col(prev_ts))
        return step.groupBy("user_id").agg(F.min("ts").alias(out_ts))

    s = first_after("signup", None, "", "s_ts")
    v = first_after("view", s, "s_ts", "v_ts")
    p = first_after("purchase", v, "v_ts", "p_ts")
    rows = [
        (1, "signup", s),
        (2, "view_after_signup", v),
        (3, "purchase_after_view", p),
    ]
    out = None
    for step_no, name, frame in rows:
        one = frame.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(step_no).cast("long").alias("step"),
            F.lit(name).alias("name"),
            F.col("n_users"),
        )
        out = one if out is None else out.unionByName(one)
    return out


@query(
    "cohort_weekly_retention",
    oracle="""
    -- cohort retention: users bucketed by first-activity week, counted
    -- in each subsequent active week (distinct user-week pairs)
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY 1
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week
      FROM events
    )
    SELECT CAST(epoch(f.cohort_week) AS BIGINT) AS cohort_week,
           CAST((epoch(a.active_week) - epoch(f.cohort_week)) / 604800
                AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity a JOIN first_seen f ON f.user_id = a.user_id
    GROUP BY 1, 2
    """,
    tags=("cohort", "retention", "events", "analytics"),
)
def cohort_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: each user joins the cohort of
    their first active week; every (cohort, week-offset) cell counts
    users active that week — the engagement decay table behind every
    retention curve. Two aggregates over the log (first-seen min and
    distinct user-weeks), both keyed on user_id, then a
    user-cardinality join and a low-cardinality rollup. Monday-start
    week truncation and epoch arithmetic are identical on both engines,
    so the matrix is hash-exact."""
    ev = _events(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.unix_timestamp(F.date_trunc("week", F.min("ts"))).alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    week = 604800
    return (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            (
                (
                    F.unix_timestamp("active_week")
                    - F.col("cohort_week")
                )
                / week
            )
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "funnel_conversion_latency",
    oracle="""
    -- signup -> first purchase conversion latency percentiles (hours)
    WITH s AS (
      SELECT user_id, min(ts) AS s_ts FROM events
      WHERE event_type = 'signup' GROUP BY 1
    ), p AS (
      SELECT e.user_id, min(e.ts) AS p_ts
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s.s_ts
      GROUP BY 1
    )
    SELECT count(*) AS n_converted,
           quantile_cont((epoch_us(p.p_ts) - epoch_us(s.s_ts)) / 3.6e9, 0.5) AS p50_hours,
           quantile_cont((epoch_us(p.p_ts) - epoch_us(s.s_ts)) / 3.6e9, 0.95) AS p95_hours
    FROM p JOIN s ON s.user_id = p.user_id
    """,
    tags=("funnel", "latency", "quantiles", "events", "analytics"),
)
def funnel_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the funnel and quantile tiers: time from signup to
    first subsequent purchase, p50/p95 in hours — the conversion-latency
    readout product teams watch. Same user-cardinality reduction as the
    funnel (two conditional min-aggregates + a narrow join), then ONE
    exact percentile aggregate over |converted users| rows; epoch
    arithmetic and interpolation are bit-identical across engines."""
    ev = _events(spark, sf_dir)
    s = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    lat = p.join(s, "user_id").select(
        (
            (F.unix_micros("p_ts") - F.unix_micros("s_ts")) / F.lit(3.6e9)
        ).alias("hours")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.percentile("hours", 0.5).alias("p50_hours"),
        F.percentile("hours", 0.95).alias("p95_hours"),
    )


@query(
    "heavy_hitters_users",
    oracle="""
    -- exact heavy hitters: users with > 0.75% of all events. The Spark
    -- side reaches this result via MG-sketch candidates + an exact
    -- confirmation pass (pipeline.heavyhitters) — same final counts.
    WITH tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events, tot
    GROUP BY user_id, n_total
    HAVING CAST(count(*) AS DOUBLE) > n_total * 7.5e-3
    """,
    tags=("sketch", "heavy-hitters", "events", "pipeline"),
)
def heavy_hitters_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keys exceeding phi=0.75% of all events, computed sketch-first
    (pipeline.heavyhitters.heavy_hitters_exact): per-partition Misra-Gries
    summaries (<= m rows each cross the wire, never raw keys), candidate
    upper-bound filter, then an exact count of candidates only — the
    two-pass shape that finds heavy keys at 100 TB without a full-key
    groupBy, yet returns EXACT counts (m >= 1/phi makes false negatives
    impossible), which is why a plain HAVING oracle hash-matches it."""
    from prajna_spark.pipeline import heavyhitters

    ev = _events(spark, sf_dir)
    return heavyhitters.heavy_hitters_exact(ev, "user_id", phi=7.5e-3)


@query(
    "markov_event_transitions",
    oracle="""
    -- per-user event bigrams -> global transition matrix with row-
    -- normalized probabilities ((user_id, ts) is globally unique, so the
    -- per-user ordering is deterministic)
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts
             ) AS next_type
      FROM events
    )
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(count(*) AS BIGINT) AS n_trans,
           (floor(CAST(count(*) AS DOUBLE)
                  / CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE)
                  * 1e6 + 5e-1) / 1e6) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("sequence", "markov", "events", "window"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user journeys: lead() over
    each user's event-time-ordered stream, bigram counts, and row-
    normalized transition probabilities. One user-keyed window (the
    sequence reconstruction — shuffle by user_id) feeding a 25-cell
    aggregate; probability normalization is a window over the 5x5 matrix,
    driver-free. The integer count ratio divides exactly the same on both
    engines; pround absorbs nothing but is kept for the catalog's rounded-
    float convention."""
    from pyspark.sql import Window

    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(
            Window.partitionBy("user_id").orderBy("ts")
        ).alias("next_type"),
    ).where(F.col("next_type").isNotNull())
    counts = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_trans"))
    row_total = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n_trans",
        pround(
            F.col("n_trans").cast("double")
            / F.sum("n_trans").over(row_total).cast("double"),
            6,
        ).alias("p"),
    )


@query(
    "anomaly_mad_events",
    oracle="""
    -- robust outlier profile per event type: median / MAD of value, and
    -- the count of events beyond 3 MADs (the monitoring gate's spelling;
    -- exact interpolated percentiles are bit-identical across engines)
    WITH med AS (
      SELECT event_type, quantile_cont(value, 5e-1) AS med
      FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, first(med) AS med, quantile_cont(ad, 5e-1) AS mad
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type,
           (floor(first(d.med) * 1e6 + 5e-1) / 1e6) AS med,
           (floor(first(m.mad) * 1e6 + 5e-1) / 1e6) AS mad,
           CAST(sum(CASE WHEN d.ad > 3e0 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    tags=("anomaly", "robust-stats", "events", "validation"),
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection per event type: the
    robust anomaly gate (3-MAD rule) a telemetry pipeline runs where
    mean/stddev would be dragged by the outliers themselves. Two exact
    percentile aggregates over (event_type)-keyed rows plus one counting
    pass — three narrow shuffles on a 5-key column; median/MAD are exact
    interpolated order statistics, bit-identical to DuckDB's
    quantile_cont, and the 3-MAD comparison is exact IEEE arithmetic, so
    outlier counts hash-match."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir).select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.percentile("value", 0.5).alias("med"))
    dev = ev.join(med, "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.first("med").alias("med"), F.percentile("ad", 0.5).alias("mad")
    )
    return (
        dev.select("event_type", "ad")
        .join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            pround(F.first("med"), 6).alias("med"),
            pround(F.first("mad"), 6).alias("mad"),
            F.sum(
                F.when(F.col("ad") > F.lit(3.0) * F.col("mad"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


# Shared by histogram_quantile_sketch (one-shot batch) and
# hist_stream_quantiles (the streamed delta store): same parameters, one
# oracle — equality proves live == batch at any clean drain point.
_HIST_SKETCH_ORACLE = """
    -- quantile ESTIMATES from a mergeable fixed-bound equi-width
    -- histogram (100 bins over [0, 1000]): deterministic binning +
    -- in-bin linear interpolation, replayed exactly
    WITH h AS (
      SELECT event_type,
             CAST(least(greatest(floor((value - 0e0) / 1e1), 0e0), 9.9e1)
                  AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), c AS (
      SELECT event_type, bin, cnt,
             sum(cnt) OVER (PARTITION BY event_type ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             sum(cnt) OVER (PARTITION BY event_type) AS total
      FROM h
    )
    SELECT event_type, q, est FROM (
      SELECT event_type, q,
             (floor((0e0 + 1e1 * (CAST(bin AS DOUBLE)
                + (CAST(total AS DOUBLE) * q - CAST(cum - cnt AS DOUBLE))
                  / CAST(cnt AS DOUBLE))) * 1e6 + 5e-1) / 1e6) AS est,
             row_number() OVER (PARTITION BY event_type, q ORDER BY bin) AS rn
      FROM c CROSS JOIN (SELECT unnest([5e-1, 9.5e-1, 9.9e-1]) AS q) qs
      WHERE CAST(cum AS DOUBLE) >= CAST(total AS DOUBLE) * q
    ) WHERE rn = 1
    """


@query(
    "histogram_quantile_sketch",
    oracle=_HIST_SKETCH_ORACLE,
    tags=("sketch", "quantiles", "histogram", "mergeable", "events"),
)
def histogram_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 ESTIMATES per event type from a mergeable fixed-bound
    histogram (operators/sketch_rollup.fixed_histogram, 100 bins over
    [0, 1000]) — the monitoring-histogram pattern: bin counts from any
    partition, micro-batch, or day add EXACTLY (unlike exact percentiles,
    which need the raw data), and the estimate is within one bin width of
    the order statistic it targets (invariant-tested; in a sparse tail
    that differs from the interpolated percentile). Complements the exact
    profile_events_quantiles (use exact when you can hold the data, the
    sketch when you must merge across time/streams)."""
    from prajna_spark.operators.sketch_rollup import (
        fixed_histogram,
        histogram_quantiles,
    )

    ev = _events(spark, sf_dir).select("event_type", "value")
    hist = fixed_histogram(ev, ["event_type"], "value", 0.0, 1000.0, 100)
    return histogram_quantiles(
        hist, ["event_type"], [0.5, 0.95, 0.99], 0.0, 1000.0, 100
    )


def _cm_case_sql(key_sql: str, w: int, d: int) -> str:
    """CASE dispatching r.row to the row's bucket hash of ``key_sql``."""
    from prajna_spark.pipeline.heavyhitters import cm_bucket_sql

    branches = " ".join(
        f"WHEN {i} THEN ({cm_bucket_sql(key_sql, i, w)})" for i in range(d)
    )
    return f"CASE r.row {branches} END"


@query(
    "cm_frequency_users",
    oracle=f"""
    -- count-min replayed cell-for-cell (md5-derived bucket hashes are
    -- engine-portable), plus the exact counts the estimates bound
    WITH b AS (
      SELECT row, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT r.row AS row, {_cm_case_sql("user_id", 256, 4)} AS bucket
        FROM events, (VALUES (0),(1),(2),(3)) r(row)
      ) GROUP BY row, bucket
    ), probes AS (
      SELECT DISTINCT user_id FROM events WHERE user_id < 20
    ), ests AS (
      SELECT p.user_id, CAST(min(coalesce(b.cnt, 0)) AS BIGINT) AS est
      FROM probes p CROSS JOIN (VALUES (0),(1),(2),(3)) r(row)
      LEFT JOIN b ON b.row = r.row
                 AND b.bucket = ({_cm_case_sql("p.user_id", 256, 4)})
      GROUP BY p.user_id
    )
    SELECT e.user_id, e.est, t.true_cnt
    FROM ests e JOIN (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events WHERE user_id < 20 GROUP BY user_id
    ) t USING (user_id)
    """,
    tags=("sketch", "count-min", "frequency", "pipeline"),
)
def cm_frequency_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min point-frequency estimates
    (pipeline.heavyhitters.cm_sketch/cm_estimate) for a probe set of
    users, alongside their exact counts — in-data evidence of the CM
    guarantee est >= true. The sketch is <= w*d = 1024 rows built with
    one map-combined shuffle (the d-fold expansion happens before the
    partial aggregate), broadcast for estimation; MG answers WHICH keys
    are heavy, CM answers HOW OFTEN for any key, and both shuffle
    sketch rows, never raw keys."""
    from prajna_spark.pipeline.heavyhitters import cm_estimate, cm_sketch

    ev = _events(spark, sf_dir)
    sketch = cm_sketch(ev, "user_id", w=256, d=4)
    probes = ev.where(F.col("user_id") < 20)
    est = cm_estimate(sketch, probes, "user_id", w=256, d=4)
    true_cnt = probes.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("true_cnt")
    )
    return est.join(true_cnt, "user_id")


@query(
    "top_event_paths",
    oracle="""
    -- each user's first-5-event journey as a '>'-joined path, top 20
    -- paths by user count ((user_id, ts) is globally unique, so the
    -- per-user ordering — and thus every path string — is deterministic)
    WITH o AS (
      SELECT user_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
      FROM events
    ), p AS (
      SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      FROM o WHERE rn <= 5 GROUP BY user_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_users
    FROM p GROUP BY path
    ORDER BY n_users DESC, path LIMIT 20
    """,
    tags=("funnel", "paths", "journey", "analytics"),
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common user journeys: each user's first five events joined
    into a path string, counted, top 20. The per-user assembly is ONE
    user-keyed aggregation (sort_array over (ts, type) structs — no
    window pass at all); the path count shuffles path-cardinality rows
    and the top-20 is a TakeOrdered heap, so nothing beyond the first
    aggregate is event-sized."""
    ev = _events(spark, sf_dir)
    paths = (
        ev.select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("ts", "event_type"))),
                        lambda s: s.event_type,
                    ),
                    1,
                    5,
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@query(
    "debounce_user_events",
    oracle="""
    -- burst-first debounce: a row survives iff no same-key row within
    -- the preceding 300 s ((user_id, ts) unique -> deterministic)
    WITH l AS (
      SELECT event_id, user_id, event_type,
             CAST(floor(epoch(ts)) AS BIGINT) AS t,
             lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts
             ) AS prev_t
      FROM events
    )
    SELECT event_id, user_id, event_type, t
    FROM l WHERE prev_t IS NULL OR t - prev_t > 300
    """,
    tags=("debounce", "telemetry", "burst", "cleaning"),
)
def debounce_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce (operators.intervals.burst_first): only the
    first event of every per-(user, type) burst survives — bursts chain
    events whose gaps are <= 300 s, the standard duplicate-click /
    retry-noise cleaner. One lag window per narrow key; no state, no
    second pass."""
    ev = _events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", F.col("ts").cast("long").alias("t")
    )
    from prajna_spark.operators.intervals import burst_first

    return burst_first(ev, ["user_id", "event_type"], "t", 300)


@query(
    "top_event_types_with_other",
    oracle="""
    -- the BI staple: top-3 buckets + an 'other' rollup with shares
    WITH c AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), t AS (
      SELECT event_type, n,
             row_number() OVER (ORDER BY n DESC, event_type) AS rk
      FROM c
    ), tot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
    b AS (
      SELECT event_type AS bucket, n AS n_events FROM t WHERE rk <= 3
      UNION ALL
      SELECT 'other' AS bucket, CAST(coalesce(sum(n), 0) AS BIGINT)
      FROM t WHERE rk > 3
    )
    SELECT bucket, n_events,
           round(CAST(n_events AS DOUBLE) / tot.tot, 6) AS share
    FROM b, tot
    """,
    tags=("analytics", "topk", "other-bucket", "reporting"),
)
def top_event_types_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types plus an 'other' rollup with traffic shares. The
    scale-principled spelling for arbitrary group cardinality: counts ->
    TakeOrdered top-3 (bounded heap, no global sort) -> broadcast
    anti-join folds the tail into one row; total rides a one-row
    broadcast."""
    ev = _events(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    from prajna_spark.operators.lifecycle import scoped_persist

    counts = scoped_persist(counts)
    top3 = counts.orderBy(F.col("n").desc(), "event_type").limit(3)
    other = (
        counts.join(F.broadcast(top3.select("event_type")), "event_type", "left_anti")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_events"))
        .select(F.lit("other").alias("bucket"), "n_events")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("tot"))
    buckets = top3.select(
        F.col("event_type").alias("bucket"), F.col("n").alias("n_events")
    ).unionByName(other)
    return buckets.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_events",
        F.round(F.col("n_events").cast("double") / F.col("tot"), 6).alias("share"),
    )


def _ab_oracle() -> str:
    from prajna_spark.pipeline.experiments import ab_assign_sql, two_proportion_ztest_sql

    exposed = f"""(
      SELECT {ab_assign_sql("user_id", seed="ab1")} AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 1.5e2
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    )"""
    return (
        "\n    -- two-proportion z-test: deterministic md5 variant split of all"
        "\n    -- event-active users; conversion = a purchase above 150\n"
        + two_proportion_ztest_sql(exposed)
    )


@query(
    "ab_test_purchase_conversion",
    oracle=_ab_oracle(),
    tags=("experiment", "ab-test", "events", "analytics"),
)
def ab_test_purchase_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B readout over the event log (pipeline.experiments): every
    event-active user is deterministically assigned a variant by the md5
    hash-gate (sticky, uniform — no stored assignment table needed), the
    log reduces to one (user, variant, converted-on-a->150-purchase) row
    at the first aggregate, and the pooled two-proportion z-test
    collapses that to a single stats row. One user_id-keyed shuffle total; everything after
    is sub-data-sized. z arithmetic keeps one fixed IEEE association so
    the DuckDB oracle matches bit-for-bit (see experiments docstring)."""
    from prajna_spark.functions.rounding import pround
    from prajna_spark.pipeline import experiments

    ev = _events(spark, sf_dir)
    units = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > F.lit(150.0)),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("converted")
    )
    units = units.select(
        experiments.ab_assign(F.col("user_id"), seed="ab1").alias("variant"),
        "converted",
    )
    stats = experiments.two_proportion_ztest(units)
    return stats.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("c_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("c_b"),
        pround(F.col("rate_a"), 6).alias("rate_a"),
        pround(F.col("rate_b"), 6).alias("rate_b"),
        pround(F.col("z_score"), 6).alias("z_score"),
    )


def _cusum_oracle() -> str:
    from prajna_spark.operators.changepoint import cusum_integer_sql

    hourly = """(
      SELECT event_type AS k, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
             count(*) AS x
      FROM events GROUP BY 1, 2
    )"""
    return f"""
    -- integer-exact one-sided CUSUM control chart per event_type series
    SELECT k AS event_type, t AS epoch_hour, x AS n_events,
           cusum_scaled, scale, is_alarm
    FROM {cusum_integer_sql(hourly)}
    """


@query(
    "cusum_event_bursts",
    oracle=_cusum_oracle(),
    tags=("changepoint", "cusum", "timeseries", "events"),
)
def cusum_event_bursts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Level-shift detection on hourly event-type series
    (operators.changepoint.cusum_integer): the CUSUM recursion
    max(0, S+x-k) is rewritten as cumsum-minus-prefix-min — two
    ordered-window aggregates, ONE event_type-keyed exchange, each
    series evaluated independently in its partition. The whole chart is
    scaled to BIGINT (slack = mean/4, threshold = mean as rationals), so
    both engines do exact integer arithmetic end-to-end — no float, no
    rounding alignment. Complements anomaly_mad_events: MAD flags single
    outlier hours, CUSUM flags sustained drifts."""
    from prajna_spark.operators.changepoint import cusum_integer

    ev = _events(spark, sf_dir)
    hourly = ev.groupBy(
        F.col("event_type"),
        F.floor(F.col("ts").cast("long") / 3600).cast("long").alias("epoch_hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    out = cusum_integer(hourly, "event_type", "epoch_hour", "n_events")
    return out.select(
        "event_type", "epoch_hour", "n_events", "cusum_scaled", "scale", "is_alarm"
    )


def _geo_oracle() -> str:
    from prajna_spark.operators.spatial import planar_pairs_sql

    pts = """(
      SELECT user_id AS id,
             3.7e1 + (CAST('0x' || substring(md5('geo|' || CAST(user_id AS VARCHAR)), 1, 6)
                      AS BIGINT) / 1.6777216e7) AS lat,
             -1.22e2 + (CAST('0x' || substring(md5('geo|' || CAST(user_id AS VARCHAR)), 7, 6)
                      AS BIGINT) / 1.6777216e7) AS lon
      FROM (SELECT DISTINCT user_id FROM events)
    )"""
    return (
        "\n    -- planar radius join replayed as naive all-pairs (same metric,\n"
        "    -- different plan): deterministic md5-derived coordinates\n"
        "    SELECT id_i AS user_i, id_j AS user_j, dist_km FROM "
        + planar_pairs_sql(pts, radius_km=10.0)
    )


@query(
    "geo_near_users",
    oracle=_geo_oracle(),
    tags=("spatial", "range-join", "grid", "events"),
)
def geo_near_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D spatial range join (operators.spatial.within_radius_pairs):
    all user pairs within 10 km, coordinates derived deterministically
    from user ids (md5 -> uniform box, the hash-gate spelling). Each
    point hashes to an r-sided grid cell; one side explodes to its 3x3
    neighborhood (constant fan-out) and candidates meet in a cell-id
    EQUI-join — candidate count scales with local density, never
    corpus size, vs the oracle's all-pairs spelling. Planar fixed-
    constant metric = pure IEEE arithmetic, so both engines agree
    bit-for-bit even at the radius boundary (haversine's libm sin/cos
    would not)."""
    from prajna_spark.operators.spatial import within_radius_pairs

    ev = _events(spark, sf_dir)
    h = F.md5(F.concat(F.lit("geo|"), F.col("user_id").cast("string")))
    pts = (
        ev.select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("id"),
            (
                F.lit(37.0)
                + F.conv(F.substring(h, 1, 6), 16, 10).cast("long")
                / F.lit(16777216.0)
            ).alias("lat"),
            (
                F.lit(-122.0)
                + F.conv(F.substring(h, 7, 6), 16, 10).cast("long")
                / F.lit(16777216.0)
            ).alias("lon"),
        )
    )
    return within_radius_pairs(pts, "id", "lat", "lon", radius_km=10.0).select(
        F.col("id_i").alias("user_i"), F.col("id_j").alias("user_j"), "dist_km"
    )


@query(
    "attribution_last_touch",
    oracle="""
    -- last-touch attribution: each purchase credits the user's most
    -- recent click/view at-or-before it, IF within 1 hour; otherwise
    -- 'direct'. Native ASOF picks the closest preceding touch; the
    -- tolerance masks (never falls through to) a farther one — the
    -- operator's documented reject-don't-fallthrough contract.
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS t_ts, event_type AS touch FROM events
      WHERE event_type IN ('click', 'view')
    ), m AS (
      SELECT p.event_id, p.value,
             CASE WHEN t.t_ts >= p.ts - INTERVAL 1 HOUR THEN t.touch END
               AS ch
      FROM p ASOF LEFT JOIN t
        ON p.user_id = t.user_id AND p.ts >= t.t_ts
    )
    SELECT coalesce(ch, 'direct') AS channel,
           count(*) AS n_conversions,
           (floor((sum(value)) * 1e6 + 5e-1) / 1e6) AS credited_value
    FROM m GROUP BY 1
    """,
    tags=("attribution", "asof-join", "events", "composition"),
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style last-touch attribution composed from the as-of
    operator (operators.asof.asof_join): every purchase is credited to
    the user's most recent click/view at-or-before it, but only when that
    touch is within a 1-hour lookback — farther matches become 'direct'
    (reject, not fall-through, so the window filter is applied AFTER the
    as-of pick on exact microsecond timestamps; integer-micros interval
    arithmetic keeps the boundary decision bit-identical cross-engine).
    Plan: one hash shuffle on user_id (the as-of carry), then a
    channel-cardinality aggregate — event-log scale never survives the
    first window."""
    from prajna_spark.functions.rounding import pround
    from prajna_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", F.col("event_type").alias("touch")
    )
    m = asof_join(
        p, t, on=["user_id"], ts="ts", right_cols=["touch"],
        include_right_ts=True,
    )
    credited = m.select(
        "value",
        F.coalesce(
            F.when(
                F.col("ts_asof") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"),
                F.col("touch_asof"),
            ),
            F.lit("direct"),
        ).alias("channel"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        pround(F.sum("value"), 6).alias("credited_value"),
    )


@query(
    "attribution_linear",
    oracle="""
    -- linear (multi-touch) attribution: every click/view in the hour
    -- before a purchase shares its credit equally; purchases with no
    -- touch in-window credit 'direct' fully. Shares are exact integer
    -- ratios evaluated as one IEEE division, so per-row credits agree
    -- bit-for-bit and the channel sums round-match at 6 decimals.
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS t_ts, event_type AS touch FROM events
      WHERE event_type IN ('click', 'view')
    ), c AS (
      SELECT p.event_id, p.value, t.touch
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.t_ts <= p.ts AND t.t_ts >= p.ts - INTERVAL 1 HOUR
    ), pc AS (
      SELECT event_id, value, touch, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(count(*)) OVER (PARTITION BY event_id) AS DOUBLE)
               AS n_tot
      FROM c GROUP BY 1, 2, 3
    ), credits AS (
      SELECT touch AS channel, n / n_tot AS share,
             value * (n / n_tot) AS vshare
      FROM pc
      UNION ALL
      SELECT 'direct', 1e0, value FROM p
      WHERE event_id NOT IN (SELECT event_id FROM c)
    )
    SELECT channel,
           (floor((sum(share)) * 1e6 + 5e-1) / 1e6) AS credited_conversions,
           (floor((sum(vshare)) * 1e6 + 5e-1) / 1e6) AS credited_value
    FROM credits GROUP BY 1
    """,
    tags=("attribution", "range-join", "events", "composition"),
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click/view within the hour
    before a purchase gets an equal slice of that conversion. The
    purchase side explodes to its two covering hour buckets and meets
    touches in a (user_id, bucket) EQUI-join — candidates are bounded by
    per-user-per-hour activity, never |purchases| x |touches| — then the
    exact interval predicate filters on microsecond timestamps. Credit
    shares ride a window over the same event_id grouping key (no second
    shuffle). 'direct' purchases (no in-window touch) arrive via LEFT
    ANTI on the candidate set."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value",
        F.col("ts").cast("long").alias("__t"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch"),
        F.expr("CAST(ts AS LONG) div 3600").alias("__b"),
    )
    pb = p.withColumn(
        "__b",
        F.explode(
            F.array(F.expr("__t div 3600 - 1"), F.expr("__t div 3600"))
        ),
    )
    cand = pb.join(
        t, (pb["__b"] == t["__b"]) & (pb["user_id"] == t["t_user"])
    ).where(
        (F.col("t_ts") <= F.col("ts"))
        & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
    ).select("event_id", "value", "touch")

    pc = (
        cand.groupBy("event_id", "value", "touch")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .withColumn(
            "n_tot",
            F.sum("n").over(Window.partitionBy("event_id")),
        )
    )
    touch_credits = pc.select(
        F.col("touch").alias("channel"),
        (F.col("n") / F.col("n_tot")).alias("share"),
        (F.col("value") * (F.col("n") / F.col("n_tot"))).alias("vshare"),
    )
    direct = (
        p.join(cand.select("event_id"), "event_id", "left_anti")
        .select(
            F.lit("direct").alias("channel"),
            F.lit(1.0).alias("share"),
            F.col("value").alias("vshare"),
        )
    )
    return (
        touch_credits.unionByName(direct)
        .groupBy("channel")
        .agg(
            pround(F.sum("share"), 6).alias("credited_conversions"),
            pround(F.sum("vshare"), 6).alias("credited_value"),
        )
    )


@query(
    "heavy_hitters_stream",
    oracle="""
    -- STREAMED heavy hitters share the batch twin's exact-count oracle
    -- verbatim: the delta store's merged bounds are a no-false-negative
    -- candidate certificate, and the confirmation pass counts the
    -- immutable source — so live == batch == brute force, hash-for-hash.
    WITH tot AS (SELECT CAST(count(*) AS DOUBLE) AS n_total FROM events)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n
    FROM events, tot
    GROUP BY user_id, n_total
    HAVING CAST(count(*) AS DOUBLE) > n_total * 7.5e-3
    """,
    tags=("sketch", "heavy-hitters", "streaming", "events", "pipeline"),
)
def heavy_hitters_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters through the STREAMED Misra-Gries store
    (streaming.heavyhitters_stream): readStream over events -> per-micro-
    batch MG summaries written to a delta store -> merged upper-bound
    candidates -> exact confirmation against the batch table. Upper
    bounds keep candidates a superset of the heavy hitters and the exact
    pass removes every false positive, so the streamed path reproduces
    the batch answer — which is why this shares heavy_hitters_users'
    plain HAVING oracle verbatim."""
    from prajna_spark.streaming.heavyhitters_stream import (
        heavy_hitters_from_store,
        start_incremental_mg,
    )
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("mg_stream_q", sf_dir)
    ev = events_readstream(spark, sf_dir).select("user_id")
    q = start_incremental_mg(
        ev, "user_id", m=266, store_path=f"{base}/store",
        checkpoint_path=f"{base}/ckpt",
    )
    q.awaitTermination()
    src = load_table(spark, "events", sf_dir)
    return heavy_hitters_from_store(
        src, spark, f"{base}/store", "user_id", phi=7.5e-3
    )


@query(
    "chi2_type_by_weekday",
    oracle="""
    -- chi-square independence screen: is event-type mix stable across
    -- ISO weekdays? Observed counts are exact BIGINTs; expected counts
    -- and per-cell contributions assemble from those integers in one
    -- fixed IEEE association, rounded only for display. Per-cell rows
    -- avoid any cross-row fp sum — the analyst sums contrib for the
    -- statistic (dof = (types-1)*(days-1)).
    WITH c AS (
      SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ), rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS r FROM c GROUP BY 1),
       ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS cc FROM c GROUP BY 1),
       n AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM c)
    SELECT c.event_type, c.dow, c.o,
           (floor((CAST(rt.r AS DOUBLE) * CAST(ct.cc AS DOUBLE)
                   / CAST(n.nn AS DOUBLE)) * 1e6 + 5e-1) / 1e6) AS expected,
           (floor((
              (CAST(c.o AS DOUBLE)
               - CAST(rt.r AS DOUBLE) * CAST(ct.cc AS DOUBLE)
                 / CAST(n.nn AS DOUBLE))
              * (CAST(c.o AS DOUBLE)
                 - CAST(rt.r AS DOUBLE) * CAST(ct.cc AS DOUBLE)
                   / CAST(n.nn AS DOUBLE))
              / (CAST(rt.r AS DOUBLE) * CAST(ct.cc AS DOUBLE)
                 / CAST(n.nn AS DOUBLE))
            ) * 1e6 + 5e-1) / 1e6) AS contrib
    FROM c JOIN rt USING (event_type) JOIN ct USING (dow), n
    """,
    tags=("stats", "chi-square", "events", "analytics"),
)
def chi2_type_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square contingency cells for event-type x ISO-weekday — the
    independence screen behind "did our traffic mix change on
    weekends?". The log collapses to a |types| x 7 table at the first
    aggregate; row/column/grand totals ride broadcasts; expected counts
    and (o-e)^2/e contributions are IEEE-exact from integer counts
    (identical association on both engines). Per-cell rows dodge the
    cross-row fp sum; dof = (types-1)*(days-1)."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    c = ev.groupBy(
        "event_type",
        (F.weekday("ts").cast("long") + 1).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    rt = c.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = c.groupBy("dow").agg(F.sum("o").alias("cc"))
    n = c.agg(F.sum("o").alias("nn"))
    e = (
        F.col("r").cast("double")
        * F.col("cc").cast("double")
        / F.col("nn").cast("double")
    )
    contrib = (F.col("o").cast("double") - e) * (
        F.col("o").cast("double") - e
    ) / e
    return (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "dow",
            "o",
            pround(e, 6).alias("expected"),
            pround(contrib, 6).alias("contrib"),
        )
    )


@query(
    "survival_user_retention",
    oracle="""
    -- Kaplan-Meier retention: per-user observed lifetime in whole days
    -- (first to last event); a user churns if silent for > 7 days
    -- before corpus end, else is censored. All risk-set arithmetic is
    -- integer; the survival product runs as exp(cumsum(ln(1 - d/n)))
    -- over the ascending-day window — libm ln/exp are bit-identical and
    -- the ordered running sum folds in the same sequence on both
    -- engines (the catalog's running-window precedent).
    WITH mx AS (
      SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS m FROM events
    ), u AS (
      SELECT user_id,
             CAST(floor(epoch(min(ts))) AS BIGINT) AS f,
             CAST(floor(epoch(max(ts))) AS BIGINT) AS l
      FROM events GROUP BY 1
    ), life AS (
      SELECT user_id, (l - f) // 86400 AS t,
             CASE WHEN (SELECT m FROM mx) - l > 604800 THEN 1 ELSE 0 END
               AS churn
      FROM u
    ), d AS (
      SELECT t, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(churn) AS BIGINT) AS ch
      FROM life GROUP BY 1
    ), n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM life),
    r AS (
      SELECT t, c, ch,
             CAST(nn - (sum(c) OVER (ORDER BY t) - c) AS BIGINT)
               AS at_risk
      FROM d, n
    )
    SELECT t AS day, at_risk AS n_at_risk, ch AS churned,
           (floor((CASE WHEN max(CASE WHEN ch = at_risk THEN 1 ELSE 0 END)
                          OVER (ORDER BY t) = 1 THEN 0e0
                   ELSE exp(sum(CASE WHEN ch < at_risk
                                THEN ln(1e0 - CAST(ch AS DOUBLE)
                                        / CAST(at_risk AS DOUBLE))
                                ELSE 0e0 END)
                            OVER (ORDER BY t)) END) * 1e6 + 5e-1) / 1e6)
             AS survival
    FROM r
    """,
    tags=("survival", "kaplan-meier", "retention", "events", "analytics"),
)
def survival_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user engagement — the censoring-
    aware retention readout (cohort matrices over-count churn for users
    we simply stopped observing): lifetime = days between a user's first
    and last event, churn = silent > 7 days before corpus end, everyone
    else censored at their lifetime. Risk sets are pure integer
    arithmetic over a |days|-row frame (the log reduces at the per-user
    aggregate); the KM product rides exp(cumsum(ln(1 - d/n))) on an
    ascending-day window, bit-identical cross-engine via libm; a fully
    saturated day (d == n) zeroes survival via an explicit absorbing
    flag (Spark's log(0) is NULL and windowed sums skip nulls — the
    naive spelling silently overstates later values; caught by the
    hypothesis differential)."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    u = ev.groupBy("user_id").agg(
        F.min("ts").cast("long").alias("f"),
        F.max("ts").cast("long").alias("l"),
    )
    mx = ev.agg(F.max("ts").cast("long").alias("m"))
    life = u.crossJoin(F.broadcast(mx)).select(
        F.expr("(l - f) div 86400").alias("t"),
        F.when(F.col("m") - F.col("l") > 604800, 1).otherwise(0).alias(
            "churn"
        ),
    )
    from prajna_spark.operators.stats import km_curve

    return km_curve(life, "t", "churn")


@query(
    "session_stats_gap30",
    oracle="""
    -- session-level product metrics from 30-minute-gap sessionization
    -- (gaps-and-islands: session starts where the per-user gap exceeds
    -- 30 min; (user_id, ts) is globally unique so the ordering is
    -- deterministic). Everything is integer micros/counts until the
    -- final display divisions.
    WITH o AS (
      SELECT user_id, epoch_us(ts) AS t,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts)
                       > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY t)
               AS BIGINT) AS sid, t
      FROM o
    ), per AS (
      SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
             max(t) - min(t) AS dur_us
      FROM sess GROUP BY 1, 2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
           (floor((CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                        AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1e6
                  + 5e-1) / 1e6) AS bounce_rate,
           (floor((CAST(sum(n_events) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE)) * 1e6 + 5e-1) / 1e6)
             AS avg_events,
           quantile_cont(CAST(dur_us AS DOUBLE), 0.5) / 1e6
             AS p50_duration_sec
    FROM per
    """,
    tags=("sessions", "islands", "events", "analytics"),
)
def session_stats_gap30(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level product metrics — bounce rate, events per session,
    median duration — from 30-minute-gap sessionization spelled as
    gaps-and-islands (lag + running sum over the user-keyed window; the
    window twin of the native session_window / applyInPandasWithState
    paths, and the spelling that works in plain batch SQL). All
    arithmetic is integer micros and counts until the final divisions;
    the median is an exact percentile over session-cardinality rows.
    One user-keyed shuffle; the log never leaves its first window."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy("ts")
    o = ev.select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.when(
            (
                F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
                > 1800000000
            )
            | F.lag("ts").over(wu).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    ws = (
        Window.partitionBy("user_id")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = o.select(
        "user_id", F.sum("new_s").over(ws).alias("sid"), "t"
    )
    per = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.max("t") - F.min("t")).alias("dur_us"),
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        pround(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("bounce_rate"),
        pround(
            F.sum("n_events").cast("double") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("avg_events"),
        (F.percentile(F.col("dur_us").cast("double"), 0.5) / F.lit(1e6)).alias(
            "p50_duration_sec"
        ),
    )


_MARKOV_TRANS_SQL = """
    seq AS (
      SELECT user_id, ts,
             CASE event_type WHEN 'purchase' THEN 'CONV'
                             ELSE event_type END AS state,
             CAST(coalesce(sum(CASE WHEN event_type = 'purchase'
                                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS j
      FROM events WHERE event_type IN ('click', 'view', 'purchase')
    ), steps AS (
      SELECT user_id, j, ts, state,
             coalesce(lag(state) OVER (PARTITION BY user_id, j
                                       ORDER BY ts), 'START') AS prev,
             row_number() OVER (PARTITION BY user_id, j
                                ORDER BY ts DESC) AS rdesc
      FROM seq
    ), trans AS (
      SELECT prev AS f, state AS t FROM steps
      UNION ALL
      SELECT state AS f, 'NULL' AS t FROM steps
      WHERE rdesc = 1 AND state <> 'CONV'
    ), cells AS (
      SELECT
        CAST(sum(CASE WHEN f='START' AND t='click' THEN 1 ELSE 0 END) AS DOUBLE) AS sa,
        CAST(sum(CASE WHEN f='START' AND t='view'  THEN 1 ELSE 0 END) AS DOUBLE) AS sb,
        CAST(sum(CASE WHEN f='START' AND t='CONV'  THEN 1 ELSE 0 END) AS DOUBLE) AS sc_,
        CAST(sum(CASE WHEN f='START'               THEN 1 ELSE 0 END) AS DOUBLE) AS sn,
        CAST(sum(CASE WHEN f='click' AND t='click' THEN 1 ELSE 0 END) AS DOUBLE) AS aa,
        CAST(sum(CASE WHEN f='click' AND t='view'  THEN 1 ELSE 0 END) AS DOUBLE) AS ab,
        CAST(sum(CASE WHEN f='click' AND t='CONV'  THEN 1 ELSE 0 END) AS DOUBLE) AS ac,
        CAST(sum(CASE WHEN f='click'               THEN 1 ELSE 0 END) AS DOUBLE) AS an,
        CAST(sum(CASE WHEN f='view'  AND t='click' THEN 1 ELSE 0 END) AS DOUBLE) AS ba,
        CAST(sum(CASE WHEN f='view'  AND t='view'  THEN 1 ELSE 0 END) AS DOUBLE) AS bb,
        CAST(sum(CASE WHEN f='view'  AND t='CONV'  THEN 1 ELSE 0 END) AS DOUBLE) AS bc,
        CAST(sum(CASE WHEN f='view'               THEN 1 ELSE 0 END) AS DOUBLE) AS bn
      FROM trans
    ), probs AS (
      SELECT sa/sn AS tsa, sb/sn AS tsb, sc_/sn AS tsc,
             aa/an AS taa, ab/an AS tab, ac/an AS tac,
             ba/bn AS tba, bb/bn AS tbb, bc/bn AS tbc
      FROM cells
    ), solved AS (
      SELECT *,
             (1e0 - taa) * (1e0 - tbb) - tab * tba AS det,
             (tac * (1e0 - tbb) + tab * tbc)
               / ((1e0 - taa) * (1e0 - tbb) - tab * tba) AS pa,
             (tbc * (1e0 - taa) + tba * tac)
               / ((1e0 - taa) * (1e0 - tbb) - tab * tba) AS pb
      FROM probs
    ), base AS (
      SELECT *, tsa * pa + tsb * pb + tsc AS ps FROM solved
    ), removals AS (
      SELECT 'click' AS channel,
             1e0 - (tsb * (tbc / (1e0 - tbb)) + tsc) / ps AS re
      FROM base
      UNION ALL
      SELECT 'view',
             1e0 - (tsa * (tac / (1e0 - taa)) + tsc) / ps
      FROM base
    ), tot AS (SELECT sum(re) AS sre FROM removals)
"""


@query(
    "attribution_markov_removal",
    oracle=f"""
    -- data-driven (Markov removal-effect) attribution: per-user
    -- journeys (reset after each purchase) build a START/click/view ->
    -- CONV/NULL transition matrix from INTEGER counts; with two
    -- transient states the absorbing-chain conversion probability has
    -- a closed form (Cramer), so the removal effect of each channel —
    -- 1 - P(conv | channel's inbound edges diverted to NULL)/P(conv) —
    -- is one fixed IEEE expression over integer ratios, exactly
    -- replayable with no iteration anywhere.
    WITH {_MARKOV_TRANS_SQL}
    SELECT channel,
           (floor(re * 1e6 + 5e-1) / 1e6) AS removal_effect,
           (floor((re / sre) * 1e6 + 5e-1) / 1e6) AS share
    FROM removals, tot
    """,
    tags=("attribution", "markov", "removal-effect", "events",
          "composition"),
)
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven attribution completing the trio (last-touch gives the
    final click everything, linear splits evenly, Markov removal asks
    the COUNTERFACTUAL: how much conversion disappears if a channel
    vanishes). Journeys segment per user at each purchase (a running
    purchase count over the user window); transitions between
    START/click/view and the absorbing CONV/NULL states reduce the log
    to a 12-cell integer table in one aggregate; and because only two
    transient states exist, the absorbing-chain solve is Cramer's rule
    — a closed-form IEEE expression both engines evaluate identically,
    no iteration. Removal diverts a channel's inbound edges to NULL
    (the standard formulation); shares normalize the two removal
    effects."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    touch = ev.where(
        F.col("event_type").isin("click", "view", "purchase")
    ).select(
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", "CONV")
        .otherwise(F.col("event_type"))
        .alias("state"),
        F.col("event_type").alias("et"),
    )
    wu = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = touch.withColumn(
        "j",
        F.coalesce(
            F.sum(F.when(F.col("et") == "purchase", 1).otherwise(0)).over(wu),
            F.lit(0),
        ).cast("long"),
    )
    wj = Window.partitionBy("user_id", "j").orderBy("ts")
    wjd = Window.partitionBy("user_id", "j").orderBy(F.col("ts").desc())
    steps = seq.select(
        "state",
        F.coalesce(F.lag("state").over(wj), F.lit("START")).alias("prev"),
        F.row_number().over(wjd).alias("rdesc"),
    )
    trans = steps.select(
        F.col("prev").alias("f"), F.col("state").alias("t")
    ).unionByName(
        steps.where(
            (F.col("rdesc") == 1) & (F.col("state") != "CONV")
        ).select(F.col("state").alias("f"), F.lit("NULL").alias("t"))
    )

    from prajna_spark.operators.stats import markov_removal_effects

    return markov_removal_effects(trans, "click", "view")


@query(
    "cuped_adjusted_value",
    oracle=f"""
    -- CUPED variance reduction: per-user post-period spend adjusted by
    -- the pre-period covariate, theta = cov(X,Y)/var(X) from INTEGER
    -- cent sufficient statistics (n*sxy - sx*sy over n*sxx - sx*sx —
    -- one IEEE division), sticky md5 variant assignment. Per-variant
    -- adjusted means and the pooled variance-reduction readout all
    -- assemble in fixed associations from exact integers.
    WITH u AS (
      SELECT user_id,
             CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-15'
                      THEN CAST(floor(value * 1e2 + 5e-1) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-15'
                      THEN CAST(floor(value * 1e2 + 5e-1) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ), a AS (
      SELECT user_id, x, y,
             CASE WHEN substring(md5('cuped1|' || CAST(user_id AS VARCHAR)), 1, 8) <= '7fffffff' THEN 'A' ELSE 'B' END AS variant
      FROM u
    ), g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(y * y) AS BIGINT) AS syy
      FROM a
    ), th AS (
      SELECT n, sx, sy,
             CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
             CAST(n * syy - sy * sy AS DOUBLE) AS t1,
             CAST(n * sxy - sx * sy AS DOUBLE) AS num,
             CAST(n * sxx - sx * sx AS DOUBLE) AS den
      FROM g
    ), v AS (
      SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(x) AS BIGINT) AS sxv, CAST(sum(y) AS BIGINT) AS syv
      FROM a GROUP BY 1
    )
    SELECT v.variant, v.n_users,
           (floor((CAST(v.syv AS DOUBLE) / CAST(v.n_users AS DOUBLE))
                  * 1e6 + 5e-1) / 1e6) AS raw_mean_cents,
           (floor((CAST(v.syv AS DOUBLE) / CAST(v.n_users AS DOUBLE)
                   - th.theta * (CAST(v.sxv AS DOUBLE)
                                 / CAST(v.n_users AS DOUBLE)
                                 - CAST(th.sx AS DOUBLE)
                                   / CAST(th.n AS DOUBLE)))
                  * 1e6 + 5e-1) / 1e6) AS adj_mean_cents,
           (floor(th.theta * 1e6 + 5e-1) / 1e6) AS theta,
           (floor((1e0 - (th.t1 - 2e0 * th.theta * th.num
                          + th.theta * th.theta * th.den) / th.t1)
                  * 1e6 + 5e-1) / 1e6) AS var_reduction
    FROM v, th
    """,
    tags=("experiments", "cuped", "variance-reduction", "events"),
)
def cuped_adjusted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (controlled-experiment using pre-experiment data) — the
    variance-reduction step every mature experimentation platform runs
    before the t-test: per-user post-period spend Y is adjusted by the
    pre-period covariate X (theta = cov(X,Y)/var(X), pooled), shrinking
    variance by corr^2 without biasing the treatment contrast. Cent
    sums keep X and Y exact BIGINTs; theta and every mean assemble in
    fixed IEEE associations, so both engines agree bit-for-bit before
    display rounding. Assignment is the sticky md5 gate shared with
    ab_test_purchase_conversion."""
    from prajna_spark.functions.rounding import pround
    from prajna_spark.pipeline.experiments import ab_assign

    ev = _events(spark, sf_dir)
    split = F.lit("2024-01-15").cast("timestamp")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < split, cents).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= split, cents).otherwise(0)).alias("y"),
    )
    a = u.withColumn("variant", ab_assign(F.col("user_id"), seed="cuped1"))
    # second moments in DECIMAL(38,0), with ONE OPERAND cast BEFORE the
    # multiply so the product itself runs in decimal: per-user cent sums
    # reach ~3e9 and x*y in int64 would wrap SILENTLY before a cast of
    # the product could widen it (r6 ADVICE; any int64*int64 fits
    # decimal(38,0) exactly — max ~8.5e37). DuckDB's BIGINT arithmetic
    # widens to HUGEINT on its own; both engines convert the same exact
    # integers to double once, identically.
    dec = "decimal(38,0)"
    g = a.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    sx_d, sy_d = F.col("sx").cast(dec), F.col("sy").cast(dec)
    num = (F.col("n") * F.col("sxy") - sx_d * sy_d).cast("double")
    den = (F.col("n") * F.col("sxx") - sx_d * sx_d).cast("double")
    t1 = (F.col("n") * F.col("syy") - sy_d * sy_d).cast("double")
    th = g.select(
        "n", "sx", (num / den).alias("theta"),
        t1.alias("t1"), num.alias("num"), den.alias("den"),
    )
    v = a.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("sxv"),
        F.sum("y").alias("syv"),
    )
    raw = F.col("syv").cast("double") / F.col("n_users").cast("double")
    adj = raw - F.col("theta") * (
        F.col("sxv").cast("double") / F.col("n_users").cast("double")
        - F.col("sx").cast("double") / F.col("n").cast("double")
    )
    vr = 1.0 - (
        F.col("t1")
        - 2.0 * F.col("theta") * F.col("num")
        + F.col("theta") * F.col("theta") * F.col("den")
    ) / F.col("t1")
    return v.crossJoin(F.broadcast(th)).select(
        "variant",
        "n_users",
        pround(raw, 6).alias("raw_mean_cents"),
        pround(adj, 6).alias("adj_mean_cents"),
        pround(F.col("theta"), 6).alias("theta"),
        pround(vr, 6).alias("var_reduction"),
    )


@query(
    "attribution_time_decay",
    oracle="""
    -- time-decay attribution: in-window touches weight by
    -- exp(-age/1800s), credit shares normalize per purchase; libm exp
    -- is engine-identical and the final rounding absorbs sum-order fp
    WITH p AS (
      SELECT event_id, user_id, ts, value FROM events
      WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts AS t_ts, event_type AS touch FROM events
      WHERE event_type IN ('click', 'view')
    ), c AS (
      SELECT p.event_id, p.value, t.touch,
             exp(-(CAST(epoch_us(p.ts) - epoch_us(t.t_ts) AS DOUBLE)
                   / 1e6) / 1.8e3) AS w
      FROM p JOIN t ON p.user_id = t.user_id
        AND t.t_ts <= p.ts AND t.t_ts >= p.ts - INTERVAL 1 HOUR
    ), tot AS (
      SELECT event_id, sum(w) AS wt FROM c GROUP BY 1
    ), credits AS (
      SELECT c.touch AS channel, c.w / tot.wt AS share,
             c.value * (c.w / tot.wt) AS vshare
      FROM c JOIN tot USING (event_id)
      UNION ALL
      SELECT 'direct', 1e0, value FROM p
      WHERE event_id NOT IN (SELECT event_id FROM c)
    )
    SELECT channel,
           (floor((sum(share)) * 1e6 + 5e-1) / 1e6) AS credited_conversions,
           (floor((sum(vshare)) * 1e6 + 5e-1) / 1e6) AS credited_value
    FROM credits GROUP BY 1
    """,
    tags=("attribution", "time-decay", "events", "composition"),
)
def attribution_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay attribution completing the family (last-touch, linear,
    Markov removal, time-decay): each in-window touch weights by
    exp(-age/30min), so a click two minutes before purchase out-credits
    a view fifty minutes earlier — the recency prior between last-touch
    (all) and linear (none). Same bucketed (user, hour) candidate
    equi-join as the linear variant; weights use libm exp on exact
    microsecond ages, shares normalize per purchase."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value",
        F.col("ts").cast("long").alias("__t"),
    )
    t = ev.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch"),
        F.expr("CAST(ts AS LONG) div 3600").alias("__b"),
    )
    pb = p.withColumn(
        "__b",
        F.explode(
            F.array(F.expr("__t div 3600 - 1"), F.expr("__t div 3600"))
        ),
    )
    w = F.exp(
        -(
            (F.unix_micros("ts") - F.unix_micros("t_ts")).cast("double")
            / F.lit(1e6)
        )
        / F.lit(1.8e3)
    )
    cand = (
        pb.join(t, (pb["__b"] == t["__b"]) & (pb["user_id"] == t["t_user"]))
        .where(
            (F.col("t_ts") <= F.col("ts"))
            & (F.col("t_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        )
        .select("event_id", "value", "touch", w.alias("w"))
    )
    tot = cand.groupBy("event_id").agg(F.sum("w").alias("wt"))
    credits = cand.join(tot, "event_id").select(
        F.col("touch").alias("channel"),
        (F.col("w") / F.col("wt")).alias("share"),
        (F.col("value") * (F.col("w") / F.col("wt"))).alias("vshare"),
    ).unionByName(
        p.join(cand.select("event_id"), "event_id", "left_anti").select(
            F.lit("direct").alias("channel"),
            F.lit(1.0).alias("share"),
            F.col("value").alias("vshare"),
        )
    )
    return credits.groupBy("channel").agg(
        pround(F.sum("share"), 6).alias("credited_conversions"),
        pround(F.sum("vshare"), 6).alias("credited_value"),
    )


@query(
    "sequence_pair_support",
    oracle="""
    -- ordered-pair sequence mining: support of "A then later B" = users
    -- with some A event strictly before some B event, which reduces to
    -- min_ts(A) < max_ts(B) per user — so the log collapses to 5 rows
    -- per user (per-type min/max) and support counting is a narrow
    -- per-user pair join. Pure integer/boolean arithmetic.
    WITH s AS (
      SELECT user_id, event_type, min(ts) AS mn, max(ts) AS mx
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type AS first_type, b.event_type AS then_type,
             a.user_id
      FROM s a JOIN s b
        ON b.user_id = a.user_id AND a.event_type <> b.event_type
       AND a.mn < b.mx
    ), n AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE) AS nu
             FROM events)
    SELECT first_type, then_type,
           CAST(count(*) AS BIGINT) AS n_users,
           (floor((CAST(count(*) AS DOUBLE) / nu) * 1e6 + 5e-1) / 1e6)
             AS support
    FROM pairs, n GROUP BY first_type, then_type, nu
    """,
    tags=("sequence-mining", "events", "analytics"),
)
def sequence_pair_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-pair sequential pattern support — the first level of a
    PrefixSpan-style miner and the statistic behind "do users who error
    later purchase?": support(A then B) = fraction of users with an A
    event strictly before some B event. The existential "some A before
    some B" collapses to min_ts(A) < max_ts(B), so the event log reduces
    to |users| x |types| min/max rows in one aggregate and the pair test
    is a per-user self-join over 5 rows — no event-cardinality join
    anywhere, the property that keeps sequence mining linear at 100 TB."""
    from prajna_spark.functions.rounding import pround

    ev = _events(spark, sf_dir)
    s = ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("mn"), F.max("ts").alias("mx")
    )
    b = s.select(
        F.col("user_id").alias("u2"),
        F.col("event_type").alias("then_type"),
        F.col("mx").alias("mx2"),
    )
    pairs = s.join(
        b,
        (F.col("u2") == F.col("user_id"))
        & (F.col("event_type") != F.col("then_type"))
        & (F.col("mn") < F.col("mx2")),
    )
    n = ev.agg(F.countDistinct("user_id").cast("double").alias("nu"))
    return (
        pairs.groupBy(
            F.col("event_type").alias("first_type"), "then_type"
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .crossJoin(F.broadcast(n))
        .select(
            "first_type",
            "then_type",
            "n_users",
            pround(F.col("n_users").cast("double") / F.col("nu"), 6).alias(
                "support"
            ),
        )
    )


@query(
    "hist_stream_quantiles",
    oracle=_HIST_SKETCH_ORACLE,
    tags=("sketch", "quantiles", "histogram", "streaming",
          "continuous-aggregate"),
)
def hist_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 estimates through the STREAMED histogram store
    (streaming.hist_stream) — the third streamed sketch, completing the
    family (KMV distincts, MG heavy keys, histogram distributions):
    per-micro-batch bin partials land under their own ingest_batch
    partition (dynamic partition overwrite makes replays rewrite, not
    double-count — addition is not idempotent, unlike the KMV merge),
    and the read side sums bins and interpolates. Shares the batch
    twin's oracle VERBATIM, so live == one-shot batch at any clean
    drain point, hash-for-hash."""
    from prajna_spark.streaming.hist_stream import (
        quantiles_from_store,
        start_incremental_histogram,
    )
    from prajna_spark.streaming.telemetry import events_readstream

    tune(spark)
    base = work_dir("hist_stream_q", sf_dir)
    ev = events_readstream(spark, sf_dir).select("event_type", "value")
    q = start_incremental_histogram(
        ev, ["event_type"], "value", 0.0, 1000.0, 100,
        f"{base}/store", f"{base}/ckpt",
    )
    q.awaitTermination()
    return quantiles_from_store(
        spark, f"{base}/store", ["event_type"], [0.5, 0.95, 0.99],
        0.0, 1000.0, 100,
    )
