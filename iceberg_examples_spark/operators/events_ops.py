"""Event-stream operators over the ``events`` table (batch expressions of
the streaming-shaped surface, SURVEY §2.8-2.9): latest-per-key dedup,
tumbling-window rollups, JSON property extraction, sessionization.

Scale design: the window rollup and dedup shuffle once on their natural
keys (window+type / user_id); value sums use the exact scaled-integer
formulation so results are partitioning-independent. The same logic runs
under Structured Streaming via ``streaming/rollup.py`` — identical
groupBy(window(...)) expression, plus watermarking.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_examples_spark.catalog import load_table
from iceberg_examples_spark.functions.exact import money_cents_sql, money_sum_sql


def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest event per user: row_number over (user_id, ts DESC) — the
    canonical window dedup. Deterministic tie-break on event_id. At scale
    this is one hash-shuffle on user_id; AQE splits skewed users."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type", "value")
    )


def window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour rollup per event_type: F.window aligned to the hour
    (≡ date_trunc('hour')), count + exact value sum."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(money_sum_sql("value", scale=100)).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction from the ``props`` string column
    (get_json_object — JVM-side, no inference pass) aggregated per type."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def sessionize(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``. lag + conditional cumsum over
    a per-user window — one shuffle on user_id. Returns one row per
    session with bounds and size. (Streaming twin: ``session_window`` /
    ``applyInPandasWithState`` in streaming/rollup.py.)"""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000  # exact integer µs on both engines
    # ts is TIMESTAMP_NTZ; unix_micros needs TIMESTAMP — cast through it
    # (session tz is pinned UTC by load_table, so this is exact)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    with_flag = ev.withColumn(
        "new_session",
        (us - F.lag(us, 1).over(w) > gap_us).cast("int"),
    ).withColumn(
        "new_session", F.coalesce(F.col("new_session"), F.lit(1))
    )
    with_id = with_flag.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        with_id.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via the built-in ``session_window``
    grouping expression (Spark-native sessionization; the reference has no
    streaming surface — SURVEY §2.8 extension). Semantics: a session's
    window is ``[first_ts, last_ts + gap)``; an event exactly ``gap`` after
    the previous one starts a NEW session (half-open interval — this is the
    one boundary case where it differs from ``sessionize``'s ``> gap``
    rule, and the oracle encodes ``>= gap`` accordingly).

    Scale: one hash shuffle on user_id; session merging happens inside the
    aggregation operator (no self-join, no window function), and the same
    expression runs unchanged under Structured Streaming
    (streaming/rollup.stream_session_window — verified equal)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window rollup: 1-hour windows sliding every 15 minutes, so
    each event lands in 4 overlapping windows — the smoothed-rate shape
    tumbling windows can't express (window_hourly is the tumbling twin;
    the same expression runs under a watermark in streaming). The oracle
    reproduces Spark's epoch-aligned window assignment arithmetically
    (4 candidate starts per event, keep those within 1 hour).

    Scale: F.window expands each row to its window memberships before the
    partial aggregation — a x4 map-side blowup that the combiner
    collapses; the exchange still carries only |windows|x|types| rows."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(money_sum_sql("value", scale=100)).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def locf_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: each event carries the
    user's most recent purchase value (NULL until their first purchase) —
    `last(..., ignorenulls=True)` over an unbounded-preceding frame, the
    IGNORE NULLS window surface and the standard sparse→dense gap-fill
    for feature/time-series pipelines. The sparse column is constructed
    (value only on purchase events), so the NULL-skipping behavior is
    actually exercised on every row between purchases.

    Scale: one shuffle on user_id; the running carry is a frame-bounded
    window (no self-join, no re-scan)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    sparse = ev.withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sparse.select(
        "user_id",
        "event_id",
        "event_type",
        F.last("purchase_value", ignorenulls=True)
        .over(w)
        .alias("locf_value"),
    )


FUNNEL = ("view", "click", "purchase")


def funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel over the event log (view → click →
    purchase): a user advances to stage k+1 only with an event of that
    type strictly AFTER their stage-k entry time — the product-analytics
    staple (and the one naive per-type counts get wrong by ignoring
    order). Output per stage: users reaching it + the exact summed lag
    from the previous stage in microseconds (BIGINT — cross-engine
    exact; an avg would be one float div away for the reader).

    Plan: one aggregation per stage over (user, type)-filtered events,
    each joined back user-keyed — k tiny hash joins on user_id for a
    k-stage funnel, each stage's frame only shrinking. No window over
    the full log, no per-user event arrays materialized. s1 and s2 are
    STAGED (each has two consumers: the next stage's join and its own
    count/lag row) — unstaged, Catalyst re-derived each from a fresh
    events scan per branch, reading the log ~5× instead of 3×; at scale
    the events re-scans are the dominant cost while the staged frames
    are user-sized (measured neutral at sf0.1, where the saved scans
    and the two materialization jobs cancel)."""
    from iceberg_examples_spark.checkpointing import stage

    ev = load_table(spark, sf_dir, "events")
    s1 = stage(
        ev.filter(F.col("event_type") == FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
        "funnel-s1",
    )
    s2 = stage(
        ev.filter(F.col("event_type") == FUNNEL[1])
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2")),
        "funnel-s2",
    )
    s3 = (
        ev.filter(F.col("event_type") == FUNNEL[2])
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t2")
        .agg(F.min("ts").alias("t3"))
    )
    lag_us = "cast(unix_micros(cast({b} as timestamp)) - unix_micros(cast({a} as timestamp)) as bigint)"
    rows = [
        s1.agg(
            F.lit(1).cast("bigint").alias("stage"),
            F.lit(FUNNEL[0]).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
            F.lit(0).cast("bigint").alias("sum_lag_us"),
        ),
        s2.agg(
            F.lit(2).cast("bigint").alias("stage"),
            F.lit(FUNNEL[1]).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.expr(lag_us.format(a="t1", b="t2"))).alias("sum_lag_us"),
        ),
        s3.agg(
            F.lit(3).cast("bigint").alias("stage"),
            F.lit(FUNNEL[2]).alias("event_type"),
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.expr(lag_us.format(a="t2", b="t3"))).alias("sum_lag_us"),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users are cohorted by the Monday
    week of their FIRST event; each (cohort_week, week_offset) cell
    counts distinct cohort members active that week — the
    did-they-come-back curve (cohort analysis, the OLAP companion of the
    funnel). All bucketing is integer/date arithmetic (date_trunc to
    Monday weeks, day-diff div 7), identical in both engines.

    Plan: ONE user-keyed aggregate computes each user's cohort week AND
    their distinct active-week set together (collect_set is bounded by
    the span's week count, ~tens of entries — never data-sized); the
    exploded (user, week) rows are distinct by construction, so the
    final (cohort, offset) cell is a plain COUNT — no count_distinct
    expand, no join back onto the events log. vs the previous
    formulation (first-event agg + broadcast join onto events +
    count_distinct): one shuffle of the events table eliminated and the
    distinct-expand exchange replaced by a partial-agg count; measured
    0.45 → 0.27 s at sf0.1, and at 100 TB the removed events-sized join
    is the dominant saving."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_user = ev.groupBy("user_id").agg(
        F.expr("cast(date_trunc('week', min(ts)) as date)").alias(
            "cohort_week"
        ),
        F.expr("collect_set(cast(date_trunc('week', ts) as date))").alias(
            "weeks"
        ),
    )
    return (
        per_user.selectExpr("cohort_week", "explode(weeks) as w")
        .selectExpr(
            "cohort_week",
            "cast(datediff(w, cohort_week) div 7 as bigint) as week_offset",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


TRAJ_BINS = 16
TRAJ_SCALE = 100  # event values are 2-dp fixed decimals


def trajectory_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-behavior trajectory similarity (the REPOSE/trajectory-search
    family, reduced to its relational core): each user's event-value
    series is resampled onto a fixed time grid (TRAJ_BINS equal slices
    of the global time span — resampling is what makes trajectories of
    different lengths comparable and is the standard first step of any
    distributed trajectory system), then profile distance = summed
    squared difference of binned means, computed in INTEGER arithmetic:
    each bin's mean is the truncating fixed-point ``(sum*1000) div n``
    (deterministic in both engines, no float ever), then d-squared
    summed. The fixed-point-before-square order is deliberate — cross-
    multiplying exact rationals first looks more precise but overflows
    BIGINT at sf0.1 ((s*n)^2 ~ 1.2e19 > 2^63); the 1e-3-cent mean
    granularity loses nothing measurable and bounds every term below
    2^51. Empty bins mean 0 (one-empty compares against a 0 baseline). Pairs are
    bounded (adjacent user ids) — the measure is the point; candidate
    generation at scale is bucketing/LSH's job, as with fuzzy_match.
    Plan: one grouped aggregate to (user × bin) cells, one collect to
    fixed-width profiles, a self-join on adjacent ids, one fold."""
    ev = load_table(spark, sf_dir, "events")
    B = TRAJ_BINS
    cells = (
        ev.select(
            "user_id",
            F.expr(
                "unix_micros(cast(ts as timestamp))"
            ).alias("us"),
            F.expr(money_cents_sql("value", TRAJ_SCALE)).alias("v"),
        )
        .crossJoin(
            F.broadcast(
                ev.agg(
                    F.expr(
                        "unix_micros(cast(min(ts) as timestamp))"
                    ).alias("lo_us"),
                    F.expr(
                        "unix_micros(cast(max(ts) as timestamp)) - "
                        "unix_micros(cast(min(ts) as timestamp)) + 1"
                    ).alias("span_us"),
                )
            )
        )
        .select(
            "user_id",
            F.expr(f"cast((us - lo_us) * {B} div span_us as int)").alias(
                "bin"
            ),
            "v",
        )
        .groupBy("user_id", "bin")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    prof = cells.groupBy("user_id").agg(
        F.collect_list(F.struct("bin", "s", "n")).alias("cells")
    ).select(
        "user_id",
        F.expr(
            f"transform(sequence(0, {B - 1}), b -> coalesce(element_at("
            "map_from_entries(transform(cells, c -> struct(c.bin, c.s))),"
            " b), 0L))"
        ).alias("ss"),
        F.expr(
            f"transform(sequence(0, {B - 1}), b -> coalesce(element_at("
            "map_from_entries(transform(cells, c -> struct(c.bin, c.n))),"
            " b), 0L))"
        ).alias("ns"),
    )
    a, b = prof.alias("a"), prof.alias("b")
    dist = (
        f"aggregate(sequence(1, {B}), 0L, (acc, i) -> acc + "
        "((case when element_at(a.ns, i) = 0 then 0L else element_at(a.ss, i) * 1000 div element_at(a.ns, i) end) - (case when element_at(b.ns, i) = 0 then 0L else element_at(b.ss, i) * 1000 div element_at(b.ns, i) end)) * "
        "((case when element_at(a.ns, i) = 0 then 0L else element_at(a.ss, i) * 1000 div element_at(a.ns, i) end) - (case when element_at(b.ns, i) = 0 then 0L else element_at(b.ss, i) * 1000 div element_at(b.ns, i) end)))"
    )
    return (
        a.join(b, F.col("b.user_id") == F.col("a.user_id") + 1)
        .select(
            F.col("a.user_id").alias("user_a"),
            F.col("b.user_id").alias("user_b"),
            F.expr(dist).alias("sq_dist_scaled"),
        )
    )


def rolling_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval window frame — per-user rolling 24-hour activity
    (count + exact value sum over ``RANGE INTERVAL 24 HOURS PRECEDING``):
    the time-series frame that row-count frames cannot express (rows/day
    varies per user). Spark's RANGE frame over an event-time ORDER BY
    matches DuckDB's interval RANGE exactly when the boundary arithmetic
    is integer microseconds — the frame is [ts − 24h, ts], both ends
    inclusive, and value sums stay scaled BIGINT.

    Plan: one shuffle by user, per-user ordered frame scan — the
    standard streaming-compatible shape (the watermarer's batch twin);
    at 100 TB the partition key is the entity, never a global sort."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("us"),
        F.expr(money_cents_sql("value")).alias("cents"),
    )
    day_us = 24 * 3600 * 1_000_000
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-day_us, 0)
    )
    return base.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).alias("n_24h"),
        F.sum("cents").over(w).alias("cents_24h"),
    )
