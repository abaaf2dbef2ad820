"""Structured Streaming operators (SURVEY §2.8 extension surface).

The reference has no streaming; this module supplies the streaming-shaped
surface a modern lakehouse pipeline needs, built on Structured Streaming:

- :func:`stream_window_hourly` — watermarked tumbling-window rollup; the
  exact streaming twin of ``events_ops.window_hourly`` (same groupBy
  expression), driven here from a file source to completion so its result
  is comparable against the batch oracle.
- :func:`stream_dedup_latest` — ``dropDuplicates`` on event_id with a
  watermark: the streaming exactly-once-per-key ingestion guard.
- :func:`stream_sessionize_stateful` — ``applyInPandasWithState``
  per-user session accumulation (custom stateful operator shape: state
  schema, timeout handling, incremental emission).

Production shape: ``readStream`` from Kafka/files with the same
transformations, ``writeStream`` with ``foreachBatch`` into the
snapshot-committing table layer (catalog.LocalTable / Iceberg) for
exactly-once sinks. Tests drive everything with the memory sink +
``processAllAvailable`` (synchronous, hermetic).
"""

from __future__ import annotations

import math
import os
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from iceberg_examples_spark.catalog import load_table
from iceberg_examples_spark.functions.exact import money_cents_sql, money_sum_sql

_SHUFFLE_KEY = "spark.sql.shuffle.partitions"
# One state partition per this many bytes of streaming input. Smaller than
# the 128 MiB scan-split default on purpose: state rows are narrower than
# their source rows, and each extra state partition costs a task + a state
# store commit EVERY micro-batch, so the crossover to "more partitions" sits
# higher than it does for a one-shot batch scan.
_STATE_PARTITION_TARGET_BYTES = 32 << 20


def _tree_bytes(*paths: str) -> int:
    """Total on-disk bytes under the given files/directories (0 for paths
    that don't exist yet — callers may pass a landing dir pre-creation)."""
    total = 0
    for p in paths:
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                total += sum(
                    os.path.getsize(os.path.join(root, f)) for f in files
                )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    return total


@contextmanager
def sized_state_partitions(spark: SparkSession, *paths: str):
    """Scope ``spark.sql.shuffle.partitions`` to the streaming input volume
    for the duration of one streaming run.

    Stateful streaming is the one plan shape AQE cannot right-size: the
    state-store partition count is frozen from this conf when a NEW
    checkpoint runs its first batch, and every micro-batch thereafter pays
    one task + one state-store commit PER PARTITION regardless of row
    volume. (An EXISTING checkpoint keeps the count it was created with —
    Spark reads it back from the checkpoint metadata — so entering this
    scope around a durable-checkpoint restart is a no-op, by design.)
    Batch plans inside the same scope are unaffected in practice: AQE
    still coalesces their post-shuffle partitions by size.

    Sizing rule: one state partition per ~32 MiB of input, clamped to
    [4, session default]. The clamp means the scope can only ever REDUCE
    the count below the operator's configured default — at cluster scale
    (input ≫ default × 32 MiB) it resolves to the session default and is
    a no-op; raising parallelism for 100 TB inputs is the session
    owner's knob, not this helper's. The conf is restored on exit
    (exception-safe) so batch queries in the same session keep their
    configured parallelism."""
    default = int(spark.conf.get(_SHUFFLE_KEY))
    n = max(
        4,
        min(
            default,
            math.ceil(_tree_bytes(*paths) / _STATE_PARTITION_TARGET_BYTES),
        ),
    )
    spark.conf.set(_SHUFFLE_KEY, str(n))
    try:
        yield n
    finally:
        spark.conf.set(_SHUFFLE_KEY, str(default))


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet with the same ns→µs
    timestamp normalization as the batch path (catalog.load_table)."""
    try:  # defensive: the caller's session may lack these (see catalog.py)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    stream = (
        spark.readStream.schema(batch.schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # Watermarks require the event-time column to be TIMESTAMP (LTZ) —
    # TIMESTAMP_NTZ is rejected with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.
    # The testdata arrives as either parquet TIMESTAMP(MICROS, ntz) (read
    # as TIMESTAMP_NTZ) or, under legacy nanosAsLong, raw int64 nanos.
    # Normalize both to LTZ; with the session tz pinned to UTC above the
    # ntz→ltz cast is an exact relabeling, and every output column below
    # is cast back to NTZ before leaving the streaming query, matching
    # the batch surface the DuckDB oracle sees.
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _hourly_rollup(ev: DataFrame) -> DataFrame:
    """The watermarked tumbling-hour rollup shared by the memory-sink and
    table-sink streaming queries (and semantically identical to the batch
    events_ops.window_hourly — the same oracle verifies all three)."""
    return (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(money_sum_sql("value", scale=100)).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def _run_to_memory(result: DataFrame, mode: str) -> DataFrame:
    """Execute a streaming query to completion against the memory sink and
    return the materialized table. Hermetic: unique sink name, query
    stopped before returning."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = (
        result.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    spark = result.sparkSession
    return spark.table(name)


def stream_window_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window rollup with a 1-hour watermark, run to
    completion. Complete output mode retains all window state, so the
    final table equals the batch rollup — which is exactly what the
    DuckDB oracle checks (same SQL as window_hourly)."""
    agg = _hourly_rollup(_events_stream(spark, sf_dir))
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        return _run_to_memory(agg, "complete")


def stream_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion dedup: dropDuplicates on event_id under a
    watermark (state expires 1 hour past the watermark — bounded memory
    forever, the streaming answer to exact dedup)."""
    ev = _events_stream(spark, sf_dir)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        out = _run_to_memory(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))


def stream_sessionize_stateful(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    session accumulation. A session CLOSES (and is emitted) when a later
    event arrives more than the gap after it; the user's final session
    stays open in state — so with the whole file processed in one
    microbatch, the output is exactly the batch sessionization minus each
    user's last (still-open) session, which is what the DuckDB oracle
    computes. (A production deployment adds an event-time timeout to flush
    idle sessions; emission timing then depends on the trigger clock,
    which is why the declared query uses the deterministic formulation.)"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        # state: (session_start_us, session_end_us, n_events)
        sessions = []
        if state.exists:
            cur_start, cur_end, cur_n = state.get
        else:
            cur_start = cur_end = None
            cur_n = 0
        rows = pd.concat(list(pdfs), ignore_index=True)
        if len(rows):
            rows = rows.sort_values(["ts", "event_id"])
            for ts in rows["ts"]:
                us = int(ts.value // 1000)  # pandas ns → µs
                if cur_start is None:
                    cur_start, cur_end, cur_n = us, us, 1
                elif us - cur_end > gap_us:
                    sessions.append((user_id, cur_start, cur_end, cur_n))
                    cur_start, cur_end, cur_n = us, us, 1
                else:
                    cur_end, cur_n = us, cur_n + 1
        if cur_start is not None:
            state.update((cur_start, cur_end, cur_n))
        if sessions:
            yield pd.DataFrame(
                sessions,
                columns=["user_id", "start_us", "end_us", "n_events"],
            )

    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_id")
    result = ev.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, start_us long, end_us long, n_events long",
        stateStructType="start_us long, end_us long, n_events long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        return _run_to_memory(result, "append")


def stream_to_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming sink: the windowed rollup committed into the
    snapshot-versioned table layer via foreachBatch — the production sink
    shape (stream → aggregate → atomic table commit per epoch). Complete
    mode + overwrite commit per batch means the final snapshot equals the
    batch rollup, which the window_hourly oracle verifies."""
    from iceberg_examples_spark.catalog import LocalTable

    from iceberg_examples_spark.catalog import scratch_dir

    table = LocalTable(spark, scratch_dir(sf_dir, "stream_sink", fresh=True))

    agg = _hourly_rollup(_events_stream(spark, sf_dir))

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        table.overwrite(batch_df)

    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(commit)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return table.read()


def stream_wap_branch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Write-Audit-Publish onto a branch — Iceberg's
    ``spark.wap.branch`` pattern for streams: every microbatch of the
    complete-mode hourly rollup REPLACES the audit branch's head
    (``overwrite_branch``: staged commit, parent = branch head, ref moved
    in the same CAS), so main's readers never see in-flight streaming
    state; when the stream drains, the audit gate checks main is still
    untouched and ``fast_forward`` lands the audited head on main
    atomically. Overwrite-branch commits collapse the epoch chain
    (each epoch re-parents to the fork point — see
    ``LocalTable.overwrite_branch``), so a long stream pins ONE branch
    snapshot rather than one table copy per epoch, and fast_forward
    lands only the head; the superseded epochs are unpinned staged
    snapshots reclaimed by the post-publish
    ``expire_snapshots(max_staged_age_s=0)`` epilogue below (safe here:
    the stream has drained, no writer is active). Final main state = the
    batch rollup, verified by the same oracle as ``window_hourly`` /
    ``stream_to_table`` — so a leak of branch rows into main before
    publish, or a lost epoch, both fail loudly (the in-query gate
    raises; the hash mismatches)."""
    from iceberg_examples_spark.catalog import LocalTable, scratch_dir

    agg = _hourly_rollup(_events_stream(spark, sf_dir))
    table = LocalTable(spark, scratch_dir(sf_dir, "stream_wap", fresh=True))
    table.create(spark.createDataFrame([], agg.schema))
    table.create_branch("audit")

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        table.overwrite_branch("audit", batch_df)

    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        q = (
            agg.writeStream.outputMode("complete")
            .foreachBatch(commit)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    if table.read().count() != 0:  # the audit: main must be untouched
        raise RuntimeError("branch rows leaked into main before publish")
    table.fast_forward("audit")
    # WAP epilogue: reclaim the superseded (collapsed-out) epoch snapshots
    table.expire_snapshots(max_staged_age_s=0.0)
    return table.read()


def stream_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert sink: each microbatch is reduced to its latest
    row per user and MERGEd into the snapshot-versioned profile table via
    ``foreachBatch`` — the production exactly-once CDC ingestion shape
    (stream → per-batch key reduction → keyed merge commit per epoch),
    the streaming twin of the batch ``cdc_pipeline``.

    The merge guard (``s.last_ts, s.last_event_id``) ≥ (``t.…``) makes the
    upsert idempotent and batch-count-invariant: whether the file source
    delivers one microbatch or many, the final table is the per-user
    argmax by (ts, event_id), which is exactly what the DuckDB oracle
    computes. State stays in the table (bounded by |users|), not in the
    streaming state store.

    Scale: the per-batch reduction is one shuffle of the batch (not the
    table); the merge joins table × reduced-batch on user_id — with a
    small CDC batch Catalyst broadcasts the batch side, never moving the
    table; each epoch commits one snapshot (audit log + time travel for
    free)."""
    from pyspark.sql import Window

    from iceberg_examples_spark.catalog import LocalTable, scratch_dir
    from iceberg_examples_spark.operators.mutations import merge_upsert

    table = LocalTable(spark, scratch_dir(sf_dir, "cdc_merge_sink", fresh=True))
    ev = _events_stream(spark, sf_dir)

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "user_id",
                F.col("ts").cast("timestamp_ntz").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
                "event_type",
                "value",
            )
        )
        if not table.exists():
            table.create(latest)
            return
        newer = (F.col("s.last_ts") > F.col("t.last_ts")) | (
            (F.col("s.last_ts") == F.col("t.last_ts"))
            & (F.col("s.last_event_id") >= F.col("t.last_event_id"))
        )
        table.overwrite(
            merge_upsert(table.read(), latest, ["user_id"], newer)
        )

    q = ev.writeStream.outputMode("append").foreachBatch(commit).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return table.read()


def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization with the built-in ``session_window``
    expression — the exact streaming twin of
    ``events_ops.session_window_agg`` (same groupBy expression; complete
    output mode retains all session state so the final table equals the
    batch result, which the shared DuckDB oracle verifies).

    Production shape: append mode + watermark, so only closed sessions
    emit and state stays bounded; complete mode here makes the hermetic
    run comparable to the batch oracle. Session merging is handled by the
    stateful session-window operator — one shuffle on user_id, state is
    one (start, end, count) tuple per open session."""
    ev = _events_stream(spark, sf_dir)
    agg = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("session_start").cast("timestamp_ntz").alias("session_start"),
            F.col("session_end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        return _run_to_memory(agg, "complete")


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition:
    click→purchase attribution (same user, purchase within 10 minutes of
    the click). Both sides are watermarked so the state store can evict
    clicks older than the watermark minus the join range — the canonical
    bounded-state stream-stream join.

    Scale: state is O(events inside the watermark horizon), partitioned by
    user_id; the time-range predicate bounds how long a click is
    join-eligible. Run hermetically to completion in append mode; the
    result is the full inner join (all data in one microbatch), which the
    DuckDB oracle computes as a plain batch join."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        ),
        "inner",
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("delay_us"),
    )
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        return _run_to_memory(joined, "append")


def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: the event stream joins the static
    customer dimension (broadcast — re-read per microbatch, so dimension
    updates are picked up between batches; the canonical streaming
    enrichment shape), then a grouped rollup per (nation, event_type) in
    complete mode. Run to completion, so the result equals the batch
    join+aggregate the DuckDB oracle computes.

    At scale: the static side stays a broadcast (no stream repartition);
    state is bounded by |nations| x |event types|."""
    ev = _events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    joined = ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_nationkey", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(money_sum_sql("value", scale=100)).alias("sum_value"),
    )
    with sized_state_partitions(spark, f"{sf_dir}/events.parquet"):
        return _run_to_memory(agg, "complete")


LATE_DELAY = "3 days"
LATE_MOD = 10
LATE_PICK = 3


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, made deterministic and
    oracle-checkable. The event log replays as THREE single-file
    micro-batches (mtime-ordered, one file per trigger):

    - batch 0: the on-time corpus (everything but the late picks and the
      globally-latest event);
    - batch 1: the globally-latest event alone — a heartbeat whose only
      job is to advance the watermark;
    - batch 2: the LATE rows (every 10th event).

    Spark's late filter for a streaming aggregation uses the watermark
    REPORTED FOR THE PREVIOUS BATCH (one batch behind the eviction/
    emission threshold — verified empirically on this pinned Spark and
    regression-tested in tests/test_streaming_semantics.py; a late batch
    arriving only one trigger after the data that advanced the watermark
    is NOT yet filtered). Hence the heartbeat batch in the middle: batch
    2's rows are filtered against wm1 = max(batch 0 ts) − 3d, so late
    rows whose day-window END ≤ wm1 are dropped and the rest join their
    still-open windows. Append mode then emits exactly the windows with
    END ≤ final watermark (global max − 3d).

    The oracle replays this arithmetic relationally — on-time ∪ heartbeat
    ∪ (late rows with window end > wm1), windowed, filtered to
    end ≤ final watermark — pinning the drop rule, the one-batch filter
    lag, and the append-emission rule in one hash. State stays bounded by
    the watermark horizon (3 days of open windows) — the entire point of
    watermarks at scale.

    The three-file fixture is a durable artifact (persisted_index's
    freshness-key discipline, built by hand here because the artifact is
    a directory TREE with pinned mtimes, not one frame): keyed on the
    events file's (mtime, size) + the split-rule version, built once,
    atomic-renamed, reused by every later invocation — worth ~0.6 s of the
    scenario's ~3.8 s wall clock (the rest is micro-batch machinery:
    four triggers, state store, memory sink)."""
    import hashlib
    import os
    import shutil
    import uuid

    from iceberg_examples_spark.catalog import load_table
    from iceberg_examples_spark.checkpointing import index_root

    ev = load_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("__late_all")
    is_max = "ts = (SELECT max(ts) FROM __late_all)"
    is_late = f"event_id % {LATE_MOD} = {LATE_PICK} AND NOT ({is_max})"

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    key = hashlib.md5(
        f"late-v1:{LATE_MOD}:{LATE_PICK}:{src}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    root = os.path.join(index_root(spark), f"late-fixture-{key}")
    if not os.path.exists(os.path.join(root, "_SUCCESS")):
        tmp = f"{root}.build-{uuid.uuid4().hex}"
        parts = (
            ev.filter(~F.expr(f"({is_late}) OR ({is_max})")),  # on-time
            ev.filter(F.expr(is_max)),  # heartbeat: advances the watermark
            ev.filter(F.expr(is_late)),  # late arrivals
        )
        for i, b in enumerate(parts):
            path = os.path.join(tmp, f"batch-{i}")
            b.coalesce(1).write.mode("overwrite").parquet(path)
            # file-source ordering is (mtime, path): pin mtimes so the
            # replay order is exactly on-time -> heartbeat -> late
            # (rename preserves file mtimes)
            for name in os.listdir(path):
                os.utime(
                    os.path.join(path, name),
                    ns=(1_000_000_000 * (i + 1),) * 2,
                )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, root)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(root, "batch-*"))
    )
    if dict(stream.dtypes).get("ts") == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    rollup = (
        stream.withWatermark("ts", LATE_DELAY)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.expr(money_sum_sql("value", scale=100)).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("day_start"),
            "n_events",
            "sum_value",
        )
    )
    with sized_state_partitions(spark, root):
        return _run_to_memory(rollup, "append")


def _fanout_commit(metrics_t, latest_t, batch_df: DataFrame, epoch_id: int) -> None:
    """The per-epoch two-sink commit of :func:`stream_fanout`
    (module-level so the retry idempotence is unit-testable: committing
    the same epoch twice must leave both sinks identical —
    tests/test_streaming_semantics.py)."""
    from pyspark.sql import Window

    from iceberg_examples_spark.operators.mutations import merge_upsert

    batch_df.persist()
    try:
        # sink A: idempotent epoch append (dedup by batchId — Structured
        # Streaming guarantees at-least-once foreachBatch invocation).
        # The epoch-id guard protects ONLY this append; sink B below must
        # still run on a retry, because a crash between A's append and
        # B's merge would otherwise leave B permanently missing the batch
        # (the merge is idempotent, so re-running it is always safe).
        already = False
        if metrics_t.exists():
            already = epoch_id in {
                r["epoch_id"]
                for r in metrics_t.read()
                .select("epoch_id")
                .distinct()
                .collect()
            }
        if not already:
            counts = (
                batch_df.groupBy("event_type")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.expr(money_cents_sql("value"))).alias(
                        "value_cents"
                    ),
                )
                .withColumn("epoch_id", F.lit(epoch_id).cast("bigint"))
            )
            if metrics_t.exists():
                metrics_t.append(counts)
            else:
                metrics_t.create(counts)
        # sink B: monotonic merge of latest-per-user — idempotent by
        # construction (re-merging the same batch is a no-op)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("ts"), F.desc("event_id")
        )
        latest = (
            batch_df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(
                "user_id",
                F.col("ts").cast("timestamp_ntz").alias("last_ts"),
                F.col("event_id").alias("last_event_id"),
            )
        )
        if not latest_t.exists():
            latest_t.create(latest)
        else:
            newer = (F.col("s.last_ts") > F.col("t.last_ts")) | (
                (F.col("s.last_ts") == F.col("t.last_ts"))
                & (F.col("s.last_event_id") >= F.col("t.last_event_id"))
            )
            latest_t.overwrite(
                merge_upsert(latest_t.read(), latest, ["user_id"], newer)
            )
    finally:
        batch_df.unpersist()


def stream_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One stream, TWO exactly-once sinks per micro-batch — the
    foreachBatch fanout pattern (metrics table + latest-state table from
    a single ingestion stream, consistent with each other because both
    writes happen inside one epoch's commit function):

    - sink A (metrics): the batch's per-type counts/value APPENDED with
      the epoch id as a column; the epoch-id guard makes the append
      idempotent — a retried epoch sees its id already committed and
      skips, the documented foreachBatch exactly-once recipe (Structured
      Streaming guarantees at-least-once foreachBatch invocation; the
      SINK must dedup by batchId).
    - sink B (latest state): per-user argmax by (ts, event_id) MERGEd
      under a monotonic guard — idempotent by construction (re-merging
      the same batch is a no-op), the stream_cdc_merge discipline.

    Both sinks are snapshot-committing LocalTables (the Iceberg layer),
    so each epoch is an atomic commit per sink and a failure between the
    two sinks re-runs the epoch: A skips via the guard, B re-merges
    no-op. Output: per-type totals across all epochs joined with the
    latest-state fingerprint — the oracle recomputes both sides
    relationally from the raw events (epoch boundaries are invisible in
    the final state, which is the point)."""
    from iceberg_examples_spark.catalog import LocalTable, scratch_dir

    metrics_t = LocalTable(
        spark, scratch_dir(sf_dir, "fanout_metrics", fresh=True)
    )
    latest_t = LocalTable(
        spark, scratch_dir(sf_dir, "fanout_latest", fresh=True)
    )

    def commit(batch_df: DataFrame, epoch_id: int) -> None:
        _fanout_commit(metrics_t, latest_t, batch_df, epoch_id)

    ev = _events_stream(spark, sf_dir)
    q = ev.writeStream.outputMode("append").foreachBatch(commit).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    totals = (
        metrics_t.read()
        .groupBy("event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    state_fp = latest_t.read().agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("last_event_id").alias("last_id_sum"),
    )
    return totals.crossJoin(state_fp)


def _ingest_commit(sink, run: int, batch_df: DataFrame, epoch_id: int) -> None:
    """The per-epoch sink append of :func:`stream_incremental_ingest`
    (module-level so the retry idempotence is unit-testable). At-least-
    once foreachBatch: dedup by epoch id before the append (the
    stream_fanout discipline) — epoch ids are monotonic across RUNS of
    the same checkpoint, so the id alone is the idempotence key."""
    if sink.exists() and epoch_id in {
        r["epoch_id"]
        for r in sink.read().select("epoch_id").distinct().collect()
    }:
        return
    counts = (
        batch_df.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("event_id").alias("id_sum"),
        )
        .select(
            F.lit(run).cast("bigint").alias("run"),
            "event_type",
            "n_events",
            "id_sum",
            F.lit(epoch_id).cast("bigint").alias("epoch_id"),
        )
    )
    if sink.exists():
        sink.append(counts)
    else:
        sink.create(counts)


def stream_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed incremental file ingestion across query RESTARTS —
    the production landing-zone pattern: a scheduled job starts the same
    stream (same checkpointLocation) over a growing directory, and each
    run drains ONLY the files that arrived since the last run (the file
    source's processed-file log lives in the checkpoint; Trigger.
    AvailableNow drains what exists, then stops).

    Scenario: run 1 sees the even-id half of the event log; the odd-id
    file then lands; run 2 — a fresh query instance on the same
    checkpoint — must process EXACTLY the new file, nothing re-read, no
    row lost. Each foreachBatch tags its rows with the run number, so
    the output (per run × event type counts) proves the offset
    bookkeeping: run 1 rows are exactly the even ids, run 2 exactly the
    odd ids — which is what the oracle computes relationally. The sink
    appends to a snapshot-committing LocalTable (exactly-once per epoch,
    stream_fanout's discipline)."""
    import os

    from iceberg_examples_spark.catalog import LocalTable, load_table, scratch_dir

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir(sf_dir, "incr_ingest", fresh=True)
    land = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    sink = LocalTable(spark, os.path.join(root, "sink"))

    def land_file(name: str, df: DataFrame) -> None:
        df.coalesce(1).write.parquet(os.path.join(land, name))

    def drain(run: int) -> None:
        stream = spark.readStream.schema(ev.schema).parquet(
            os.path.join(land, "*")
        )

        def commit(batch_df: DataFrame, epoch_id: int) -> None:
            _ingest_commit(sink, run, batch_df, epoch_id)

        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(commit)
            .start()
        )
        q.awaitTermination()

    land_file("even", ev.filter(F.col("event_id") % 2 == 0))
    drain(run=1)
    land_file("odd", ev.filter(F.col("event_id") % 2 == 1))
    drain(run=2)

    return (
        sink.read()
        .groupBy("run", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("id_sum").alias("id_sum"),
        )
    )


def stream_curation_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming curation ingestion — curation_steady_state's EXACT
    semantics (same fixture, same epoch contents, same report) with the
    epochs delivered as Structured Streaming micro-batches instead of a
    driver loop: one file per trigger (mtime-ordered), and each
    foreachBatch commit runs the index steady-state verbs — probe the
    CurationIndex, drop verified near-dups, append the ACCEPTED rows'
    own index entries — so epoch 2's planted near-copies of epoch-1 docs
    are caught only if epoch 1's commit actually maintained the index.
    The report lands in a snapshot-committing table per epoch (the
    stream_fanout discipline) and the DuckDB oracle is literally
    curation_steady_state's — same semantics, streaming delivery, one
    oracle."""
    import os
    import shutil

    from iceberg_examples_spark.catalog import LocalTable, load_table, scratch_dir
    from iceberg_examples_spark.checkpointing import stage
    from iceberg_examples_spark.operators.curation_index import CurationIndex
    from iceberg_examples_spark.operators.dedup import minhash_index

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    planted = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 4 == 2) & (F.col("doc_id") < 80))
        .select(
            (F.col("doc_id") + 3000001).alias("doc_id"),
            F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
        )
    )
    import hashlib
    import uuid

    from iceberg_examples_spark.checkpointing import index_root

    base = docs.filter(F.col("doc_id") % 4 < 2)
    epochs = [
        docs.filter(F.col("doc_id") % 4 == 2),
        docs.filter(F.col("doc_id") % 4 == 3).unionByName(planted),
    ]

    root = scratch_dir(sf_dir, "stream_curation", fresh=True)
    # the epoch landing files are deterministic in the documents file —
    # durable keyed artifact (the stream_late_data discipline), so warm
    # invocations skip the two fixture writes
    src_file = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src_file)
    lkey = hashlib.md5(
        f"scurland-v1:{src_file}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    land = os.path.join(index_root(spark), f"scur-landing-{lkey}")
    if not os.path.exists(os.path.join(land, "_SUCCESS")):
        tmp = f"{land}.build-{uuid.uuid4().hex}"
        for i, e in enumerate(epochs):
            path = os.path.join(tmp, f"epoch-{i}")
            e.coalesce(1).write.parquet(path)
            for name in os.listdir(path):
                os.utime(
                    os.path.join(path, name),
                    ns=(1_000_000_000 * (i + 1),) * 2,
                )
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, land)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner

    # the BASE index is the O(corpus) step — built once per input state
    # as a durable artifact and FILESYSTEM-COPIED per invocation (the
    # dynamic_partition_overwrite discipline: this run APPENDS epoch
    # entries, so it must own a private copy; the copy costs ~0.1 s vs
    # ~1.5 s to re-run the corpus signature pass)
    src_file = os.path.join(sf_dir, "documents.parquet")
    st = os.stat(src_file)
    key = hashlib.md5(
        f"scuridx-v1:{src_file}:{st.st_mtime_ns}:{st.st_size}".encode()
    ).hexdigest()[:16]
    cached = os.path.join(index_root(spark), f"scur-baseidx-{key}")
    if not os.path.exists(os.path.join(cached, "_BUILT")):
        tmp = f"{cached}.build-{uuid.uuid4().hex}"
        CurationIndex(spark, tmp).build(base)
        open(os.path.join(tmp, "_BUILT"), "w").close()
        try:
            os.rename(tmp, cached)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    idx_dir = os.path.join(root, "idx")
    shutil.copytree(cached, idx_dir)
    idx = CurationIndex(spark, idx_dir)
    report_t = LocalTable(spark, os.path.join(root, "report"))
    committed_epochs: set[int] = set()

    def commit(batch_df, epoch_id: int) -> None:
        # at-least-once foreachBatch: the report row is the epoch's
        # commit marker — a fully-committed epoch retried skips outright;
        # a retry that crashed BETWEEN the index append and the report
        # re-runs the whole epoch and converges, because the index append
        # below is epoch-keyed (deterministic overwrite target, no
        # duplicate entries) and the probe EXCLUDES this epoch's own
        # keyed append (exclude_key) — the batch never probes its own
        # already-committed entries, while a doc_id re-ingested in a
        # LATER epoch still hits the earlier epoch's entry and is
        # rejected (ADVICE r7).
        # The commit marker is tracked DRIVER-SIDE: scratch root is
        # fresh per invocation, so the report table starts absent and
        # every committed epoch was committed by THIS process — the set
        # is complete, and re-reading the table per epoch just to list
        # committed epoch ids was one Spark job per epoch spent moving
        # two rows (guide §5: the driver already knows the answer)
        if epoch_id in committed_epochs:
            return
        batch_idx = stage(
            minhash_index(batch_df, wide=False, keep=("text",)),
            f"scur-batch{epoch_id}",
        )
        nd = (
            idx.probe_indexed(batch_idx, exclude_key=f"e{epoch_id}")
            .select(F.col("batch_doc").alias("doc_id"))
            .distinct()
        )
        accepted = stage(
            batch_idx.join(nd, "doc_id", "left_anti"),
            f"scur-acc{epoch_id}",
        )
        idx.append_indexed(accepted, key=f"e{epoch_id}")
        row = (
            batch_df.agg(
                (F.lit(epoch_id) + 1).cast("bigint").alias("epoch"),
                F.count(F.lit(1)).alias("n_batch"),
            )
            .crossJoin(
                accepted.agg(
                    F.count(F.lit(1)).alias("n_accepted"),
                    F.sum("doc_id").alias("id_sum"),
                )
            )
            .selectExpr(
                "epoch",
                "n_batch",
                "n_batch - n_accepted as n_neardup",
                "n_accepted",
                "id_sum",
            )
        )
        if report_t.exists():
            report_t.append(row)
        else:
            report_t.create(row)
        committed_epochs.add(epoch_id)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .option("latestFirst", "false")
        .parquet(os.path.join(land, "epoch-*"))
    )
    q = stream.writeStream.outputMode("append").foreachBatch(commit).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = report_t.read().collect()
    out = spark.createDataFrame(rows, report_t.read().schema)
    shutil.rmtree(root, ignore_errors=True)
    return out


def stream_to_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the NATIVE Iceberg v2 layout: checkpointed
    availableNow runs over a growing landing zone, each microbatch
    committed as a REAL snapshot (Avro manifests + metadata.json) whose
    summary records its (run, epoch) — the Iceberg streaming sink's
    exactly-once bookkeeping. The commit fn consults the snapshot
    summaries and SKIPS an already-committed epoch; the query then
    force-replays the last epoch with different rows and rides the
    snapshot-count delta (must be 0) through the output hash, so a
    broken replay guard fails the gate two ways (extra rows AND a
    nonzero delta)."""
    import os

    from iceberg_examples_spark.catalog import load_table, scratch_dir
    from iceberg_examples_spark.sources.iceberg_native import (
        IcebergNativeTable,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    root = scratch_dir(sf_dir, "stream_to_iceberg", fresh=True)
    land = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    sink = IcebergNativeTable.create(
        spark, os.path.join(root, "ice"), ev.limit(0)
    )
    seen: list[str] = []

    def committed() -> set:
        return {
            s["summary"].get("streaming-epoch")
            for s in sink._metadata()["snapshots"]
        }

    def commit(batch_df: DataFrame, epoch_id: int, run: int) -> None:
        key = f"{run}:{epoch_id}"
        if key in committed():
            return  # replay of a published epoch: exactly-once skip
        sink.append(
            batch_df.filter(F.col("event_type") == "click"),
            summary={"streaming-epoch": key},
        )
        seen.append(key)

    def drain(run: int) -> None:
        stream = spark.readStream.schema(ev.schema).parquet(
            os.path.join(land, "*")
        )
        q = (
            stream.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .foreachBatch(lambda b, e: commit(b, e, run))
            .start()
        )
        q.awaitTermination()

    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        os.path.join(land, "even")
    )
    drain(run=1)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        os.path.join(land, "odd")
    )
    drain(run=2)

    # forced replay of the last committed epoch with DIFFERENT rows:
    # the summary guard must skip it without a new snapshot
    before = len(sink._metadata()["snapshots"])
    run, _, epoch = seen[-1].partition(":")
    commit(ev.limit(5), int(epoch), int(run))
    delta = len(sink._metadata()["snapshots"]) - before

    return sink.scan().agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.count_distinct("user_id").alias("n_users"),
        F.expr(money_sum_sql("value", scale=100)).alias("total_value"),
        F.lit(delta).cast("int").alias("replay_delta"),
    )
