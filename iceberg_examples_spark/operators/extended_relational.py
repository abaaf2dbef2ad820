"""Extended relational operators beyond the reference's surface
(SURVEY §2.5 set ops, §2.4 multi-level aggregates, §2.3 as-of join).

These complete the "a user of the reference could run every query they run
today — and the ones stock Spark gives them for free" story: INTERSECT /
EXCEPT / DISTINCT, ROLLUP grouping sets, and the as-of join Spark lacks as
a primitive, built as a composition of existing operators (union + window
last-value carry-forward) — the scalable formulation: one shuffle on the
join key, no per-group Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from iceberg_examples_spark.catalog import load_table
from iceberg_examples_spark.functions.exact import money_cents_sql, money_sum_sql


def project_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 scalar-function surface: ``to_date(str, fmt)`` exactly as the
    reference uses it (`IcebergSCD2.java:27`), plus derived date parts."""
    return spark.range(1).select(
        F.to_date(F.lit("2020-01-01"), "yyyy-MM-dd").alias("effective_date"),
        F.to_date(F.lit("9999-12-31"), "yyyy-MM-dd").alias("end_date"),
        F.year(F.to_date(F.lit("2020-03-15"), "yyyy-MM-dd")).cast("bigint").alias("y"),
        F.month(F.to_date(F.lit("2020-03-15"), "yyyy-MM-dd")).cast("bigint").alias("m"),
        F.datediff(
            F.to_date(F.lit("2020-03-15"), "yyyy-MM-dd"),
            F.to_date(F.lit("2020-01-01"), "yyyy-MM-dd"),
        ).cast("bigint").alias("days_between"),
    )


def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / DISTINCT in one result: nations that have
    customers vs suppliers. Catalyst plans these as aggregates/joins —
    declared once so the surface is covered and hash-checked."""
    cust_nations = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    supp_nations = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = cust_nations.intersect(supp_nations).withColumn(
        "relation", F.lit("both")
    )
    cust_only = cust_nations.subtract(supp_nations).withColumn(
        "relation", F.lit("customer_only")
    )  # subtract == EXCEPT DISTINCT (bag exceptAll would leak overlaps)
    return both.unionByName(cust_only)


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate: order totals by (status, priority) with subtotal
    and grand-total rows — partial aggregation per grouping set, one
    shuffle. NULL grouping keys are replaced by sentinels so the oracle
    comparison is unambiguous."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(money_sum_sql("o_totalprice", scale=100)).alias("total_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "n_orders",
            "total_price",
        )
    )


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no native Spark primitive): for every 'purchase' event,
    the user's most recent 'signup'-or-earlier event state — here: the
    latest prior 'click' event's value.

    Composition: tag both sides, union, single window over (user_id, ts)
    carrying the last click forward (``last(..., ignorenulls=True)``),
    then keep the purchase rows. ONE shuffle on user_id, linear state —
    the scalable as-of formulation (vs per-group merge_asof or a range
    join explosion). Ties (same ts): the right side sorts before the left
    via the tag so an exactly-simultaneous click is visible to the
    purchase, matching ASOF JOIN <= semantics."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value", F.lit(0).alias("is_right"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(None).cast("timestamp_ntz").alias("click_ts"),
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value", F.lit(1).alias("is_right"),
        F.col("value").alias("click_value"),
        F.col("ts").alias("click_ts"),
    )
    unioned = left.unionByName(right)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_right").desc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        "is_right",
        F.last("click_value", ignorenulls=True).over(w).alias("asof_click_value"),
        F.last("click_ts", ignorenulls=True).over(w).alias("asof_click_ts"),
    )
    return carried.filter(F.col("is_right") == 0).select(
        "event_id", "user_id", "ts", "value", "asof_click_value", "asof_click_ts"
    )


def range_join_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range predicate riding an equi-join: lineitems shipped within 30
    days of their order's date — the equi-key (orderkey) carries the join
    and the date range is a residual filter, so no nested loop appears.
    (A true range join with NO shared key would instead bucketize the
    range key — join on the time bucket, filter the residual — which is
    the month-bucket pattern write_partitioned + partition_prune
    demonstrate on the storage side.)"""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (
            F.col("l_shipdate")
            < F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
    )
    return joined.groupBy("o_orderkey").agg(
        F.count(F.lit(1)).alias("n_shipped_30d"),
        F.min("l_shipdate").alias("first_ship"),
    )


def salted_agg_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation (functions/skew.py): partial sums on
    (key, salt) then final combine — the plan for hot grouping keys at
    100 TB. Input is pre-scaled to integer cents so the salted partial
    sums stay exact; the oracle is the PLAIN group-by, proving the salted
    plan is result-identical."""
    from iceberg_examples_spark.functions.skew import salted_agg

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "qty_c", F.expr(money_cents_sql("l_quantity"))
    )
    out = salted_agg(
        li,
        ["l_returnflag"],
        {"qty": "qty_c"},
        unique_cols=["l_orderkey", "l_linenumber"],  # per-ROW unique
        n_salts=8,
    )
    return out.select(
        "l_returnflag",
        (F.col("sum_qty").cast("double") / 100.0).alias("sum_qty"),
        "n_rows",
    )


def skew_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe replicated-dim join (functions/skew.py): part replicated
    across 8 salts, lineitem salted deterministically, join on
    (l_partkey, salt) — spreads a hot part over 8 tasks. Oracle is the
    plain join, proving row-identical output."""
    from iceberg_examples_spark.functions.skew import replicate_dim_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = replicate_dim_join(
        li,
        part,
        key="l_partkey",
        fact_unique_cols=["l_orderkey", "l_quantity"],  # per-row identity
        n_salts=8,
    )
    return joined.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr(money_sum_sql("l_quantity", scale=100)).alias("sum_qty"),
    )


def pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: quantity totals by returnflag × linestatus as columns —
    conditional partial aggregation, one shuffle on the grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.expr(money_sum_sql("l_quantity", scale=100)))
    )
    return pv.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation) per order status — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree bit-for-bit
    (verified). The approximate sibling for 100 TB is percentile_approx
    (see approx_stats, rows-only: sketches are engine-specific)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("p50"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )


def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based approximations — the constant-memory 100 TB path:
    HyperLogLog++ distinct counts and GK-sketch percentiles.

    Self-verifying formulation: the sketch *estimates* are engine-specific
    (DuckDB's sketches produce different, equally valid values), so the
    raw estimates can never cross-engine hash. Instead the query computes
    the exact statistics IN THE SAME PLAN and emits boolean
    ``*_within_bound`` columns asserting the sketches land inside their
    documented error envelopes — booleans and exact values hash
    deterministically, so the driver's oracle gate now fully verifies
    this query (the oracle emits the same exact values and literal TRUE).

    Bounds: HLL++ at rsd=0.01 → 5% relative error is a >5σ envelope;
    approx_percentile at accuracy=10000 has rank error ≤ n/10000, far
    inside the exact p45..p55 value band used as the check."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_customers"),
        F.approx_count_distinct("o_custkey", 0.01).alias("_approx_cd"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias(
            "_approx_p50"
        ),
        F.expr("percentile(o_totalprice, 0.45)").alias("_p45"),
        F.expr("percentile(o_totalprice, 0.55)").alias("_p55"),
    )
    return agg.select(
        "o_orderstatus",
        "exact_customers",
        (
            F.abs(F.col("_approx_cd") - F.col("exact_customers"))
            <= F.col("exact_customers") * 0.05
        ).alias("cd_within_bound"),
        (
            (F.col("_approx_p50") >= F.col("_p45"))
            & (F.col("_approx_p50") <= F.col("_p55"))
        ).alias("p50_within_bound"),
    )


def running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-frame surface: per-customer running order total and previous
    order gap (cumsum over rowsBetween + lag). Exact integer accumulation
    inside the window so the running values hash identically cross-engine."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    cents = F.expr(money_cents_sql("o_totalprice", scale=100))
    running = (
        F.sum(cents).over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        / 100.0
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        running.alias("running_total"),
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
    )


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets: all (status × priority) combinations including
    both partial totals — 4 grouping sets in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("priority"),
            "n_orders",
        )
    )


def collect_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic collection aggregate: sorted DISTINCT set per group,
    serialized to a comma-joined scalar (collect_set is unordered —
    array_sort makes it comparable; the join makes the column hashable by
    pandas-based comparators, which choke on list-valued cells)."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_nationkey").agg(
        F.array_join(
            F.array_sort(F.collect_set("c_mktsegment")), ","
        ).alias("segments"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("n_segments"),
    )


def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of pivot_status: four lineitem measure
    columns rotated into (metric, val) long form, one output row per
    (row, metric). Spark's native `unpivot` is a zero-shuffle Expand node
    (each input row emits 4 rows in the same task); the oracle spells the
    same relation as a 4-way UNION ALL, which is what Expand computes.
    Bounded to the first orders so the declared result stays
    driver-collectable at any sf."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1000
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) — the
    multiplicity-preserving twins of set_ops' DISTINCT variants: customer
    keys by order status, keeping duplicate counts (a customer with 3 'F'
    and 1 'O' order contributes min(3,1)=1 to the intersection and
    3-1=2 to the difference). Catalyst plans both as a single aggregate
    computing per-key counts on each side — one shuffle, no join."""
    orders = load_table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return (
        f.intersectAll(o)
        .withColumn("tag", F.lit("both"))
        .unionByName(f.exceptAll(o).withColumn("tag", F.lit("only_f")))
        .select("tag", "o_custkey")
    )


def window_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking/navigation window family in one pass: lead, lag, ntile,
    percent_rank, dense_rank over each customer's order history — all
    computed from ONE window sort (single shuffle on o_custkey, one sort
    per partition; Catalyst fuses same-spec window functions into one
    Window node). Bounded to keys < 200 to stay driver-collectable."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.dense_rank().over(w).alias("drank"),
    )


def map_type_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType in-plan coverage: per-customer map of order-status →
    order-count built with map_from_entries(collect_list(struct(...))),
    then consumed with element_at / size / map_keys — the complex-type
    family the array ops (embeddings/tokens) don't touch. The map stays
    inside the plan; the declared output is scalar lookups, so the
    cross-engine hash needs no map serialization convention.

    Scale: one shuffle (groupBy custkey); the inner status aggregation is
    a partial-combine count, the map build is a per-group map-side fold."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 500
    )
    per_status = orders.groupBy("o_custkey", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    with_map = per_status.groupBy("o_custkey").agg(
        F.map_from_entries(
            F.sort_array(
                F.collect_list(F.struct("o_orderstatus", F.col("n")))
            )
        ).alias("status_counts")
    )
    return with_map.select(
        "o_custkey",
        F.coalesce(
            F.element_at("status_counts", "F"), F.lit(0).cast("bigint")
        ).alias("n_f"),
        F.coalesce(
            F.element_at("status_counts", "O"), F.lit(0).cast("bigint")
        ).alias("n_o"),
        F.coalesce(
            F.element_at("status_counts", "P"), F.lit(0).cast("bigint")
        ).alias("n_p"),
        F.size("status_counts").cast("bigint").alias("n_statuses"),
    )


def range_frame_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): for each order,
    the customer's exact order total over the PRECEDING 90 DAYS — rows
    enter the frame by date distance, so same-day orders all contribute
    regardless of row position (what rowsBetween can't express).
    Ordered on integer epoch days so Spark's numeric rangeBetween and
    the DuckDB RANGE ... PRECEDING frame see identical distances; sums
    are scaled-integer exact."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_custkey") < 200
    )
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-90, -1)
    )
    cents = F.expr(money_cents_sql("o_totalprice", scale=100))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.coalesce(F.sum(cents).over(w), F.lit(0)).cast("double") / 100.0
        ).alias("trailing_90d_total"),
        F.coalesce(F.count(F.lit(1)).over(w), F.lit(0))
        .cast("bigint")
        .alias("trailing_90d_orders"),
    )


def json_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an EXPLICIT schema — the scale-right JSON path
    (one parse into a typed struct; json_props' get_json_object is the
    per-field cousin, schema inference the anti-pattern at 100 TB since
    it costs a full extra pass). Struct field access + per-type rollup."""
    from iceberg_examples_spark.sources.json_source import read_json_column

    ev = load_table(spark, sf_dir, "events")
    parsed = read_json_column(ev, "props", "k BIGINT")
    return (
        parsed.select("event_type", F.col("props_parsed.k").alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.count("k").alias("n_with_k"),
        )
    )


def lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's 2 most recent orders —
    the per-entity top-N shape. Catalyst decorrelates the LATERAL into a
    window/join plan (same physical answer as the row_number formulation,
    declared at the SQL level users actually write); DuckDB runs the
    identical text. Bounded to custkey < 100 for driver-collectable
    output."""
    from iceberg_examples_spark.catalog import register_views

    register_views(spark, sf_dir, tables=["customer", "orders"])
    return spark.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.o_orderdate, t.o_totalprice
        FROM customer c,
        LATERAL (
          SELECT o_orderkey, o_orderdate, o_totalprice
          FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey DESC
          LIMIT 2
        ) t
        WHERE c.c_custkey < 100
    """)


def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube specialize):
    order stats by (status, priority), by status alone, and the grand
    total — but NOT by priority alone, which is exactly what neither
    ROLLUP nor CUBE can express. grouping_id() disambiguates the NULLs
    that mark superaggregate rows from genuine data NULLs."""
    from iceberg_examples_spark.catalog import register_views

    register_views(spark, sf_dir, tables=["orders"])
    return spark.sql(f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT)
                 AS gid,
               count(*) AS n_orders,
               {money_sum_sql('o_totalprice', scale=100)} AS total
        FROM orders
        GROUP BY GROUPING SETS (
          (o_orderstatus, o_orderpriority), (o_orderstatus), ()
        )
    """)


def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket — the distribution-profiling
    primitive (data-quality dashboards, feature binning): order totals
    into 20 equal buckets over [0, 600000), plus the under/overflow
    buckets width_bucket reserves (0 and n+1). Bucket assignment is pure
    arithmetic on identical doubles, so counts hash cross-engine; one
    partial-combine aggregation total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn(
            "bucket",
            F.expr(
                "cast(width_bucket(o_totalprice, 0.0, 600000.0, 20) as bigint)"
            ),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr(money_sum_sql("o_totalprice", scale=100)).alias(
                "bucket_total"
            ),
        )
    )


def quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency feature binning (the QuantileDiscretizer /
    feature-bucketing step of a training pipeline): orders are split
    into 10 NTILE buckets of o_totalprice with a fully deterministic
    total order — ties broken by o_orderkey, so both engines assign the
    identical bucket to every row — and the result is each bucket's
    boundary/count profile (the bin dictionary a feature store would
    publish).

    Scale note: NTILE is a total-order window — the 100 TB formulation
    replaces it with approx quantile CUTS (computed once, broadcast,
    assignment map-only; same output contract). This query is the exact
    small-N reference for that path, the same exact/approx pairing as
    percentiles vs approx_stats."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    binned = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.ntile(10).over(w).alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum("o_orderkey").alias("key_sum"),
    )


def quantile_bins_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale formulation quantile_bins' docstring promises: bin by
    BROADCAST CUT POINTS instead of a total-order window. The nine decile
    boundaries are computed once (exact interpolated percentiles — Spark
    ``percentile`` and DuckDB ``quantile_cont`` agree bit-for-bit, the
    `percentiles` query's established pair), broadcast as a single row,
    and assignment is a map-only indicator sum: bin = 1 + Σ(price > cut_i),
    ties landing in the lower bin deterministically. No global sort, no
    single-task window — the plan is one tiny agg + one map pass, which
    is exactly how a 100 TB discretizer runs (swap the exact percentiles
    for percentile_approx and nothing else changes). Bin populations
    differ from NTILE's only where ties straddle a boundary; this query
    carries its own oracle with the same cut rule."""
    orders = load_table(spark, sf_dir, "orders")
    # ONE array-percentile aggregate (not nine scalar ones — each scalar
    # percentile buffers the column separately; the array form shares one
    # buffer, measured 2.8 s -> ~1.0 s at sf0.1)
    pcts = ", ".join(str(i / 10) for i in range(1, 10))
    cuts = orders.agg(
        F.expr(f"percentile(o_totalprice, array({pcts}))").alias("cs")
    )
    ind = " + ".join(
        f"cast(o_totalprice > element_at(cs, {i}) as int)"
        for i in range(1, 10)
    )
    binned = orders.join(F.broadcast(cuts)).withColumn(
        "bin", F.expr(f"cast(1 + {ind} as int)")
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.sum("o_orderkey").alias("key_sum"),
    )


HLL_REL_ERR_PCT = 5  # lgConfigK=12 default ≈ 1.6% std error; 5% ≈ 3σ


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches (Apache DataSketches HLL, the
    engine's hll_sketch_agg/hll_union_agg surface): per-event-type user
    cardinality from per-group sketches, PLUS the all-types row obtained
    by UNIONING the group sketches — never re-scanning the input. That
    mergeability is the 100 TB story: partial sketches combine across
    partitions, days, and tables in O(sketch) not O(data), which exact
    count-distinct (a full shuffle of the key universe) cannot do.

    Self-verifying like approx_stats: sketches are estimates, so the
    hash-checked payload is the EXACT cardinality computed alongside plus
    a boolean "estimate within HLL_REL_ERR_PCT of exact" per row — the
    oracle recomputes the exact side and pins the boolean TRUE, so a
    broken sketch path (or an out-of-contract error) flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    per_group = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id)").alias("sk"),
        F.count_distinct("user_id").alias("n_exact"),
    )
    groups = per_group.select(
        "event_type",
        "n_exact",
        F.expr("hll_sketch_estimate(sk)").alias("est"),
    )
    # the union row: merge the per-group sketches (exact side needs the
    # global distinct — one more agg over the same scan in this demo; at
    # scale only the sketches exist and THAT is the point)
    merged = per_group.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    ).crossJoin(ev.agg(F.count_distinct("user_id").alias("n_exact")))
    unioned = groups.unionByName(
        merged.select(F.lit("ALL").alias("event_type"), "n_exact", "est")
    )
    return unioned.select(
        "event_type",
        "n_exact",
        F.expr(
            f"abs(est - n_exact) * 100 <= n_exact * {HLL_REL_ERR_PCT}"
        ).alias("est_in_bound"),
    )


MAD_K = 3  # |x - median| > K*MAD flags an outlier (the robust z-score)


def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per group: median absolute deviation,
    the estimator that (unlike mean/stddev) a few extreme values cannot
    drag. Two exact interpolated percentiles per group — Spark
    ``percentile`` ≡ DuckDB ``quantile_cont`` bit-for-bit (the
    `percentiles` discipline) — with the group median broadcast back
    between passes; the outlier rule |x − med| > K·MAD then evaluates on
    bit-identical doubles in both engines.

    Plan: two grouped aggregates over narrow keys with a broadcast join
    between them, one final count pass — three shuffles of |groups|-sized
    frames plus the scans; at 100 TB the exact-median passes become
    approx_percentile (see approx_stats for the self-verifying sketch
    pattern), same plan shape."""
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    with_med = orders.join(F.broadcast(med), "o_orderpriority")
    mad = with_med.groupBy("o_orderpriority").agg(
        F.expr("percentile(abs(o_totalprice - med), 0.5)").alias("mad"),
        F.first("med").alias("med"),
    )
    return (
        with_med.drop("med")
        .join(F.broadcast(mad), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.first("med").alias("med"),
            F.first("mad").alias("mad"),
            F.sum(
                F.expr(
                    f"case when abs(o_totalprice - med) > {MAD_K} * mad "
                    "then 1 else 0 end"
                )
            ).alias("n_outliers"),
        )
    )


def or_join_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OR-predicate join rewrite — a disjunctive equi-join
    ``ON a.k1 = b.k OR a.k2 = b.k`` cannot hash-join (no single key), so
    engines fall back to nested-loop/cartesian: O(n·m) and a cluster
    killer. The standard rewrite executed here: one equi-join PER
    DISJUNCT (each hash/broadcast-joinable), UNION, then DISTINCT on the
    output identity to undo double-matches — identical semantics, two
    shuffled joins instead of n·m comparisons (tests/test_plans.py
    asserts no nested-loop/cartesian node survives). The oracle runs the
    literal OR join, so the rewrite is hash-verified against the naive
    spelling.

    Scenario: lineitems route to a supplier either directly
    (l_suppkey) or via an alternate routing key (l_orderkey % 100)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_suppkey",
        F.expr("l_orderkey % 100").alias("alt_key"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey")
    direct = li.join(
        F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"]
    )
    alt = li.join(F.broadcast(supp), li["alt_key"] == supp["s_suppkey"])
    matched = (
        direct.select("l_orderkey", "l_linenumber", "s_suppkey")
        .unionByName(alt.select("l_orderkey", "l_linenumber", "s_suppkey"))
        .distinct()
    )
    return matched.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_orderkey").alias("key_sum"),
    )


SKY_MOD = 10  # orders subset (o_orderkey % SKY_MOD = 0): keeps the
SKY_BUCKETS = 32  # oracle's quadratic NOT-EXISTS check tractable


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal) query — the multi-criteria shortlist
    operator (cf. "Integration of Skyline Queries into Spark SQL", EDBT
    2023, and the classic Börzsönyi et al. formulation): orders that are
    not DOMINATED — no other order is both cheaper-or-equal AND
    newer-or-equal with at least one strict. Dims here: minimize
    o_totalprice (exact cents), maximize o_orderdate.

    Distributed formulation (the paper's local-then-global shape, made
    declarative): price-RANGE buckets (not hash — dominance only flows
    from cheaper to costlier), so
      1. within-bucket dominance = two windows PARTITIONED BY BUCKET
         (parallel, never a global sort):  max(date) over strictly
         cheaper rows in-bucket; max(date) over equal-price rows;
      2. cross-bucket dominance = the per-bucket max-date prefix —
         a SKY_BUCKETS-row aggregate broadcast back (every row in a
         lower bucket is strictly cheaper, so prefix-max(date) ≥ my
         date ⇒ dominated).
    Each row is checked against O(1) broadcast state + an in-bucket
    window — no pairwise join anywhere. The oracle runs the literal
    quadratic NOT EXISTS dominance test on the same subset, so the
    bucketed plan is verified against the definition itself."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % SKY_MOD == 0
    )
    base = orders.select(
        "o_orderkey",
        F.expr(money_cents_sql("o_totalprice")).alias("cents"),
        F.col("o_orderdate").alias("odate"),
    )
    # range buckets over the observed price span (two scalar bounds — a
    # planning-time hop, the quantile_bins_cuts discipline)
    lo, hi = base.agg(F.min("cents"), F.max("cents")).first()
    width = max(1, (hi - lo) // SKY_BUCKETS + 1)
    b = base.withColumn("bucket", F.expr(f"(cents - {lo}) div {width}"))

    w_cheaper = (
        Window.partitionBy("bucket")
        .orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_equal = Window.partitionBy("bucket", "cents")
    flagged = b.withColumn(
        "max_date_cheaper", F.max("odate").over(w_cheaper)
    ).withColumn("max_date_equal", F.max("odate").over(w_equal))

    per_bucket = b.groupBy("bucket").agg(F.max("odate").alias("bmax"))
    w_prefix = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    prefix = per_bucket.select(
        "bucket", F.max("bmax").over(w_prefix).alias("prefix_max_date")
    )

    return (
        flagged.join(F.broadcast(prefix), "bucket")
        .filter(
            "(max_date_cheaper is null or max_date_cheaper < odate) and "
            "max_date_equal <= odate and "
            "(prefix_max_date is null or prefix_max_date < odate)"
        )
        .select("o_orderkey", "cents", "odate")
    )


def quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank normalization (quantile transform) — the feature-
    preprocessing step that maps a skewed column onto [0, 1] by its
    empirical CDF: percent_rank within each order-priority group.
    percent_rank = (rank − 1) / (n − 1) is a single exact integer
    division per row — bit-identical across engines, unlike z-scores
    (mean/std float sums). Ties share a rank (both engines use
    rank(), not row_number, inside percent_rank), so equal prices map
    to equal quantiles — the property that makes the transform stable
    under resorting.

    Plan: one shuffle by the group key, per-group sort — bounded
    partitions (the per-priority slices), never a global order."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.expr(money_cents_sql("o_totalprice"))
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(money_cents_sql("o_totalprice")).alias("cents"),
        F.percent_rank().over(w).alias("q"),
    )
