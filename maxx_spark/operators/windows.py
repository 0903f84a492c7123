"""Event-time windowing operators (SURVEY.md E2-E4, E8) — batch mirrors.

These are the *same* expressions the streaming pipeline uses
(``maxx_spark.streaming``); in batch they are directly oracle-checkable
against ANSI SQL. ``F.window`` / ``F.session_window`` work identically in
batch and streaming groupBy, so correctness proven here transfers.

Scale notes:
- Tumbling/sliding aggregation is hash-agg with map-side combine: the
  shuffle carries (window, key) partials, never raw events.
- Sliding windows multiply rows by size/slide — keep that factor small and
  aggregate immediately (Spark expands windows *inside* the aggregate, the
  expansion never materializes).
- ``salted_agg`` is the two-phase aggregate for mega-key skew (one host
  carrying 50% of rows): partial agg on (key, salt) spreads the hot key over
  S reducers, final agg on key merges S partials — the hot reducer now sees
  S rows instead of N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def tumbling_counts(events: DataFrame, size: str = "1 hour") -> DataFrame:
    """Tumbling window per event_type: count + exact sum of value."""
    return (
        events.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


def sliding_counts(events: DataFrame, size: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding window (size 1h, slide 15m): each event lands in 4 windows."""
    return (
        events.groupBy(F.window("ts", size, slide).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user (gap-based). Session = maximal run of events
    where each consecutive gap < ``gap``; window end = last_ts + gap.

    This is the E4 operator that groups multi-file MATLAB projects crawled
    together (keyed by host there, by user_id here).
    """
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


def drop_late_events(events: DataFrame, delay: str = "10 minutes") -> DataFrame:
    """Watermark semantics expressed in batch (E2): processing order =
    event_id; watermark = max(ts) over all *previously arrived* events minus
    ``delay``; an event is late (dropped) iff ts < watermark.

    This is exactly the row-drop rule Structured Streaming applies with
    ``withWatermark('ts', delay)`` when arrival order is event_id; the
    streaming pipeline is tested separately in tests/test_streaming.py.

    Plan (r7 — NO unpartitioned Window, and no range sampler either): the
    global exclusive running max decomposes into ``greatest(max over all
    earlier CHUNKS, max over earlier rows in my chunk)`` for any chunking
    that is monotone in event_id.
    1. Chunk id = (event_id - min) DIV width, width sized so
       ~``spark.sql.shuffle.partitions`` chunks exist — a pure
       DETERMINISTIC projection, so (unlike the old
       repartitionByRange form) there is no sampling pass to run and no
       sampled boundary to pin with a localCheckpoint: the only
       driver-visible state is the (min, max) bounds aggregate. Arrival
       sequence numbers are dense by construction (they are the arrival
       order), so equal-width chunks are balanced. Sparse ids cost only
       balance, not correctness: the decomposition holds for ANY monotone
       chunking, so ids 0, 1, 2, 10**12 put three rows in the first chunk
       and one in the last — uneven tasks, the same kept set.
    2. Bounded per-chunk max(ts) rollup (map-side combined — the full
       shuffle the old form paid to range-partition before counting never
       happens), prefix-max on the driver, joined back on chunk id (bounded
       LocalRelation — Catalyst broadcasts it unhinted).
    3. The within-chunk exclusive running max is a Window PARTITIONED by
       __pid — every task sorts only its own contiguous range.
    ``greatest`` skips NULLs, so the first chunk (no prefix) and each
    chunk's first row (no local predecessor) fall out naturally.

    ``events`` must be deterministic (a table scan or a deterministic
    projection of one, not a sample or a nondeterministic expression): the
    bounds aggregate, the per-chunk rollup and the data pass each read it,
    and a read that differs from the first would assign chunks and prefix
    maxima from rows the data pass never sees.
    """
    spark = events.sparkSession
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bounds = events.agg(F.min("event_id").alias("lo"), F.max("event_id").alias("hi")).first()
    lo = int(bounds["lo"]) if bounds["lo"] is not None else 0
    hi = int(bounds["hi"]) if bounds["hi"] is not None else 0
    width = max(1, (hi - lo + num_partitions) // num_partitions)
    arrived = events.withColumn(
        "__pid", F.expr(f"(event_id - {lo}) DIV {width}").cast("long")
    )
    # bounded rollup: one row per chunk, partials combine map-side
    maxes = arrived.groupBy("__pid").agg(F.max("ts").alias("__mx")).collect()
    prefix, acc = [], None
    for row in sorted(maxes, key=lambda r: r["__pid"]):
        prefix.append((row["__pid"], acc))
        # an all-null-ts partition yields __mx=None: skip it (SQL max ignores
        # NULLs; greatest() skips a NULL premax downstream the same way)
        if row["__mx"] is not None:
            acc = row["__mx"] if acc is None else max(acc, row["__mx"])
    if not prefix:
        prefix = [(0, None)]
    pre_df = spark.createDataFrame(prefix, "__pid long, __premax timestamp")
    w = (
        Window.partitionBy("__pid")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wm = F.greatest(F.max("ts").over(w), F.col("__premax")) - F.expr(f"INTERVAL {delay}")
    return (
        arrived.join(pre_df, "__pid")
        .withColumn("__wm", wm)
        .where(F.col("__wm").isNull() | (F.col("ts") >= F.col("__wm")))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


def late_data_windowed(events: DataFrame, delay: str = "10 minutes", size: str = "1 hour") -> DataFrame:
    """E2+E3 composed: drop late rows, then tumbling counts — the batch
    mirror of a watermarked streaming aggregation's final output."""
    kept = drop_late_events(events, delay)
    return (
        kept.groupBy(F.window("ts", size).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
        .orderBy("window_start", "event_type")
    )


def salted_agg(events: DataFrame, n_salt: int = 16) -> DataFrame:
    """Two-phase skew-safe aggregate (E8): count + sum per event_type.

    Phase 1 groups by (key, salt) — a hot key spreads over ``n_salt``
    reducers; phase 2 merges the ≤n_salt partials per key. Result is
    identical to a plain groupBy (the oracle checks exactly that), but the
    max per-reducer load drops from |hot key| to |hot key|/n_salt.
    """
    salt = (F.hash("event_id") % n_salt + n_salt) % n_salt
    partial = (
        events.withColumn("__salt", salt)
        .groupBy("event_type", "__salt")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.col("value").cast(DEC)).alias("s"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.round(F.sum("s"), 2).cast("double").alias("sum_value"),
        )
        .orderBy("event_type")
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Classic retention cohorts: users bucketed by the week of their FIRST
    event; n_users = distinct users from cohort c active in week w — the
    (cohort_week, active_week) matrix behind every retention curve.

    Plan: ONE corpus shuffle. first-seen (min ts) and the distinct active
    weeks (collect_set of the truncated ts — bounded: weeks-per-user, not
    events-per-user) compute in a single groupBy(user_id) with map-side
    partial aggregation; exploding the set and rolling up on bounded
    (week, week) keys needs no join at all — versus the textbook
    groupBy + distinct + join shape, which shuffles the events three
    times. date_trunc is monotone so trunc(min(ts)) ≡ min(trunc(ts)) —
    mirrored verbatim in the oracle.
    """
    per_user = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week"),
        F.collect_set(F.date_trunc("week", F.col("ts"))).alias("weeks"),
    )
    return (
        per_user.select("cohort_week", F.explode("weeks").alias("active_week"))
        .groupBy("cohort_week", "active_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_week", "active_week")
    )


def event_funnel(
    events: DataFrame, steps: tuple[str, ...] = ("view", "click", "purchase")
) -> DataFrame:
    """Ordered conversion funnel over the events stream: n_users reaching
    each step, where reaching step k means an event of type steps[k]
    STRICTLY AFTER the user's step-(k-1) time (first-touch semantics:
    each step's timestamp is the earliest qualifying event). conv_pm =
    floor(1000 * n_k / n_0) — per-mille conversion vs the funnel entry
    (exact cross-engine: integer-ratio floor, see quality_classifier).

    Plan: the classic chained-join funnel — step k is a filter on
    event_type (parquet-pushed: each pass scans ONLY its type's row
    groups) joined to the step-(k-1) per-user times on user_id, then a
    min() groupBy on the same user_id key — every shuffle in the chain is
    keyed by uniform user_id, so AQE reuses co-partitioning and no key
    skews with corpus size. Per-step outputs are one-row aggregates; the
    final frame is their union cross-joined with the one-row entry count
    (AQE broadcasts trivially, no hint)."""
    e = events.select("user_id", "event_type", "ts")
    cur = (
        e.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    stage_rows = []
    for i, s in enumerate(steps):
        if i > 0:
            cur = (
                e.filter(F.col("event_type") == s)
                .join(cur, "user_id")
                .filter(F.col("ts") > F.col("t"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("t"))
            )
        stage_rows.append(
            cur.agg(F.count(F.lit(1)).cast("long").alias("n_users")).select(
                F.lit(i).alias("step_idx"), F.lit(s).alias("step"), "n_users"
            )
        )
    out = stage_rows[0]
    for r in stage_rows[1:]:
        out = out.unionAll(r)
    entry = (
        e.filter(F.col("event_type") == steps[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
        .agg(F.count(F.lit(1)).cast("long").alias("n0"))
    )
    return (
        out.crossJoin(entry)
        .select(
            "step_idx",
            "step",
            "n_users",
            F.when(
                F.col("n0") > 0,
                F.floor(F.col("n_users").cast("double") * 1000.0 / F.col("n0").cast("double")),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("conv_pm"),
        )
        .orderBy("step_idx")
    )


def session_event_paths(
    events: DataFrame, gap_seconds: int = 1800, max_len: int = 8, top: int = 20
) -> DataFrame:
    """Top event-type paths per gap-sessionized user journey: sessionize
    each user's events with an inactivity gap, render the session's first
    ``max_len`` event types (strict (ts, event_id) order — event_id is the
    unique tiebreak, so paths are deterministic under same-ts events) as a
    '>'-joined path string, then report the ``top`` most common paths with
    session and distinct-user counts — the CEP-flavored "what do journeys
    look like" rollup next to q29's single-pattern funnel.

    Plan: ONE user_id-keyed shuffle feeds both the lag-based session
    boundary and the running session id (same window frame, exchange
    reused); session assembly is a groupBy on (user_id, session) which
    arrives already partitioned by user_id (no second exchange of the
    events). Per-user row counts are bounded by user activity — journeys,
    not corpus size — so the user window never concentrates SF growth on
    one task. The path rollup is a bounded-key aggregate (path strings are
    capped at max_len types) and the final top-k is orderBy+limit, which
    Spark executes as TakeOrdered (per-partition partial top-k, no global
    sort). All-integer counts; the gap test is timestamp-interval
    arithmetic (exact microsecond integers inside both engines, and
    timezone-proof — works on TIMESTAMP and TIMESTAMP_NTZ alike; no float
    epoch anywhere)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    is_new = (
        F.when(prev.isNull(), F.lit(1))
        .when(F.col("ts") > prev + F.expr(f"INTERVAL {int(gap_seconds)} SECOND"), F.lit(1))
        .otherwise(F.lit(0))
    )
    sess = (
        events.select("user_id", "ts", "event_id", "event_type")
        .withColumn("__sid", F.sum(is_new).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    paths = (
        sess.groupBy("user_id", "__sid")
        .agg(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias("__ev")
        )
        .select(
            "user_id",
            F.array_join(
                F.slice(F.transform(F.col("__ev"), lambda s: s["event_type"]), 1, max_len), ">"
            ).alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sessions"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(top)
    )
