"""Windowed aggregation operators: tumbling / sliding / session.

The reference has no windowing (SURVEY.md §2.8) — these come from the north
rule. Everything is a Spark built-in (`window`, `session_window`) so Catalyst
plans a partial+final hash aggregate with map-side combine; no Python runs.

Window starts are emitted as epoch seconds (bigint) so results hash
identically against the DuckDB oracle regardless of timestamp rendering.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Windows and gaps are module constants, not per-call options: the
# registry's oracle SQL hard-codes the same values, and the streaming
# pipelines (streaming/pipeline.py) window by the same ones.
WIDTH = "5 minutes"  # tumbling window; the sliding window slides by it
SLIDING_WIDTH = "10 minutes"
SESSION_GAP = "90 seconds"  # per-doc shard sessions
EVENTS_SESSION_GAP = "30 minutes"  # per-user event sessions
LATE_DELAY_SEC = 1800  # would_be_late_audit's watermark delay
ANOMALY_LOOKBACK = 6  # trailing windows of the anomaly baseline
ROLLING_DAYS = 7  # rolling_user_features' trailing calendar days


def tumbling_token_throughput(tokens: DataFrame) -> DataFrame:
    """Per-source token throughput per tumbling window.

    The flagship aggregate of the engine (north rule: "per-source
    token-throughput aggregates"). Map-side partial aggregation applies;
    the shuffle key is (window, source) — low cardinality, no skew.
    """
    return (
        tokens
        .groupBy(F.window("ts", WIDTH).alias("w"), "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"),
             F.countDistinct("doc_id").alias("n_doc"))
        .select(F.unix_timestamp("w.start").alias("ws"),
                "source", "n_seq", "sum_tok", "n_doc")
    )


def sliding_token_throughput(tokens: DataFrame) -> DataFrame:
    """Sliding-window variant; each row lands in SLIDING_WIDTH/WIDTH
    windows."""
    return (
        tokens
        .groupBy(F.window("ts", SLIDING_WIDTH, WIDTH).alias("w"), "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .select(F.unix_timestamp("w.start").alias("ws"),
                "source", "n_seq", "sum_tok")
    )


def session_token_windows(tokens: DataFrame) -> DataFrame:
    """Per-doc session windows: shards separated by more than SESSION_GAP
    start a new session. Spark's session end = last event + gap; the
    oracle mirrors that with a gaps-and-islands rewrite."""
    return (
        tokens
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "doc_id")
        .agg(F.count("*").alias("n_shard"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .select("doc_id",
                F.unix_timestamp("w.start").alias("session_start"),
                F.unix_timestamp("w.end").alias("session_end"),
                "n_shard", "sum_tok")
    )


def sessionize_events(events: DataFrame) -> DataFrame:
    """Sessionization of the generic event stream per user
    (session_window groupBy → per-user rollup). Oracle-gated through
    the ``events_sessionization`` query, which calls this operator."""
    sess = (
        events
        .groupBy(F.session_window("ts", EVENTS_SESSION_GAP).alias("w"),
                 "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    return (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.max("n_events").alias("max_session_events"),
             F.sum("n_events").cast("bigint").alias("total_events"))
    )


def gap_fill_daily(events: DataFrame) -> DataFrame:
    """Time-series resample with gap fill: per-user daily activity with
    missing days materialized as explicit zero rows between each user's
    first and last active day — the regularization step before any
    rolling-window model sees the series (a missing day must read as 0,
    not be silently absent).

    Scale shape: the day grid is generated WITH ``sequence`` + ``explode``
    per user (bounded by that user's span, never a global calendar cross
    join), and the fill join is an equi-join on (user_id, day) — the same
    key both sides were just aggregated/generated on, so AQE plans it as
    one co-partitioned shuffle. Days are emitted as days-since-epoch ints
    so hashes never depend on date rendering.
    """
    return _gap_fill_decimal(events).select(
        "user_id", "day_no", "n_events",
        F.col("day_value_dec").cast("double").alias("day_value"), "is_gap")


def _gap_fill_decimal(events: DataFrame) -> DataFrame:
    """Internal gap fill keeping money in DECIMAL(18,2) — downstream
    rolling sums must never round-trip through binary double (exact
    only for small values; the oracle never leaves DECIMAL)."""
    daily = (
        events.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("n_events"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("day_value"))
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            F.datediff("day", F.lit("1970-01-01")).cast("int").alias("day_no"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            F.coalesce(F.col("day_value"), F.lit(0))
            .cast("decimal(18,2)").alias("day_value_dec"),
            (F.col("n_events").isNull()).cast("int").alias("is_gap"))
    )


def would_be_late_audit(tokens: DataFrame) -> DataFrame:
    """Batch audit of the late-data policy: rows older than
    max(event_time) - LATE_DELAY_SEC would be dropped by a watermark of
    that delay.
    Mirrors the reference's dangling-edge drop-and-count policy
    (TinkerPopGraphEncoder.java:103-110) as drop-late-and-count.

    The global max is a 1-row aggregate broadcast back — NOT an
    unpartitioned window function, which would funnel all rows through a
    single task at 100 TB.
    """
    max_ts = tokens.agg(F.max("ts").alias("max_ts"))
    return (
        tokens.crossJoin(F.broadcast(max_ts))
        .withColumn("is_late",
                    (F.col("ts") < F.col("max_ts") - F.expr(
                        f"INTERVAL {LATE_DELAY_SEC} SECONDS")).cast("int"))
        .groupBy("source")
        .agg(F.sum("is_late").cast("bigint").alias("n_late"),
             F.count("*").alias("n_total"))
    )


def token_rate_anomalies(tokens: DataFrame) -> DataFrame:
    """Self-baselined throughput anomaly scan: each (source, WIDTH
    window) token volume is scored against the mean of its own trailing
    ANOMALY_LOOKBACK windows; deviation is an integer permille
    (vol * 1000 * n_prev) div sum_prev — exact integer division, so
    the monitor's flags are engine-exact even past 2^53 (the
    production alert threshold must not depend on float rounding).
    Windows with no history score 1000 (baseline); a window whose
    whole trailing baseline is ZERO volume scores 2000 (resume after
    silence — anomalous) when it has volume, 1000 when it is also
    silent — never a division by zero (Spark 4 ANSI mode would throw).

    Known limit (shared with the oracle, documented not hidden): the
    trailing frame is a ROWS window over PRESENT windows — zero-volume
    windows that produce no rows at all don't occupy frame slots, so
    the baseline is "last N active windows", not "last N calendar
    windows". The gap-filled calendar variant is rolling_user_features
    / gap_fill_daily below.

    Scale shape: the anomaly pass runs OVER the windowed aggregate
    (already one map-side-combined shuffle); the trailing frame is a
    per-source ROWS window — partition key = source, never global.
    """
    from pyspark.sql.window import Window

    agg = (
        tokens.groupBy(F.window("ts", WIDTH).alias("w"), "source")
        .agg(F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .select(F.unix_timestamp("w.start").alias("ws"), "source", "sum_tok")
    )
    trail = (Window.partitionBy("source").orderBy("ws")
             .rowsBetween(-ANOMALY_LOOKBACK, -1))
    return (
        agg
        .withColumn("trail_sum", F.sum("sum_tok").over(trail))
        .withColumn("trail_cnt", F.count("sum_tok").over(trail))
        .withColumn(
            "dev_permille",
            F.when((F.col("trail_cnt") > 0) & (F.col("trail_sum") > 0),
                   F.expr("(sum_tok * 1000L * trail_cnt) div trail_sum"))
            .when(F.col("trail_cnt") > 0,
                  F.when(F.col("sum_tok") > 0, 2000).otherwise(1000))
            .otherwise(1000).cast("bigint"))
        .select("ws", "source", "sum_tok",
                F.coalesce("trail_sum", F.lit(0)).cast("bigint")
                .alias("trail_sum"),
                F.coalesce("trail_cnt", F.lit(0)).cast("bigint")
                .alias("trail_cnt"),
                "dev_permille",
                ((F.col("dev_permille") > 1500)
                 | (F.col("dev_permille") < 500)).cast("int")
                .alias("is_anomaly"))
    )


def rolling_user_features(events: DataFrame) -> DataFrame:
    """Rolling-window feature engineering over the GAP-FILLED daily
    series: per user-day, trailing ROLLING_DAYS totals including the
    explicit zero days — the feature a model actually wants ("activity
    in the last 7 calendar days"), which is wrong if computed over the
    sparse series (ROWS frames skip missing days; the resample makes
    ROWS == calendar days).

    Scale shape: inherits gap_fill_daily's one co-partitioned shuffle,
    then a per-user ROWS window — partition key = user_id, never
    global. Money stays DECIMAL until the final render.
    """
    from pyspark.sql.window import Window

    filled = _gap_fill_decimal(events)
    w = (Window.partitionBy("user_id").orderBy("day_no")
         .rowsBetween(-(ROLLING_DAYS - 1), 0))
    return (
        filled
        .withColumn("roll_events",
                    F.sum("n_events").over(w).cast("bigint"))
        .withColumn("roll_value",
                    F.sum("day_value_dec").over(w)
                    .cast("decimal(18,2)").cast("double"))
        .withColumn("active_days",
                    F.sum((F.col("n_events") > 0).cast("int")).over(w)
                    .cast("int"))
        .select("user_id", "day_no", "n_events", "roll_events",
                "roll_value", "active_days")
    )


def multires_rollup_chain(events: DataFrame) -> DataFrame:
    """Hierarchical continuous-aggregate chain (the hypertable rollup
    pattern): minute-level aggregates roll up into hours, hours into
    days, and the DAY level is what's returned — computed strictly
    through the chain, never from raw rows. Correct re-aggregation
    demands algebraic (decomposable) aggregates: counts sum, DECIMAL
    sums sum, and each level's row count becomes the next level's
    active-bucket count. The oracle computes the day level DIRECTLY
    from raw events, so parity proves the chain loses nothing.

    Scale shape: this is how a 100 TB metrics store avoids rescanning
    raw data — each rollup reads the (much smaller) previous level; the
    three shuffles are keyed by successively coarser buckets, and the
    minute level is the only one that ever sees raw rows. Money goes
    through DECIMAL so the sums are associative (double addition is
    not, and a chained double sum would drift from any direct oracle).
    """
    minute = (
        events.groupBy(F.date_trunc("minute", "ts").alias("m"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    )
    hour = (
        minute.groupBy(F.date_trunc("hour", "m").alias("h"))
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"),
             F.count("*").alias("n_minutes"))
    )
    day = (
        hour.groupBy(F.date_trunc("day", "h").alias("d"))
        .agg(F.sum("n").alias("n"), F.sum("v").alias("v"),
             F.sum("n_minutes").alias("n_minutes"),
             F.count("*").alias("n_hours"))
    )
    return day.select(
        F.unix_timestamp("d").alias("ws"),
        F.col("n").cast("bigint").alias("n_events"),
        F.round(F.col("v"), 2).cast("double").alias("sum_value"),
        F.col("n_minutes").cast("bigint").alias("n_active_minutes"),
        F.col("n_hours").cast("bigint").alias("n_active_hours"),
    )


def dynamic_gap_sessions(events: DataFrame) -> DataFrame:
    """Session windows whose inactivity gap is a PER-EVENT expression
    (purchase events hold a session open for 1 hour, everything else 30
    minutes) — the dynamic-gap form of sessionization used when
    different activity kinds have different engagement half-lives.
    Spark evaluates the gap per row and merges overlapping [ts, ts+gap)
    windows in the native session-window operator; the oracle replays
    the merge as a gaps-and-islands scan with a running max of window
    ends, so parity proves the operator's half-open merge semantics.

    All merge decisions compare full-precision timestamps (event
    timestamps carry microseconds); only the reported epochs are
    floored. Per-user rollup on top: one shuffle for the session
    aggregation (keyed user), one for the rollup (same key — Catalyst
    reuses the partitioning).
    """
    # string interval literals: the dynamic-gap session_window requires
    # CalendarIntervalType (a DayTimeInterval CASE expression is rejected)
    gap = F.when(F.col("event_type") == "purchase", "1 hour") \
        .otherwise("30 minutes")
    sess = (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", "n_events",
                F.unix_timestamp("w.start").alias("s_start"),
                F.unix_timestamp("w.end").alias("s_end"))
    )
    return (
        sess.groupBy("user_id")
        .agg(F.count("*").alias("n_sessions"),
             F.sum("n_events").cast("bigint").alias("total_events"),
             F.max("n_events").cast("bigint").alias("max_session_events"),
             F.sum(F.col("s_end") - F.col("s_start")).cast("bigint")
             .alias("total_dur_sec"))
    )


def event_type_daily_trend(events: DataFrame) -> DataFrame:
    """Exact least-squares daily trend per event type: aggregate to the
    (type, UTC day) grid, center x per type (slope is shift-invariant;
    centering keeps every product comfortably in bigint), then the
    closed-form slope (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) reported as a
    floor(×1000) integer. All arithmetic is exact bigint until the final
    division, so the DuckDB oracle reproduces it bit-for-bit; a
    single-day type has zero variance and reports NULL.

    Scale shape: the raw-row pass is one map-side-combined count to the
    day grid; every later stage runs over |types|·|days| rows. No
    per-row Python, no global window."""
    from pyspark.sql.window import Window

    daily = (
        events.groupBy(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"))
        .agg(F.count("*").alias("y"))
    )
    x = (F.col("day")
         - F.min("day").over(Window.partitionBy("event_type"))).alias("x")
    centered = daily.select("event_type", x, "y")
    s = centered.groupBy("event_type").agg(
        F.count("*").alias("n_days"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"))
    nd = s.select(
        "event_type", "n_days", "sy",
        (F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .alias("num"),
        (F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .alias("den"))
    # floor(num*1000/den) computed in PURE bigint arithmetic (den > 0 by
    # construction): float division would round in the double mantissa
    # past 2^53. Sign-normalize so both operands are non-negative —
    # there Spark's `div` (trunc) and DuckDB's `//` agree exactly, and
    # the negative branch's ceiling adjustment reproduces floor.
    return nd.select(
        "event_type", "n_days", F.col("sy").alias("total_events"),
        F.when(F.col("den") != 0,
               F.when(F.col("num") >= 0,
                      F.expr("(num * 1000) div den"))
               .otherwise(-F.expr("((-num) * 1000 + den - 1) div den")))
        .otherwise(F.lit(None)).cast("bigint").alias("slope_milli"))
