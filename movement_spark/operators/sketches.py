"""Probabilistic-sketch operators with DETERMINISTIC arithmetic hashes.

Companion to the KMV distinct-count sketch in queries.py: every hash is
plain a*x+b mod p integer arithmetic (never an engine hash builtin), so
the sketches themselves — not just their inputs — are bit-reproducible
in any engine and the DuckDB oracle can recompute them exactly.

Scale shapes:
- Count-min: the sketch is an ADDITIVE d×w counter grid, so it is built
  from per-key partial counts with ordinary map-side-combined
  aggregation — the grid (d*w rows) is tiny no matter how many keys
  stream through, which is the whole point at 10^12 keys.
- Bloom pruning: the filter is built once from the (small) build side,
  packed into a 64-long bitmap literal that ships inside the plan to
  every executor — the probe side is tested per-row with two shifts and
  a mask, ZERO shuffle added to the probe scan. This is the manual form
  of the runtime-filter pushdown a warehouse engine injects before an
  expensive shuffle join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

CMS_P = (1 << 31) - 1
CMS_W = 512               # counters per hash row
CMS_D = 4                 # hash rows
# multipliers wrap CMS_P many times even for small consecutive key
# ranges (same requirement as the KMV note in queries.py)
CMS_AB = ((1_103_515_245, 12_345), (1_337_888_347, 54_321),
          (2_027_485_571, 98_765), (746_959_771, 42_424))

# Fixed watchlist for the streaming CMS monitor's read-side fold —
# arbitrary token ids spread across the TOK_MOD=50261 universe (some
# hot, some absent at fixture SFs; both cases are part of the
# contract: absent tokens must estimate as small-or-zero, never error).
CMS_WATCH = (13, 6300, 12587, 18874, 25161, 31448, 37735, 44022)

BLOOM_M = 4096            # bits
BLOOM_K = 3               # hashes per key
BLOOM_AB = ((1_103_515_245, 17), (2_027_485_571, 8_191),
            (1_337_888_347, 524_287))


def _cms_cell(key: Column, j: int) -> Column:
    # key widened to bigint BEFORE the multiply: an int32 key times the
    # ~2^30 multiplier overflows int32 under ANSI mode (observed live on
    # the streaming monitor's int32 token column; o_custkey was already
    # wide enough to mask it)
    a, b = CMS_AB[j]
    return ((F.lit(a) * key.cast("bigint") + F.lit(b)) % CMS_P) % CMS_W


def cms_cell_sql(col: str) -> str:
    """The CMS cell hash as an ANSI-SQL CASE over hash-row index ``j``
    — generated from CMS_AB so the DuckDB oracles (batch heavy-hitters
    and the streaming CMS monitor) can never drift from _cms_cell's
    constants."""
    whens = "\n  ".join(
        f"WHEN {j} THEN (({a} * {col} + {b}) % {CMS_P}) % {CMS_W}"
        for j, (a, b) in enumerate(CMS_AB[:-1]))
    a, b = CMS_AB[-1]
    return (f"CASE j\n  {whens}\n  ELSE (({a} * {col} + {b})"
            f" % {CMS_P}) % {CMS_W} END")


CMS_TOP_N = 10


def cms_heavy_hitters(df: DataFrame, key: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-CMS_TOP_N
    keys.

    Builds the d×w counter grid from per-key partial counts (additivity
    makes that identical to per-row updates), then reports, for the N
    most frequent keys, the exact count next to the sketch's estimate
    min_j(cell[j][h_j(k)]) and its (always ≥ 0) overestimate — the
    accuracy audit a heavy-hitters monitor runs before trusting the
    sketch at a scale where exact counting is unaffordable.
    One key-shuffle for the exact counts; the grid and top-N are tiny
    and broadcast.
    """
    k = F.col(key)
    counts = df.groupBy(key).agg(F.count("*").alias("cnt"))
    probe = F.array(*[
        F.struct(F.lit(j).alias("j"), _cms_cell(k, j).alias("cell"))
        for j in range(CMS_D)])
    hashed = counts.select(key, "cnt", F.explode(probe).alias("h")) \
                   .select(key, "cnt", "h.j", "h.cell")
    cells = hashed.groupBy("j", "cell").agg(
        F.sum("cnt").cast("bigint").alias("cell_cnt"))
    top = counts.orderBy(F.desc("cnt"), F.asc(key)).limit(CMS_TOP_N)
    top_hashed = top.select(key, "cnt", F.explode(probe).alias("h")) \
                    .select(key, "cnt", "h.j", "h.cell")
    return (
        top_hashed.join(F.broadcast(cells), ["j", "cell"])
        .groupBy(key, "cnt")
        .agg(F.min("cell_cnt").alias("cms_est"))
        .select(k.cast("bigint").alias("key"),
                F.col("cnt").cast("bigint").alias("exact_cnt"),
                F.col("cms_est"),
                (F.col("cms_est") - F.col("cnt")).cast("bigint")
                .alias("overestimate"))
    )


def cms_watch_estimates(grid: DataFrame, keys: list[str],
                        watch: tuple[int, ...]) -> DataFrame:
    """Frequency estimates for a fixed WATCHLIST of keys from an
    additive CMS grid — the read-side fold of the streaming CMS
    monitor (streaming/pipeline.py:run_streaming_cms_monitor).

    ``grid`` holds (keys..., j, cell, cnt) counter rows; the estimate
    for a watched key is min_j(coalesce(cell_cnt, 0)) — a cell no row
    ever hashed into has no grid row, and its absence means count 0
    (the sketch never under-counts, so 0 is exact there). The grid is
    windows × sources × d × w rows however many distinct tokens stream
    through — the watchlist can be decided AFTER the stream ran, which
    is the operational point: you keep the bounded grid, not the
    corpus, and still answer per-window frequency questions later.
    The probe frame is |windows| × |watch| × d rows (tiny) joined
    against the grid on its natural key."""
    groups = grid.select(*keys).distinct()
    probe = groups.select(
        *keys,
        F.explode(F.array(*[F.lit(t) for t in watch])).alias("token"))
    probe = (
        probe.select(
            *keys, "token",
            F.explode(F.array(*[
                F.struct(F.lit(j).alias("j"),
                         _cms_cell(F.col("token"), j).alias("cell"))
                for j in range(CMS_D)])).alias("h"))
        .select(*keys, "token", "h.j", "h.cell"))
    return (
        probe.join(grid, [*keys, "j", "cell"], "left")
        .groupBy(*keys, "token")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0)))
             .cast("bigint").alias("cms_est"))
        .withColumn("token", F.col("token").cast("bigint"))
    )


def _bloom_pos(key: Column, j: int) -> Column:
    a, b = BLOOM_AB[j]
    return ((F.lit(a) * key + F.lit(b)) % CMS_P) % BLOOM_M


def bloom_bitmap(build: DataFrame, key: str) -> list[int]:
    """Pack the build side's BLOOM_K bit positions into BLOOM_M/64
    signed 64-bit words. The collect is control-plane only — it moves
    at most BLOOM_M distinct positions (the filter itself), never rows;
    production would use the identical bytes as a broadcast variable."""
    k = F.col(key)
    pos_rows = (
        build.select(F.explode(F.array(
            *[_bloom_pos(k, j) for j in range(BLOOM_K)])).alias("pos"))
        .distinct().collect())
    words = [0] * (BLOOM_M // 64)
    for r in pos_rows:
        words[r.pos // 64] |= 1 << (r.pos % 64)
    # to signed 64-bit for LongType literals
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prune_stats(probe: DataFrame, probe_key: str,
                      build: DataFrame, build_key: str) -> DataFrame:
    """Bloom-filter join pruning audit: how many probe rows the filter
    passes vs the exact semi join — the decision data for injecting a
    runtime pre-filter ahead of a shuffle join (rows the bloom rejects
    never enter the exchange). Probe-side test is two shifts + a mask
    against an in-plan bitmap literal (zero added shuffle); n_false_neg
    is structurally 0 and reported so the oracle proves it.
    """
    # persisted: the distinct build side is consumed three times
    # (bitmap collect, n_build count, probe join) — one scan, not three
    keys = build.select(F.col(build_key).alias("bk")).distinct().persist()
    words = bloom_bitmap(keys, "bk")
    arr = "array(" + ", ".join(f"{w}L" for w in words) + ")"
    tests = []
    for j in range(BLOOM_K):
        a, b = BLOOM_AB[j]
        pos = f"((({a}L * {probe_key} + {b}) % {CMS_P}) % {BLOOM_M})"
        tests.append(
            f"(shiftright(element_at({arr}, cast({pos} div 64 as int) + 1), "
            f"cast({pos} % 64 as int)) & 1) = 1")
    passes = F.expr(" AND ".join(tests))
    pk = F.col(probe_key)
    flagged = (
        probe.join(F.broadcast(keys), pk == F.col("bk"), "left")
        .select(passes.cast("int").alias("all_hit"),
                F.col("bk").isNotNull().cast("int").alias("is_true"))
    )
    n_build = keys.count()
    summary = (
        flagged.agg(
            F.count("*").alias("n_probe"),
            F.sum("all_hit").cast("bigint").alias("n_passed"),
            F.sum("is_true").cast("bigint").alias("n_true"),
            F.sum(((F.col("all_hit") == 1) & (F.col("is_true") == 0))
                  .cast("int")).cast("bigint").alias("n_false_pos"),
            F.sum(((F.col("is_true") == 1) & (F.col("all_hit") == 0))
                  .cast("int")).cast("bigint").alias("n_false_neg"))
        .withColumn("n_build", F.lit(n_build).cast("bigint"))
    )
    # one-row audit: materialize so the cached build side can be freed
    row = summary.collect()[0]
    keys.unpersist()
    return probe.sparkSession.createDataFrame(
        [row], schema=("n_probe bigint, n_passed bigint, n_true bigint, "
                       "n_false_pos bigint, n_false_neg bigint, "
                       "n_build bigint"))


LL_M = 64  # registers


def loglog_register_profile(df: DataFrame, key: str) -> DataFrame:
    """LogLog register-grid distinct sketch audit — the register-family
    counterpart to the KMV sketch in queries.py (HyperLogLog's layout,
    kept integer-exact): hash each distinct key with a*x+b mod p, route
    it to one of LL_M registers (h % m), record the BIT LENGTH of the
    remaining hash bits, and keep each register's max.

    The m-register grid is fixed-size however many keys stream through —
    the bounded-memory distinct path at 10^12 keys — and max() is what
    makes the build a plain map-side-combined aggregate. The estimate
    here is the uncorrected integral LogLog form m * 2^(mean max
    bitlen); HLL's harmonic mean + alpha bias correction are float
    post-processing deliberately left out so sketch AND estimate are
    bit-reproducible cross-engine. The audit emits exact_distinct next
    to the sketch, which is the calibration a deployment does before
    trusting it.
    """
    a, b = CMS_AB[0]
    keys = df.select(F.col(key).alias("k")).distinct()
    regs = keys.selectExpr(
        f"(({a}L * k + {b}) % {CMS_P}) % {LL_M} AS reg",
        f"length(bin((({a}L * k + {b}) % {CMS_P}) div {LL_M})) AS bl")
    grid = regs.groupBy("reg").agg(F.max("bl").alias("max_bl"))
    summary = grid.agg(
        F.count("*").alias("registers_used"),
        F.sum("max_bl").cast("bigint").alias("sum_max_bitlen"),
        F.max("max_bl").cast("bigint").alias("max_bitlen"))
    n = keys.agg(F.count("*").alias("exact_distinct"))
    return (
        summary.crossJoin(F.broadcast(n))
        .withColumn(
            "sketch_estimate",
            F.expr(f"shiftleft(cast({LL_M} as bigint), "
                   f"cast(sum_max_bitlen div {LL_M} as int))"))
    )


def loglog_window_fold(grid: DataFrame, keys: list[str]) -> DataFrame:
    """Fold per-key LogLog register grids into sketch summaries — the
    read-side fold of the streaming LogLog monitor
    (streaming/pipeline.py:run_streaming_loglog_monitor).

    ``grid`` holds (keys..., reg, max_bl) register rows (max bit length
    seen per register); the summary per key group mirrors
    loglog_register_profile's batch output minus exact_distinct — the
    streaming monitor deliberately has no exact side-channel, because
    per-window distinct state is exactly what the sketch exists to
    avoid at 10^12 keys. Registers merge across shards, retries, and
    checkpoint resumes by MAX, so the fold is replay-stable."""
    return (
        grid.groupBy(*keys)
        .agg(F.count("*").alias("registers_used"),
             F.sum("max_bl").cast("bigint").alias("sum_max_bitlen"),
             F.max("max_bl").cast("bigint").alias("max_bitlen"))
        .withColumn(
            "sketch_estimate",
            F.expr(f"shiftleft(cast({LL_M} as bigint), "
                   f"cast(sum_max_bitlen div {LL_M} as int))"))
    )


# Shared by kmv_distinct_sketch (queries.py) and kmv_set_algebra —
# the single source of truth for the parity-critical a*x+b mod p
# constants. The multiplier must be large enough that a*x WRAPS p many
# times even for small consecutive key ranges — with a small multiplier
# the hashes of keys 0..n form a short arithmetic progression near zero
# and the k-th minimum wildly under-represents the range (estimate off
# by 100×+, caught by tests/test_sketches.py::test_kmv_estimate_within_20pct).
KMV_A, KMV_B, KMV_P, KMV_K = 1_103_515_245, 12_345, (1 << 31) - 1, 64
KMV_TYPE_A, KMV_TYPE_B = "click", "purchase"  # kmv_set_algebra's two sets


def _kmv_sketch(keys: DataFrame) -> DataFrame:
    """KMV_K smallest distinct hashes of a one-column key frame — the KMV
    sketch as a (tiny) DataFrame. The global min-k is a TopK plan
    (partial per-partition min-k, then one k-row merge), not a full
    sort."""
    col = keys.columns[0]
    return (
        keys.select(((F.lit(KMV_A) * F.col(col) + KMV_B) % KMV_P)
                    .alias("h"))
        .distinct().orderBy(F.asc("h")).limit(KMV_K)
    )


def _kmv_estimate(sketch: DataFrame):
    """One-row (n, est) from a sketch: exact count when the sketch holds
    the whole set (n < k), else the (k-1)*p/h_k KMV estimator
    (k = KMV_K)."""
    return sketch.agg(
        F.count("*").alias("n"),
        F.when(F.count("*") < KMV_K, F.count("*"))
        .otherwise(F.floor((KMV_K - 1) * F.lit(float(KMV_P)) / F.max("h")))
        .cast("bigint").alias("est"))


def kmv_set_algebra(events: DataFrame) -> DataFrame:
    """Mergeable-sketch SET ALGEBRA: KMV sketches of two user sets (users
    with a KMV_TYPE_A event, users with a KMV_TYPE_B event), merged
    WITHOUT revisiting the raw data — the property that lets a warehouse
    answer "distinct users in A∪B / A∩B" from per-segment sketches
    instead of a giant distinct shuffle.

    Union: the k smallest of the two sketches' union is exactly the KMV
    sketch of A∪B (min-k is mergeable), so the union estimate reuses the
    same estimator. Intersection: of the merged sketch's members, the
    fraction present in BOTH input sketches estimates the Jaccard ratio;
    est(A∩B) = floor(k_both * est(A∪B) / k_merged). Every value is
    integer/deterministic (the same a*x+b mod p hash as the distinct
    sketch), so the oracle replays the algebra exactly. Sets smaller
    than k degrade to exact counts — both branches are data-tested.

    Scale shape: two distinct-hash TopK scans (or one scan with a
    conditional split) produce k-row relations; everything after — the
    merge, the membership joins, the estimates — is arithmetic on
    2k rows, broadcast-joinable by construction.
    """
    sa = _kmv_sketch(
        events.where(F.col("event_type") == KMV_TYPE_A).select("user_id"))
    sb = _kmv_sketch(
        events.where(F.col("event_type") == KMV_TYPE_B).select("user_id"))
    sa, sb = sa.persist(), sb.persist()
    merged = sa.unionAll(sb).distinct().orderBy(F.asc("h")).limit(KMV_K) \
        .persist()
    in_both = (
        merged.join(sa, "h", "semi").join(sb, "h", "semi")
        .agg(F.count("*").alias("k_both")))
    est_u = _kmv_estimate(merged).select(
        F.col("n").alias("k_merged"), F.col("est").alias("est_union"))
    out = (
        _kmv_estimate(sa).select(F.col("est").alias("est_a"))
        .crossJoin(_kmv_estimate(sb).select(F.col("est").alias("est_b")))
        .crossJoin(est_u)
        .crossJoin(in_both)
        .select("est_a", "est_b", "est_union", "k_merged",
                F.col("k_both").cast("bigint").alias("k_both"),
                F.expr("cast((k_both * est_union) div k_merged as bigint)")
                .alias("est_intersect"))
    )
    rows = out.collect()
    for c in (sa, sb, merged):
        c.unpersist()
    return events.sparkSession.createDataFrame(
        rows, schema="est_a bigint, est_b bigint, est_union bigint, "
                     "k_merged bigint, k_both bigint, est_intersect bigint")


# Histogram quantile sketch: the missing member of the sketch family
# (count-min = frequency, Bloom = membership, KMV/LogLog = distinct,
# this = quantiles). The state is a fixed equi-width counter grid —
# ADDITIVE, so it merges across partitions, shards, or stream windows
# by summing counts, and the quantile read carries a deterministic
# error bound of one bucket width.
QSK_WIDTH = 16            # bucket width (value units)
QSK_BUCKETS = 64          # grid size; values >= width*buckets clamp
QSK_PS = (50, 90, 99)     # the percentiles every quantile read reports


def histogram_quantile_profile(df: DataFrame) -> DataFrame:
    """Per-source quantile estimates of ``n_chars`` from a fixed
    64-bucket equi-width
    histogram: p-th quantile ~ the lower edge of the first bucket whose
    cumulative count reaches ceil(p*n/100). The true quantile lies in
    [edge, edge + QSK_WIDTH) whenever values stay under the clamp — a
    DETERMINISTIC error bound, unlike a sampled sketch.

    Scale shape: ONE (key, bucket) aggregate shuffle builds the grid —
    map-side combinable, <= n_keys*64 rows no matter how many rows
    stream through (the whole point at 10^12 rows, where exact
    percentile's per-group sort is unaffordable). The cumulative walk
    and the quantile picks run on that tiny grid. At 100 TB the grid is
    also the MERGEABLE state: per-shard histograms sum into the global
    one, and a streaming form carries it per window (the same additive
    contract as cms_heavy_hitters' grid).
    """
    bucket = F.least(F.expr(f"n_chars div {QSK_WIDTH}"),
                     F.lit(QSK_BUCKETS - 1))
    hist = (df.groupBy(F.col("source"), bucket.alias("bucket"))
              .agg(F.count("*").alias("cnt")))
    return histogram_quantile_fold(hist, ["source"], n_alias="n_docs")


def histogram_quantile_fold(hist: DataFrame, keys: list[str],
                            width: int = QSK_WIDTH,
                            n_alias: str = "n_rows") -> DataFrame:
    """Quantile read over a PREBUILT additive histogram — the fold the
    batch profile and the streaming per-window monitor share: the grid
    arrives as (keys..., bucket, cnt) rows (summed from any number of
    shards or stream epochs), the cumulative walk and the
    ceil(p*n/100) picks run entirely on that histogram-sized frame."""
    from pyspark.sql.window import Window

    w_cum = (Window.partitionBy(*keys).orderBy("bucket")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (hist
           .withColumn("cum", F.sum("cnt").over(w_cum))
           .withColumn("_n", F.sum("cnt").over(Window.partitionBy(*keys))))
    picks = [
        F.min(F.when(
            F.col("cum") >= F.expr(f"({p} * _n + 99) div 100"),
            F.col("bucket") * width)).cast("bigint").alias(f"p{p}_lo")
        for p in QSK_PS]
    return (cum.groupBy(*keys)
            .agg(F.max("_n").cast("bigint").alias(n_alias), *picks))
