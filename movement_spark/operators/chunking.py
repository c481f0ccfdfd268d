"""Work distribution: Movement's WorkChunkDriver as explicit repartitioning.

The reference feeds N parallel pipelines from a shared synchronized work
queue (WorkChunkDriver.getNext, SURVEY.md §2.2) — dynamic load balancing by
pull. Spark's task scheduler already does that for free; what we add is the
piece streaming Spark does NOT rebalance automatically: the *key* layout
feeding stateful stages. A few hot doc_ids (power-law shard counts) would
pin whole state-store partitions to one task, so we salt.

``salted_repartition`` splits each key across SALT buckets; downstream
per-doc stages group by (doc_id) again AFTER the heavy per-shard work ran
on the salted layout. For pure aggregations use ``two_phase_agg`` which
does partial-agg on the salted key then final-agg on the real key —
Movement's map-side combine analog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F

from movement_spark.operators.sketches import QSK_BUCKETS, QSK_WIDTH

SALT_BUCKETS = 8  # sub-queues a hot key spreads over
CHUNK_STATS_BUCKETS = 16


def salt_column(df: DataFrame, buckets: int) -> Column:
    """Deterministic per-ROW salt: xxhash64 over every column.

    Salting by the key alone would map a hot key to ONE salt value and
    split nothing; salting randomly would break exactly-once replay.
    Hashing the full row is both spreading and replay-stable.
    """
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(buckets)).cast("int")


def salted_repartition(df: DataFrame, key: str, partitions: int,
                       salt_buckets: int = SALT_BUCKETS) -> DataFrame:
    """WorkChunkDriver analog: spread each key over ``salt_buckets``
    sub-queues (column ``_salt``), then hash-partition on (key, salt). A
    hot key now occupies up to salt_buckets tasks instead of one."""
    return (
        df.withColumn("_salt", salt_column(df, salt_buckets))
          .repartition(partitions, F.col(key), F.col("_salt"))
    )


def two_phase_agg(df: DataFrame, key: str, aggs: dict[str, Column],
                  salt_buckets: int = SALT_BUCKETS) -> DataFrame:
    """Skew-safe aggregation: partial agg on (key, salt), final on key.

    ``aggs`` maps output column -> *re-aggregation* is assumed additive
    (sum/count shapes). For avg, pass sum+count and divide after.
    """
    salted = df.withColumn("_salt", salt_column(df, salt_buckets))
    partial = salted.groupBy(key, "_salt").agg(
        *[c.alias(name) for name, c in aggs.items()])
    return partial.groupBy(key).agg(
        *[F.sum(name).alias(name) for name in aggs])


def allocate_output_ids(df: DataFrame, order_cols: list[str],
                        partitions: int = 32) -> DataFrame:
    """Gap-free, unique, deterministic 1-based output ids (``out_id``) in
    the total order of ``order_cols`` — the OutputIdDriver contract
    (RangedOutputIdDriver.java:57-62) WITHOUT its global atomic counter
    and WITHOUT the naive `row_number() OVER (ORDER BY ...)` plan, which
    funnels every row through ONE task.

    Two-phase (the scalable zipWithIndex): range-partition on the order
    keys, number rows locally within each sorted partition, then add
    each partition's cumulative row-count offset (tiny driver-side
    prefix sum over `partitions` counts, broadcast back).

    The ranged layout MUST be materialized (persist) before the counts
    action: Spark's RangePartitioner samples boundaries with a seed
    derived from the RDD id, so two separate jobs over the same lazy
    plan can place boundary-adjacent rows in DIFFERENT partitions —
    the pid→count map from job 1 then lies about job 2's layout and the
    allocator silently emits duplicate/gapped ids (observed at 2M rows;
    pinned by tests/test_operators.py::test_output_ids_unique_at_2m).
    Persist-to-disk of the ranged layout is also what a production
    allocator does anyway: the numbered run IS the output of phase one,
    written once and reused, exactly like the reference's two-phase
    durable id allocation. The cache is dropped by Spark's LRU (or an
    explicit ``df.unpersist()`` by the caller once the result is
    materialized).
    """
    from pyspark import StorageLevel
    from pyspark.sql.window import Window

    ranged = df.repartitionByRange(partitions, *[F.col(c) for c in order_cols])
    w = Window.partitionBy(F.spark_partition_id()).orderBy(*order_cols)
    local = ranged.withColumn("_pid", F.spark_partition_id()) \
                  .withColumn("_rn", F.row_number().over(w)) \
                  .persist(StorageLevel.MEMORY_AND_DISK)
    counts = {r._pid: r.n for r in
              local.groupBy("_pid").agg(F.count("*").alias("n")).collect()}
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = local.sparkSession.createDataFrame(
        [(pid, off) for pid, off in offsets.items()], "_pid INT, _off BIGINT")
    return (
        local.join(F.broadcast(off_df), "_pid")
        .withColumn("out_id", (F.col("_off") + F.col("_rn")).cast("bigint"))
        .drop("_pid", "_rn", "_off")
    )


# Rendezvous (highest-random-weight) resharding. Constants follow the
# registry's a*x+b mod p convention (no engine hash builtins in checked
# values); RESHARD_A wraps the modulus from key=1 upward so small key
# ranges still scramble (the KMV multiplier-wrap lesson, queries.py).
RESHARD_P = 1_000_000_007
RESHARD_A = 2_654_435_761        # Knuth 2^32/phi; A*1 > P, so it wraps
RESHARD_B = 40_503               # couples key and shard id
RESHARD_C = 1_299_709            # shard-only term
RESHARD_D = 104_729
RESHARD_MAX = 32                 # score = h*32 + s needs s < 32


def rendezvous_shard_expr(key: str, n_shards: int, dialect: str) -> str:
    """Rendezvous-hash shard assignment as ONE codegen expression, in
    both engine dialects (the shard_signature_expr pattern, dedup.py).

    score(key, s) = h(key, s) * 32 + s with h in [0, P): the *32+s
    suffix makes every shard's score distinct for a given key, so a
    plain max picks the winner — no argmax tie rule two engines could
    resolve differently — and winner id = max_score % 32.

    Overflow audit (bigint): A*(key%P) <= 2.66e18, B*(key%P)*s <=
    1.26e15 at s<32, sum < 2^63; h*32+s <= 3.3e10.
    """
    if not 0 < n_shards <= RESHARD_MAX:
        raise ValueError(f"n_shards must be in 1..{RESHARD_MAX}")
    h = (f"(({RESHARD_A} * ({key} % {RESHARD_P}) "
         f"+ {RESHARD_B} * ({key} % {RESHARD_P}) * s "
         f"+ {RESHARD_C} * s + {RESHARD_D}) % {RESHARD_P}) * 32 + s")
    if dialect == "spark":
        return (f"array_max(transform(sequence(0, {n_shards - 1}), "
                f"s -> {h})) % 32")
    return (f"list_max(list_transform(range(0, {n_shards}), "
            f"s -> {h})) % 32")


def reshard_movement_manifest(df: DataFrame, key: str = "doc_id",
                              n_old: int = 8,
                              n_new: int = 10) -> DataFrame:
    """Minimal-movement reshard audit: assign every key to its shard
    under the OLD and NEW shard counts by rendezvous hashing, report
    the (old_shard, new_shard) movement matrix.

    Why rendezvous and not `key % n`: modulo resharding from 8 to 10
    relocates ~90% of keys (only keys with equal residues stay); the
    rendezvous winner for a key changes ONLY when one of the added
    shards outscores every old shard, so at most ~(n_new-n_old)/n_new
    of the corpus moves — and every moved key lands on a NEW shard
    (old shards' scores are unchanged by the extension; pinned by
    tests/test_operators.py::test_reshard_moves_only_to_new_shards).

    Scale shape: both assignments are pure whole-stage-codegen
    expressions over an n_shards-long in-plan sequence — zero joins,
    zero extra scans; the only shuffle is the <= n_old*n_new-row
    matrix rollup. At 100 TB this is the planning pass that says
    "growing 8 shards to 10 re-writes 2/10 of the corpus, and exactly
    these cells", before any data moves.
    """
    if not 0 < n_old < n_new <= RESHARD_MAX:
        raise ValueError("need 0 < n_old < n_new <= 32")
    assigned = df.select(
        F.expr(rendezvous_shard_expr(key, n_old, "spark"))
        .cast("int").alias("old_shard"),
        F.expr(rendezvous_shard_expr(key, n_new, "spark"))
        .cast("int").alias("new_shard"))
    return (
        assigned.groupBy("old_shard", "new_shard")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .withColumn("moved",
                    (F.col("old_shard") != F.col("new_shard")).cast("int"))
    )


def range_layout_plan(df: DataFrame, n_shards: int = 8) -> DataFrame:
    """Balanced range-partition planning from the additive histogram of
    ``n_chars`` (QSK_WIDTH-wide buckets, QSK_BUCKETS of them):
    derive ``n_shards`` contiguous value ranges whose row counts are as
    equal as whole histogram buckets allow, and report each planned
    shard's edges, row count, and skew vs the ideal share (bps).

    Why not ``repartitionByRange``: Spark's range partitioner SAMPLES
    the input (reservoir per partition), so boundaries vary run-to-run
    and resume-to-resume — unacceptable for an exactly-once layout that
    must replay identically. This plan derives boundaries from the same
    one-pass mergeable histogram the quantile sketch maintains
    (sketches.py:histogram_quantile_profile): bucket b goes to the
    shard where its FIRST row falls in cumulative order, so shards are
    contiguous in value, deterministic, and off-ideal by at most one
    bucket's count (the same one-bucket bound the quantile read has).

    Scale shape: ONE map-side-combinable aggregate builds the <=
    QSK_BUCKETS-row grid; the cumulative walk and the shard assignment
    run on that grid (single-partition window over <= 64 rows — the
    same tiny-grid exemption as the quantile fold). At 10^12 rows the
    plan costs one scan, and per-shard hists sum across corpus shards,
    so the layout can be re-planned incrementally after appends without
    re-scanning the base.
    """
    from pyspark.sql.window import Window

    bucket = F.least(F.expr(f"n_chars div {QSK_WIDTH}"),
                     F.lit(QSK_BUCKETS - 1))
    hist = (df.groupBy(bucket.alias("bucket"))
              .agg(F.count("*").alias("cnt")))
    w_cum = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum = (hist
           .withColumn("cum_before", F.sum("cnt").over(w_cum) - F.col("cnt"))
           .withColumn("_n", F.sum("cnt").over(
               Window.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))))
    shard = F.expr(f"(cum_before * {n_shards}) div greatest(_n, 1)")
    return (
        cum.groupBy(shard.cast("bigint").alias("shard_id"))
        .agg(F.count("*").cast("bigint").alias("n_buckets"),
             (F.min("bucket") * QSK_WIDTH).cast("bigint").alias("lo_edge"),
             ((F.max("bucket") + 1) * QSK_WIDTH).cast("bigint")
             .alias("hi_edge"),
             F.sum("cnt").cast("bigint").alias("n_rows"),
             F.expr(f"(sum(cnt) * {n_shards} * 10000)"
                    " div greatest(max(_n), 1)")
             .cast("bigint").alias("skew_bps"))
    )


def chunk_stats(df: DataFrame, key: str) -> DataFrame:
    """Observability for the work-queue layout: per-bucket row/doc counts —
    the WORK_CHUNKS counter analog (WorkChunkDriver.java:37)."""
    return (
        df.withColumn("bucket", F.pmod(F.xxhash64(F.col(key)),
                                       F.lit(CHUNK_STATS_BUCKETS)).cast("int"))
          .groupBy("bucket")
          .agg(F.count("*").alias("n_rows"),
               F.countDistinct(key).alias("n_keys"))
    )


def partition_skew_report(df: DataFrame) -> DataFrame:
    """Rows per physical partition — measures how well the salting spread
    the load. spark_partition_id is the lineage hook (SURVEY.md §2.8)."""
    return (
        df.withColumn("pid", F.spark_partition_id())
          .groupBy("pid").count()
    )
