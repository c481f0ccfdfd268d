"""End-to-end streaming pipelines (the Movement runtime re-expressed).

Each pipeline is the full dataflow the reference runs as
Emitter → Emitable → Encoder → Output (README.md:25-36), as a Structured
Streaming DAG:

  file-stream source (WorkChunk = one staged parquet file, picked up in
  mtime order exactly like RecursiveDirectoryTraversalDriver hands out
  files) → watermark → vectorized transforms → stateful stage →
  idempotent keyed sink (foreachBatch).

The pipelines run with Trigger.AvailableNow against a staged drop of the
deterministic token table, so their FINAL sink contents are comparable to
the batch oracle — the streaming engine itself is correctness-gated, not
just its batch shadow.

Watermark-flush sentinel: availableNow stops when input is exhausted, and
append-mode results only emit once the watermark passes the window. The
stager therefore appends one sentinel row with ts far beyond the real
data; it advances the watermark through the EventTimeWatermark node and
is filtered out before any aggregation, so every real window flushes and
the sentinel never appears in output. An unpinned read takes every
staged file in batch 0; the watermark only advances at the start of the
next batch, so the flush is Spark's trailing no-data batch (availableNow
runs it too) — spark.sql.streaming.noDataMicroBatches must stay enabled.

The runners are rows of one table: ``@_runner(...)`` declares a row's
sink keys, stage variant, read schema, output mode, read-side fold and
keywords over its plan builder, and ``run`` is the one body (resolve
the stage → read → build → drain → fold). A runner whose shape a row
cannot express is a small function over the same pieces.
"""

from __future__ import annotations

import functools
import inspect
import os
import tempfile
import time
from dataclasses import dataclass
from types import SimpleNamespace
from typing import Callable

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import (
    ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
)

from movement_spark.operators.dataset import window_drift_tvd
from movement_spark.operators.dedup import shard_signature_expr
from movement_spark.operators.joins import MAX_GAP_SEC
from movement_spark.operators.ordering import (
    WATERMARK, doc_digest_cols, ordered_doc_assembler,
    ordered_doc_assembler_jvm)
from movement_spark.operators.patterns import user_pattern_stats
from movement_spark.operators.similarity import (
    _argmax_dot_assign, ivf_assign_arrow, quantized)
from movement_spark.operators.sketches import (
    CMS_AB, CMS_D, CMS_P, CMS_WATCH, LL_M, _cms_cell, cms_watch_estimates,
    histogram_quantile_fold, loglog_window_fold)
from movement_spark.operators.windows import SESSION_GAP, SLIDING_WIDTH, WIDTH
from movement_spark.sinks.idempotent import (
    AdditiveKeyedSink, IdempotentKeyedSink)
from movement_spark.sources.tokens import token_sequences, EPOCH_2026, TS_MOD
from movement_spark.streaming.metrics import listening, observed

# Each staged layout is declared ONCE, as the Arrow schema its driver-
# side files (sentinels, test chunks) are written with; the file
# source's read schema is derived from it.
_ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("seq", pa.int32()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("ts", pa.timestamp("us")),
    ("n_shards", pa.int32()),
])
STREAM_SCHEMA = from_arrow_schema(_ARROW_SCHEMA)

SENTINEL = "__flush__"

# Every staged chunk file is ranged on this key (event time first).
_TOKEN_RANGE = ["ts", "doc_id", "seq"]


def _emit_sentinel_files(stage_dir: str, start_idx: int, base: float,
                         rows_fn) -> None:
    """Write the TWO flush-sentinel files: the watermark only advances at
    the START of the batch AFTER the one that saw the max event time.
    Sentinel #1 raises the max event time; the next batch carries a
    watermark beyond every real window and flushes them. Unpinned, both
    files land in batch 0 and that next batch is availableNow's trailing
    no-data batch; under pinned pacing (one file per trigger) it is the
    batch that reads sentinel #2. Single control rows — driver-side
    pyarrow writes, not Spark jobs."""
    for k in range(2):
        pdf, schema = rows_fn(k)
        path = os.path.join(stage_dir, f"chunk_{start_idx + k:04d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
            path)
        os.utime(path, (base + start_idx + k, base + start_idx + k))


def _distribute_chunks(df: DataFrame, stage_dir: str, n_chunks: int,
                       range_cols: list[str], duplicate_factor: int = 1,
                       start_idx: int = 0, base: float | None = None
                       ) -> tuple[int, int, float]:
    """Write ``df`` as event-time-ordered chunk files via ONE distributed
    job: repartitionByRange on the event-time key gives each output file
    a contiguous ts slice; the part files are moved to chunk_{i}_{d} in
    range order with increasing mtimes, so the file source replays them
    as a monotone watermark sequence. ``start_idx`` and ``base`` continue
    an earlier call's chunk index and mtime base (a file delivered after
    the stage). Row count comes from the written parquet footers — no
    second scan, no driver-side data collection.
    Returns (n_rows, next_chunk_idx, mtime_base)."""
    import shutil

    os.makedirs(stage_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="ms_stage_tmp_")
    (df.repartitionByRange(n_chunks, *[F.col(c) for c in range_cols])
       .write.mode("overwrite").parquet(tmp))
    parts = sorted(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    if base is None:
        base = time.time() - len(parts) - 10
    n_rows = 0
    for i, part in enumerate(parts, start_idx):
        src = os.path.join(tmp, part)
        n_rows += pq.ParquetFile(src).metadata.num_rows
        # duplicate_factor > 1 stages each chunk k times (at-least-once
        # delivery simulation for the streaming dedup stage); the last
        # copy is the part itself, moved
        for d in range(duplicate_factor):
            dest = os.path.join(stage_dir, f"chunk_{i:04d}_{d}.parquet")
            if d + 1 < duplicate_factor:
                shutil.copy2(src, dest)
            else:
                shutil.move(src, dest)
            os.utime(dest, (base + i, base + i))
    shutil.rmtree(tmp, ignore_errors=True)
    return n_rows, start_idx + len(parts), base


def _token_sentinel_rows(k: int):
    """The ONE definition of the watermark-flush sentinel row for the
    staged token stream (shape + flush-timestamp formula): every stager
    must emit exactly this — a drifting copy would desynchronize one
    fixture's flush from every other pipeline's sentinel contract."""
    flush_ts = pd.Timestamp(
        (EPOCH_2026 + TS_MOD + 7200 + 60 * k) * 1_000_000_000)
    return pd.DataFrame({
        "doc_id": [SENTINEL], "seq": [0], "tokens": [[]],
        "n_tok": [0], "source": [SENTINEL], "ts": [flush_ts],
        "n_shards": [1],
    }), _ARROW_SCHEMA


def _staged(rows: DataFrame) -> DataFrame:
    """Token rows (``sources.tokens.token_rows``) in the staged-stream
    shape: n_shards derived from did, did retained for fixture
    predicates."""
    return rows.withColumn("n_shards", (1 + F.col("did") % 4).cast("int"))


# Signature-enriched stage (the near-dup monitor's production layout):
# the landing job computes the deterministic per-shard MinHash
# signature ONCE at stage time — it is content-addressed metadata, so
# recomputing it per arriving row in the stream is pure waste (the
# 16-probe expression alone measured 166k rows/s on full local[32],
# which CAPPED the monitor at 58k seq/s; the fold itself runs ~6x
# that). Streams read it as a column; the sentinel's empty token array
# stages a NULL sig, exactly what the in-row expression folds to.
_NDSIG_ARROW_SCHEMA = pa.schema(
    list(_ARROW_SCHEMA) + [pa.field("sig", pa.int64())])
NDSIG_STREAM_SCHEMA = from_arrow_schema(_NDSIG_ARROW_SCHEMA)


def _ndsig_sentinel_rows(k: int):
    pdf, _ = _token_sentinel_rows(k)
    pdf["sig"] = pd.array([None], dtype="Int64")
    return pdf, _NDSIG_ARROW_SCHEMA


def stage_token_rows(rows: DataFrame, stage_dir: str, n_chunks: int = 6,
                     sentinel: bool = True, duplicate_factor: int = 1,
                     with_sig: bool = False) -> int:
    """THE token stager: ``rows`` (a ``token_rows`` frame, did included)
    as ordered chunk files plus the two flush sentinels.

    One file per event-time slice, mtimes increasing, so the file source
    delivers them as consecutive micro-batches with a monotonically
    advancing watermark — the WorkChunkDriver sequence made of files.
    Fully distributed (repartitionByRange write; the oracle path and the
    scale path are the same code — no driver-side collection).
    ``with_sig`` appends the per-shard MinHash signature column at stage
    time (the near-dup monitor's production landing layout — see
    NDSIG_STREAM_SCHEMA); computed inside the same distributed write.
    Returns the number of real (non-sentinel) rows staged.
    """
    df = _staged(rows).drop("did")
    sentinel_rows = _token_sentinel_rows
    if with_sig:
        df = df.withColumn(
            "sig", F.expr(shard_signature_expr()).cast("long"))
        sentinel_rows = _ndsig_sentinel_rows
    n_rows, next_idx, base = _distribute_chunks(
        df, stage_dir, n_chunks, _TOKEN_RANGE, duplicate_factor)
    if sentinel:
        _emit_sentinel_files(stage_dir, next_idx, base, sentinel_rows)
    return n_rows


def stage_token_stream(spark: SparkSession, sf_dir: str, stage_dir: str,
                       n_chunks: int = 6, sentinel: bool = True,
                       duplicate_factor: int = 1,
                       gap_docs: bool = False,
                       with_sig: bool = False) -> int:
    """Stage the deterministic token table through ``stage_token_rows``.
    Returns the number of real (non-sentinel) rows staged."""
    rows = token_sequences(spark, sf_dir, keep_did=True)
    if gap_docs:
        # Lossy-delivery fixture: every 5th doc loses its seq=1 shard,
        # so multi-shard docs among them can never complete — the input
        # the incomplete-doc timeout audit detects.
        rows = rows.where(~((F.col("did") % 5 == 0) & (F.col("seq") == 1)))
    return stage_token_rows(rows, stage_dir, n_chunks, sentinel,
                            duplicate_factor, with_sig)


# The straggler fixture (``_is_straggler``): rows before EPOCH_2026 +
# STRAGGLER_WIN_SEC whose did is a multiple of STRAGGLER_MOD are held
# back. Shared by the stager and run_streaming_late_repair's
# damaged-window derivation — one definition so the two sides of the
# drop-then-repair contract cannot drift apart.
STRAGGLER_WIN_SEC = 300
STRAGGLER_MOD = 7


def _is_straggler() -> Column:
    return ((F.col("ts")
             < F.timestamp_seconds(F.lit(EPOCH_2026 + STRAGGLER_WIN_SEC)))
            & (F.col("did") % STRAGGLER_MOD == 0))


def stage_token_stream_with_stragglers(spark: SparkSession, sf_dir: str,
                                       stage_dir: str, n_chunks: int = 6
                                       ) -> tuple[int, int]:
    """Stage the token table with a deterministic subset of
    FIRST-WINDOW rows held back into a straggler file delivered after
    the whole timeline — the late-arrival fixture: by the time the
    straggler file becomes a micro-batch, the watermark has passed its
    window by the full event-time span, so a correct watermark
    implementation MUST drop those rows from the windowed aggregate.
    Returns (n_main_rows, n_straggler_rows)."""
    df = _staged(token_sequences(spark, sf_dir, keep_did=True))
    n_rows, next_idx, base = _distribute_chunks(
        df.where(~_is_straggler()).drop("did"), stage_dir, n_chunks,
        _TOKEN_RANGE)
    n_strag, next_idx, _ = _distribute_chunks(
        df.where(_is_straggler()).drop("did"), stage_dir, 1, _TOKEN_RANGE,
        start_idx=next_idx, base=base)
    _emit_sentinel_files(stage_dir, next_idx, base, _token_sentinel_rows)
    return n_rows, n_strag


_EVENTS_ARROW_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])
EVENTS_SCHEMA = from_arrow_schema(_EVENTS_ARROW_SCHEMA)
EVENTS_FLUSH_TS = pd.Timestamp("2024-03-01")  # beyond the Jan-2024 data


def _events_sentinel_rows(k: int):
    return pd.DataFrame({
        "event_id": [-1], "ts": [EVENTS_FLUSH_TS + pd.Timedelta(minutes=k)],
        "user_id": [-1], "event_type": [SENTINEL], "value": [0.0],
        "props": ["{}"],
    }), _EVENTS_ARROW_SCHEMA


def stage_events_stream(spark: SparkSession, sf_dir: str,
                        stage_dir: str, n_chunks: int = 6) -> int:
    """Stage the driver-provided events table as event-time-ordered chunk
    files plus flush sentinels — the same WorkChunkDriver-as-files shape
    as stage_token_stream, over a REAL (non-derived) table. Distributed
    (repartitionByRange write), like the token stager."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_rows, next_idx, base = _distribute_chunks(
        ev, stage_dir, n_chunks, ["ts", "event_id"])
    _emit_sentinel_files(stage_dir, next_idx, base, _events_sentinel_rows)
    return n_rows


EMB_STREAM_SCHEMA = StructType([
    StructField("vec_id", LongType()),
    StructField("embedding", ArrayType(FloatType())),
    StructField("label", IntegerType()),
])


def stage_embedding_stream(spark: SparkSession, sf_dir: str,
                           stage_dir: str, n_chunks: int = 6) -> int:
    """Stage the embeddings table as ordered chunk files (one vec_id
    slice per file). No sentinel files: the ANN-ingest pipeline is
    STATELESS (no watermark, no windowed state), so nothing needs a
    flush — availableNow drains every staged file and stops."""
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_rows, _, _ = _distribute_chunks(emb, stage_dir, n_chunks, ["vec_id"])
    return n_rows


def read_token_stream(spark: SparkSession, stage_dir: str,
                      files_per_trigger: int | None = None,
                      schema: StructType | None = None) -> DataFrame:
    """THE file-source read convention (schema + pacing + parquet) —
    every pipeline reads staged chunks through here so an option change
    (e.g. maxFileAge) can never diverge per-pipeline. ``schema``
    overrides STREAM_SCHEMA for the other staged layouts
    (NDSIG_STREAM_SCHEMA, EVENTS_SCHEMA, EMB_STREAM_SCHEMA).

    Pacing: ``files_per_trigger`` caps the files each micro-batch
    admits (benchmarks and replay tests pin it to measure steady-state
    batches). Unpinned, availableNow reads every staged file — data and
    both flush sentinels — in one batch, and Spark's trailing no-data
    batch then flushes every window, join buffer, dedup key and
    assembler timeout: a drain is 2 micro-batches. Results are
    invariant to batching, pinned by
    test_results_invariant_to_microbatch_boundaries."""
    reader = spark.readStream.schema(schema or STREAM_SCHEMA)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    return reader.parquet(stage_dir)


STATE_PARTITIONS = 8  # pinned deployment constant (see CLAUDE.md / SCALE.md)

# Pipeline tuning: one value per pipeline, not a per-call option. The
# registry's oracle SQL hard-codes the same windows, gaps and cuts, so
# an override could only desynchronize a pipeline from its oracle.
# Shared with the operators: WATERMARK, the event-time delay of every
# token-stream pipeline (operators/ordering.py); WIDTH, SLIDING_WIDTH and
# SESSION_GAP (operators/windows.py); MAX_GAP_SEC (operators/joins.py).
ROLLUP_WIDTH = "1 hour"  # window_rollup's coarse window over WIDTH partials
EVENTS_WINDOW = "1 day"  # the events pipelines' window AND watermark
HIST_BUCKETS = 64  # drift and quantile monitors' histogram width
LEN_BUCKET_WIDTH = 2  # quantile monitor: n_tok values per length bucket
BACKFILL_CUT_SEC = 1800  # backfill handoff: the stream owns windows from here
LEADERBOARD_TOP_N = 3
THROTTLE_TIMEOUT_SEC = 120.0


def _tmp(prefix: str) -> str:
    return tempfile.mkdtemp(prefix=prefix)


def _sink(sink_dir: str | None, *keys: str) -> IdempotentKeyedSink:
    return IdempotentKeyedSink(sink_dir or _tmp("ms_sink_"), list(keys))


def _drain(result: DataFrame, sink: IdempotentKeyedSink,
           checkpoint_dir: str | None, output_mode: str = "append",
           batch_fn=None) -> IdempotentKeyedSink:
    """Start → drain (availableNow) → clean up — THE one
    run-and-cleanup dance for every foreachBatch pipeline. Returns
    ``sink`` for the caller's read; the caller builds it because the
    backfill handoff and late repair write batch epochs into the same
    sink before or after the stream. ``batch_fn`` overrides the sink's
    foreach_batch (multi-sink fan-out). Listeners are a session concern:
    callers that want one attach it with ``metrics.listening``.

    Stateful shuffle partitions are scoped to the pinned deployment
    constant around query START (the value is captured into the
    checkpoint and can never change across a resume — pinning here
    keeps every pipeline and every resume on one constant instead of
    inheriting whatever the ambient session uses; it also cuts
    state-store commit fan-out ~4x at oracle scale). The ambient value
    is restored for the caller's batch plans."""
    spark = result.sparkSession
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        q = (
            result.writeStream
            .outputMode(output_mode)
            .foreachBatch(batch_fn if batch_fn is not None
                          else sink.foreach_batch)
            .option("checkpointLocation", checkpoint_dir or _tmp("ms_ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return sink


def _flushed() -> Column:
    """THE sentinel cut: a predicate on the WINDOW column ``w``. A
    filter on any other column (e.g. source) is pushed by the optimizer
    through the aggregate AND the EventTimeWatermark node down to the
    scan, so the sentinel would never advance the watermark. The window
    predicate rewrites to window(ts) — it references the event-time
    column, which blocks pushdown below the watermark."""
    return F.col("w.start") < F.timestamp_seconds(
        F.lit(EPOCH_2026 + TS_MOD + 3600))


def _window_agg(df: DataFrame, window: Column, keys: list, aggs: list,
                cut: Column | None) -> DataFrame:
    """The windowed aggregate every windowed pipeline shares: group by
    (window AS w, *keys), aggregate, keep the rows
    ``cut`` admits (None in update mode, which needs no flush), and
    project (ws = window start in epoch seconds, *keys, *aggs)."""
    out = df.groupBy(window.alias("w"), *keys).agg(*aggs)
    if cut is not None:
        out = out.where(cut)
    return out.select(F.unix_timestamp("w.start").alias("ws"),
                      *out.columns[1:])


def _seq_totals() -> list:
    """n_seq, sum_tok: the throughput totals of the tumbling family,
    backfill, late repair and the leaderboard."""
    return [F.count("*").alias("n_seq"),
            F.sum("n_tok").cast("bigint").alias("sum_tok")]


def _pair_totals() -> list:
    """n_pairs, pair_tok over joined (n_tok_a, n_tok_b) shard pairs."""
    return [F.count("*").alias("n_pairs"),
            F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint")
            .alias("pair_tok")]


def _session_agg(df: DataFrame) -> DataFrame:
    """Per-doc_id session windows (SESSION_GAP) → session_start,
    session_end (= last event + gap, like the batch
    session_token_windows oracle), n_shard, sum_tok. The sentinel rows
    form their own far-future sessions, cut on the window column."""
    return (
        df.groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "doc_id")
        .agg(F.count("*").alias("n_shard"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .where(_flushed())
        .select("doc_id",
                F.unix_timestamp("w.start").alias("session_start"),
                F.unix_timestamp("w.end").alias("session_end"),
                F.col("n_shard").cast("bigint").alias("n_shard"),
                "sum_tok")
    )


def _assembled(src: DataFrame, emit_incomplete: bool = False) -> DataFrame:
    """The stateful-Python per-doc assembler over a staged stream.
    Sentinel rows flow through the stateful stage (their doc completes
    immediately) and are dropped after it — filtering earlier would be
    pushed below the watermark node and stall the flush. Its eviction
    grace (ordering.ASSEMBLE_TIMEOUT_MS) covers a doc's max event-time
    span."""
    return (
        ordered_doc_assembler(
            src.select("doc_id", "seq", "tokens", "n_shards", "ts"),
            emit_incomplete=emit_incomplete)
        .where(F.col("doc_id") != SENTINEL)
    )


def _assembled_jvm(src: DataFrame) -> DataFrame:
    """The all-JVM session-window assembler over a staged stream, its
    sentinel sessions cut on the window column."""
    return (
        ordered_doc_assembler_jvm(src.select("doc_id", "seq", "tokens", "ts"))
        .where(_flushed())
        .drop("w")
    )


def _merged_docs(out: DataFrame) -> DataFrame:
    """Read-side projection of both ordered-merge paths: the merged doc
    row as the batch merged_doc_check oracle shapes it."""
    return out.select(
        "doc_id", F.col("n_shard").cast("int").alias("n_shard"),
        "total_tok", *doc_digest_cols())


_INTERVAL_UNITS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                   "hour": 3600, "hours": 3600, "day": 86400, "days": 86400}


def _interval_seconds(width: str) -> int:
    """Seconds in a Spark interval string like '5 minutes'. Raises on
    anything this module's window math can't honor — a silently
    unparsed width would desynchronize the read-side fold from the
    streaming window and produce empty (not wrong-looking) drift
    output, which is the failure mode this guard exists to prevent."""
    parts = width.strip().split()
    if len(parts) == 2 and parts[0].isdigit() and parts[1] in _INTERVAL_UNITS:
        return int(parts[0]) * _INTERVAL_UNITS[parts[1]]
    raise ValueError(f"unsupported window width {width!r}; "
                     f"use '<n> {'/'.join(sorted(set(_INTERVAL_UNITS)))}'")


# Per-process staged-input cache: every streaming pipeline that resolves
# its stage with no explicit dir shares one staged drop per (sf_dir,
# variant) instead of re-staging per query — staging is setup, not the
# operator under test, and the registry's correctness sweep runs every
# pipeline in one process.
_SHARED_STAGES: dict[tuple[str, str], str] = {}


def _stage_variant(spark: SparkSession, sf_dir: str, dest: str,
                   variant: str) -> None:
    if variant == "base":
        stage_token_stream(spark, sf_dir, dest)
    elif variant == "dedup":
        stage_token_stream(spark, sf_dir, dest, duplicate_factor=2)
    elif variant == "nosentinel":
        stage_token_stream(spark, sf_dir, dest, sentinel=False)
    elif variant == "events":
        stage_events_stream(spark, sf_dir, dest)
    elif variant == "union":
        _stage_union_dirs(spark, sf_dir, dest)
    elif variant == "gaps":
        stage_token_stream(spark, sf_dir, dest, gap_docs=True)
    elif variant == "ndsig":
        stage_token_stream(spark, sf_dir, dest, with_sig=True)
    elif variant == "stragglers":
        stage_token_stream_with_stragglers(spark, sf_dir, dest)
    elif variant == "embeddings":
        stage_embedding_stream(spark, sf_dir, dest)
    else:
        raise ValueError(f"unknown stage variant {variant!r}")


def shared_stage(spark: SparkSession, sf_dir: str,
                 variant: str = "base") -> str:
    key = (os.path.abspath(sf_dir), variant)
    cached = _SHARED_STAGES.get(key)
    if cached and os.path.isdir(cached) and os.listdir(cached):
        return cached
    stage = _tmp(f"ms_shared_{variant}_")
    _stage_variant(spark, sf_dir, stage, variant)
    _SHARED_STAGES[key] = stage
    return stage


def _resolve_stage(spark: SparkSession, sf_dir: str,
                   stage_dir: str | None, variant: str = "base") -> str:
    """Stage resolution shared by every pipeline runner: no explicit dir
    → the per-process shared drop for the variant; an explicit dir is
    staged into only when it has no content yet (resume tests populate
    dirs incrementally on purpose)."""
    if stage_dir is None:
        return shared_stage(spark, sf_dir, variant)
    populated = (
        os.path.isdir(os.path.join(stage_dir, "a"))
        if variant == "union"
        else os.path.isdir(stage_dir) and bool(os.listdir(stage_dir)))
    if not populated:
        _stage_variant(spark, sf_dir, stage_dir, variant)
    return stage_dir


def _stage_union_dirs(spark: SparkSession, sf_dir: str, stage: str) -> None:
    """Split one staged drop across two directories (the two 'gears' of
    the streaming union) and copy the flush sentinels into BOTH so both
    member watermarks advance."""
    import shutil as _sh

    a_dir, b_dir = os.path.join(stage, "a"), os.path.join(stage, "b")
    full = os.path.join(stage, "_full")
    stage_token_stream(spark, sf_dir, full)
    os.makedirs(a_dir, exist_ok=True)
    os.makedirs(b_dir, exist_ok=True)
    files = sorted(os.listdir(full))
    sentinels = files[-2:]
    for i, f in enumerate(files[:-2]):
        os.rename(os.path.join(full, f),
                  os.path.join(a_dir if i % 2 == 0 else b_dir, f))
    for f in sentinels:  # both gears must see the flush
        _sh.copy2(os.path.join(full, f), os.path.join(a_dir, f))
        _sh.copy2(os.path.join(full, f), os.path.join(b_dir, f))


@dataclass(frozen=True)
class _Row:
    """One streaming runner as data: the parts in which the runners
    differ. ``run`` is the shape they share."""
    build: Callable  # (src, a) -> the streaming result plan
    keys: tuple  # the keyed sink's merge keys
    variant: str  # stage variant (_resolve_stage)
    schema: StructType | None  # read schema; None = STREAM_SCHEMA
    output_mode: str
    fold: Callable | None  # (sink table, a) -> result; None = the table
    gears: tuple  # stage sub-directories read as ONE unioned stream


def run(row: _Row, spark: SparkSession, sf_dir: str,
        stage_dir: str | None = None, sink_dir: str | None = None,
        checkpoint_dir: str | None = None, **options) -> DataFrame:
    """THE runner body: resolve the row's stage variant → read it → build
    the row's plan → drain it into the row's keyed sink → read the sink
    through the row's fold. ``options`` are the runner's own keywords
    (``files_per_trigger`` paces the read); the plan builder and the
    fold see them, with spark, sf_dir and the resolved stage, as the
    attributes of ``a``."""
    stage = _resolve_stage(spark, sf_dir, stage_dir, row.variant)
    a = SimpleNamespace(spark=spark, sf_dir=sf_dir, stage=stage, **options)
    dirs = [os.path.join(stage, g) for g in row.gears] or [stage]
    src = functools.reduce(DataFrame.unionByName, [
        read_token_stream(spark, d, options.get("files_per_trigger"),
                          schema=row.schema) for d in dirs])
    sink = _drain(row.build(src, a), _sink(sink_dir, *row.keys),
                  checkpoint_dir, row.output_mode)
    out = sink.read(spark)
    return out if row.fold is None else row.fold(out, a)


def _runner(*keys: str, variant: str = "base",
            schema: StructType | None = None,
            output_mode: str = "append", fold: Callable | None = None,
            gears: tuple = (), **options):
    """Declare one table row. The decorated function is the row's plan
    builder ``(src, a) -> plan``; the name it defines becomes the runner
    ``(spark, sf_dir, stage_dir=None, sink_dir=None,
    checkpoint_dir=None, **options)`` over ``run``, with the builder's
    name and docstring. ``options`` are the runner's own keywords with
    their defaults."""
    def make(build: Callable) -> Callable:
        row = _Row(build, keys, variant, schema, output_mode, fold, gears)
        req = inspect.Parameter.empty
        sig = inspect.Signature([
            inspect.Parameter(name, inspect.Parameter.POSITIONAL_OR_KEYWORD,
                              default=default)
            for name, default in [
                ("spark", req), ("sf_dir", req), ("stage_dir", None),
                ("sink_dir", None), ("checkpoint_dir", None),
                *options.items()]])

        def runner(*args, **kwargs) -> DataFrame:
            bound = sig.bind(*args, **kwargs)
            bound.apply_defaults()
            return run(row, **bound.arguments)

        functools.update_wrapper(runner, build)
        runner.__signature__ = sig
        return runner
    return make


def _throughput(src: DataFrame, cut: Column) -> DataFrame:
    """The observed tumbling per-source throughput aggregate of the
    flagship, the backfill handoff's tail and the late repair."""
    return _window_agg(observed(src).withWatermark("ts", WATERMARK),
                       F.window("ts", WIDTH), ["source"], _seq_totals(), cut)


@_runner("ws", "source", files_per_trigger=None)
def run_streaming_tumbling(src, a):
    """Streaming flagship: watermarked tumbling per-source token
    throughput through the exactly-once sink; returns final sink table
    (same shape/oracle as the batch tumbling query)."""
    return _throughput(src, _flushed())


@_runner("ws", "source", "bucket", width=WIDTH, files_per_trigger=None,
         fold=lambda out, a: window_drift_tvd(
             out, width_sec=_interval_seconds(a.width)))
def run_streaming_drift_monitor(src, a):
    """Streaming distribution-drift monitor: per-(window, source)
    BUCKETED token histograms through the exactly-once sink; reading
    the sink folds consecutive windows into an exact integer TVD per
    source (operators/dataset.py:window_drift_tvd) — windowed
    crawl-drift surveillance as a deployed pipeline.

    The production trick is the bucket: a drift monitor never keys
    streaming state by raw token — the HIST_BUCKETS-wide histogram pins
    state at windows × sources × buckets rows (corpus- and
    vocab-independent) and its TVD lower-bounds the true one, which is
    the alerting direction you want. The token explode must be
    explode_OUTER: sentinel rows carry an empty tokens array, and a
    plain explode drops them before they can advance the event-time
    watermark (the dedup/filter sentinel corollary extended to
    generators) — outer keeps them as NULL-token rows that the window
    predicate cuts, per the CLAUDE.md invariant."""
    _interval_seconds(a.width)  # fail fast, before the query starts
    return _window_agg(
        src.withWatermark("ts", WATERMARK)
        .select("ts", "source", F.explode_outer("tokens").alias("t")),
        F.window("ts", a.width),
        ["source", (F.col("t") % HIST_BUCKETS).alias("bucket")],
        [F.count("*").alias("cnt")], _flushed())


@_runner("ws", "source", "bucket", files_per_trigger=None,
         fold=lambda out, a: histogram_quantile_fold(
             out, ["ws", "source"], width=LEN_BUCKET_WIDTH, n_alias="n_seq"))
def run_streaming_quantile_monitor(src, a):
    """Streaming latency/size-distribution monitor: per-(window,
    source) sequence-length HISTOGRAMS through the exactly-once sink,
    folded at read into p50/p90/p99 lower edges
    (operators/sketches.py:histogram_quantile_fold) — the windowed
    percentile dashboard every ingest pipeline runs, without ever
    sorting raw rows in stream state.

    This is the histogram-quantile sketch's streaming form: streaming
    state holds only the additive counter grid (windows × sources ×
    HIST_BUCKETS rows — row-volume-independent, the same state-pinning
    trick as the drift monitor), and the exact percentile an absolute
    answer would need is replaced by a one-bucket-width deterministic
    bracket, which is what a tail-latency alert actually consumes. No
    explode: each sequence contributes ONE bucket via arithmetic on
    n_tok, so the plan is aggregate-only above the watermark and the
    sentinel is cut by the window predicate per the CLAUDE.md rule."""
    bucket = F.least(F.expr(f"n_tok div {LEN_BUCKET_WIDTH}"),
                     F.lit(HIST_BUCKETS - 1)).alias("bucket")
    return _window_agg(src.withWatermark("ts", WATERMARK),
                       F.window("ts", WIDTH), ["source", bucket],
                       [F.count("*").alias("cnt")], _flushed())


@_runner("ws", "source", "j", "cell", files_per_trigger=None,
         fold=lambda out, a: cms_watch_estimates(
             out, ["ws", "source"], CMS_WATCH))
def run_streaming_cms_monitor(src, a):
    """Streaming count-min frequency monitor: per-(window, source)
    d×w CMS counter grids through the exactly-once sink; reading the
    sink answers watchlist-token frequency estimates per window
    (operators/sketches.py:cms_watch_estimates).

    The third member of the bounded-state monitor family (drift =
    bucketed histogram, quantile = length histogram, this = CMS grid):
    streaming state is windows × sources × CMS_D × CMS_W rows no
    matter how many DISTINCT tokens stream through — the property a
    per-token count can't have at 10^12 sequences — and because the
    grid is additive, the map-side partial aggregation collapses the
    d-way probe fan-out before the shuffle. The watchlist is a
    READ-time choice: the sink keeps the grid, so any token's
    per-window frequency history is answerable after the fact without
    replaying the stream. Sentinel corollary: the token explode must
    be explode_outer (empty sentinel arrays), the probe explode is
    over a constant-length array (safe), and the sentinel's NULL-cell
    groups are cut by the window predicate per the CLAUDE.md rule."""
    probes = F.array(*[
        F.struct(F.lit(j).alias("j"), _cms_cell(F.col("t"), j).alias("cell"))
        for j in range(CMS_D)])
    return _window_agg(
        src.withWatermark("ts", WATERMARK)
        .select("ts", "source", F.explode_outer("tokens").alias("t"))
        .select("ts", "source", F.explode(probes).alias("h")),
        F.window("ts", WIDTH),
        ["source", F.col("h.j").alias("j"), F.col("h.cell").alias("cell")],
        [F.count("*").alias("cnt")], _flushed())


def run_streaming_backfill_handoff(spark: SparkSession, sf_dir: str,
                                   stage_dir: str | None = None,
                                   sink_dir: str | None = None,
                                   checkpoint_dir: str | None = None
                                   ) -> DataFrame:
    """Kappa-style batch→stream HANDOFF into one exactly-once sink:
    history windows are backfilled by a batch aggregate over the table
    (epoch -1 — "before the stream's log"), the stream serves only the
    live tail (windows at/after the cut), and the two generations meet
    in the SAME keyed sink. The backfill deliberately overlaps the
    stream by one window past the cut: the sink's UPSERT merge (highest
    epoch per key wins) resolves it to the stream's row, which equals
    the batch row bit-for-bit — so re-running the backfill, replaying
    the stream, or widening the overlap all collapse idempotently.

    This is the bootstrap a deployed 100-TB pipeline actually performs:
    the historical corpus is aggregated once through the batch engine
    (no stream replay of a year of data), the streaming job starts at
    the cut with ordinary watermark semantics, and the sink read serves
    ONE continuous table across the seam. The stream's tail filter is a
    predicate on the WINDOW column (composed with the flush cut), so it
    stays above the EventTimeWatermark per the CLAUDE.md sentinel rule.
    """
    cut_ts = EPOCH_2026 + BACKFILL_CUT_SEC
    sink = _sink(sink_dir, "ws", "source")

    # -- batch backfill: history + ONE overlap window past the cut ----
    overlap = F.timestamp_seconds(F.lit(cut_ts + _interval_seconds(WIDTH)))
    backfill = _window_agg(token_sequences(spark, sf_dir),
                           F.window("ts", WIDTH), ["source"], _seq_totals(),
                           F.col("w.start") < overlap)
    sink.foreach_batch(backfill, epoch_id=-1)

    # -- streaming tail: windows at/after the cut ----------------------
    src = read_token_stream(spark, _resolve_stage(spark, sf_dir, stage_dir))
    tail = F.col("w.start") >= F.timestamp_seconds(F.lit(cut_ts))
    return _drain(_throughput(src, _flushed() & tail), sink,
                  checkpoint_dir).read(spark)


def run_streaming_late_repair(spark: SparkSession, sf_dir: str,
                              stage_dir: str | None = None,
                              sink_dir: str | None = None,
                              checkpoint_dir: str | None = None
                              ) -> DataFrame:
    """Lambda-style LATE-DATA REPAIR over the exactly-once sink: the
    stream drops rows that arrive after the watermark passed their
    window (the correct streaming behavior — unbounded lateness means
    unbounded state), and a batch repair job then recomputes ONLY the
    damaged windows from the table and upserts them as a later epoch.
    The sink read after repair equals the full batch oracle; before
    repair it is provably missing the stragglers (pinned by
    test_late_repair_stream_alone_is_short).

    This is the operational complement of the backfill handoff (epoch
    -1 = history BEFORE the stream's log; the repair epoch = patches
    AFTER it): between them the epoch log carries the full lambda
    lifecycle — bootstrap, live stream, repair — through one keyed
    MERGE contract, no special-cased reader. files_per_trigger is
    pinned to 1 INSIDE this runner: the drop-then-repair semantics
    depend on the straggler file becoming its own micro-batch after
    the watermark advanced (CLAUDE.md batch-boundary rule).

    Scale shape: the repair recompute is window-pruned BEFORE the
    aggregate (the damaged-window predicate reaches the scan), so a
    year-long timeline pays one partition-pruned scan per repair, not
    a full-history replay; the upsert is one appended epoch."""
    stage = _resolve_stage(spark, sf_dir, stage_dir, "stragglers")
    src = read_token_stream(spark, stage, files_per_trigger=1)
    sink = _drain(_throughput(src, _flushed()),
                  _sink(sink_dir, "ws", "source"), checkpoint_dir)

    # -- batch repair: recompute ONLY the straggler-damaged windows ----
    # (window() is a grouping construct, not joinable — the prune key is
    # the same tumbling arithmetic as an ordinary column)
    width_sec = _interval_seconds(WIDTH)
    t = token_sequences(spark, sf_dir, keep_did=True)
    win_start = (F.floor(F.unix_timestamp("ts") / width_sec)
                 * width_sec).cast("bigint")
    damaged = (t.where(_is_straggler())
               .select(win_start.alias("ws0")).distinct())
    repair = (
        t.withColumn("ws", win_start)
        .join(F.broadcast(damaged), F.col("ws") == F.col("ws0"))
        .groupBy("ws", "source")
        .agg(*_seq_totals())
    )
    sink.foreach_batch(repair, epoch_id=sink.next_patch_epoch())
    return sink.read(spark)


@_runner("ws", "source", "reg",
         fold=lambda out, a: loglog_window_fold(out, ["ws", "source"]))
def run_streaming_loglog_monitor(src, a):
    """Streaming distinct-token monitor: per-(window, source) LogLog
    register grids through the exactly-once sink, folded at read into
    the integral sketch estimate (operators/sketches.py:
    loglog_window_fold) — windowed vocabulary-size surveillance with
    state pinned at windows × sources × LL_M rows.

    Completes the sketch family's streaming forms (drift = additive
    histogram, quantile = additive length grid, CMS = additive counter
    grid, this = MAX-merged register grid): a per-window COUNT(DISTINCT
    token) would key stream state by token — unbounded at 10^12
    sequences — while the register MAX is idempotent under duplicate
    tokens, at-least-once replays, and checkpoint resume, so the grid
    is both bounded AND exactly-once-safe for free. Sentinel corollary:
    explode_outer keeps the empty-array flush rows; their NULL-register
    groups are cut by the window predicate per the CLAUDE.md rule."""
    mul, add = CMS_AB[0]
    hv = f"(({mul}L * cast(t as bigint) + {add}) % {CMS_P})"
    return _window_agg(
        src.withWatermark("ts", WATERMARK)
        .select("ts", "source", F.explode_outer("tokens").alias("t"))
        .select("ts", "source",
                F.expr(f"{hv} % {LL_M}").alias("reg"),
                F.expr(f"length(bin({hv} div {LL_M}))").alias("bl")),
        F.window("ts", WIDTH), ["source", "reg"],
        [F.max("bl").alias("max_bl")], _flushed())


@_runner("vec_id", variant="embeddings", schema=EMB_STREAM_SCHEMA,
         n_centroids=16, assign="arrow",
         fold=lambda out, a: out.groupBy("cent_id").agg(
             F.count("*").alias("n_vecs"),
             F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
             F.countDistinct("label").cast("int").alias("n_labels")))
def run_streaming_ann_ingest(src, a):
    """Streaming IVF index ingest: a live embedding stream is assigned
    to a FROZEN coarse codebook micro-batch by micro-batch (the
    stream-static broadcast form of similarity.ivf_assign_incremental)
    and lands in the exactly-once sink keyed by vec_id — the online
    half of ANN index maintenance, where vectors arrive continuously
    and the codebook only moves on the scheduled batch re-cluster.

    Scale shape: the assignment is ONE stream-static broadcast
    crossJoin + codegen argmin per micro-batch (no state store, no
    watermark, no shuffle on the stream side — a stateless projection),
    so ingest throughput is scan-bound exactly like the batch path; the
    vec_id sink key makes at-least-once replays idempotent. The
    read-side fold returns the inverted-list manifest (per-centroid
    membership count, id mass, label spread) — equal to the BATCH
    assignment over the same table, which is the oracle statement: the
    online and offline index builds commute.

    ``assign="arrow"`` (the DEFAULT — the deployed ingest path) does
    the argmin as the flat-column numpy form
    (similarity.ivf_assign_arrow) inside each micro-batch: ingest is
    compute-bound on the centroid loop and the Arrow form measured 14×
    the interpreted JVM lambda at 1M vectors
    (BENCH/retrieval_scale.json; same escape hatch as
    pq_encode_arrow). ``assign="jvm"`` keeps the all-JVM codegen
    argmin — the engine-portable form the registered oracle query pins
    explicitly (registry plan guardrail: no Python stages). Identity
    between the two is pinned by test_ann_ingest_arrow_equals_jvm.

    Reference scope: Emitter→Encoder→Output over vectors instead of
    token shards; the codebook-frozen contract mirrors
    ivf_assign_incremental (pinned by test_ivf_incremental_equals_rebuild).
    """
    cents = (quantized(
        a.spark.read.parquet(os.path.join(a.sf_dir, "embeddings.parquet")))
        .where(F.col("vec_id") < a.n_centroids)
        .select(F.col("vec_id").alias("cent_id"), F.col("q").alias("cv")))
    if a.assign == "arrow":
        assigned = ivf_assign_arrow(src, cents=cents, keep=("label",))
    else:
        assigned = _argmax_dot_assign(
            quantized(src).select("vec_id", "q", "label"),
            cents, keep=("label",))
    return assigned.select("vec_id", "label", "cent_id")


@_runner("ws", "source", variant="dedup")
def run_streaming_dedup(src, a):
    """Streaming exact dedup under at-least-once delivery.

    The stage drop carries every chunk TWICE (duplicate_factor=2);
    dropDuplicatesWithinWatermark on the natural key (doc_id, seq)
    restores exactly-once row semantics before the windowed aggregate,
    so the final sink equals the batch oracle over the UN-duplicated
    table. State for seen keys is evicted as the watermark passes.
    """
    return _window_agg(
        src.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["doc_id", "seq"]),
        F.window("ts", WIDTH), ["source"], _seq_totals(), _flushed())


@_runner("ws", "source", variant="union", gears=("a", "b"))
def run_streaming_union(src, a):
    """GearBox as a streaming DAG (GearBox.java:49-56: flatMap N pinion
    outputs onto ONE stream): two independent file-stream sources — the
    staged chunks split across two directories — union into a single
    watermarked aggregate. The watermark is the min across member
    streams, so one slow gear holds results for all (exactly GearBox's
    isComplete = all members complete). Sentinels are staged into BOTH
    directories so both watermarks advance."""
    return _window_agg(src.withWatermark("ts", WATERMARK),
                       F.window("ts", WIDTH), ["source"], _seq_totals(),
                       _flushed())


@_runner("ws", "event_type", variant="events", schema=EVENTS_SCHEMA)
def run_streaming_events(src, a):
    """Daily per-type event stats as a watermarked streaming pipeline
    over the events table (min/max are order-independent, so the
    float column stays oracle-exact where a streamed SUM of doubles
    would not be)."""
    flush_cut = F.lit(EVENTS_FLUSH_TS.to_pydatetime()).cast("timestamp")
    return _window_agg(
        src.withWatermark("ts", EVENTS_WINDOW),
        F.window("ts", EVENTS_WINDOW), ["event_type"],
        [F.count("*").alias("n_events"),
         F.round(F.min("value"), 6).alias("min_v"),
         F.round(F.max("value"), 6).alias("max_v")],
        F.col("w.start") < flush_cut)


@_runner("ws", "source", variant="nosentinel", output_mode="update")
def run_streaming_update_mode(src, a):
    """Update-mode tumbling aggregate through the keyed upsert sink: each
    trigger emits the CURRENT value of every changed window and the sink's
    max-epoch-per-key read resolves to the latest — the MERGE-upsert
    pattern (vs append mode's emit-once-on-watermark-close). No flush
    sentinel is needed: results don't wait on the watermark, late
    refinements simply supersede. The trade at scale: update mode
    re-emits hot windows every trigger (more sink I/O), append emits
    exactly once per window (more latency) — both end states are
    oracle-equal, which this query proves."""
    return _window_agg(src.withWatermark("ts", WATERMARK),
                       F.window("ts", WIDTH), ["source"], _seq_totals(), None)


@_runner("ws", "lang")
def run_streaming_enriched(src, a):
    """Stream-static enrichment: the token stream joined per micro-batch
    against a static dimension (doc language from the documents table),
    then windowed per-language throughput. The dim is broadcast — the
    CachedGraph analog (CachedGraph.java:59-76: hot vertex lookups served
    from a local cache instead of the store); at dimension sizes beyond
    broadcast range the same plan degrades gracefully to a shuffled hash
    join. LEFT join so the watermark sentinel (which matches no dim row)
    still reaches the aggregate's watermark accounting; its windows are
    cut by the window-column predicate as usual."""
    dim = (
        a.spark.read.parquet(f"{a.sf_dir}/documents.parquet")
        .select(F.concat(F.lit("d"), F.col("doc_id").cast("string"))
                .alias("doc_id"),
                "lang")
    )
    return _window_agg(
        src.withWatermark("ts", WATERMARK)
        .join(F.broadcast(dim), "doc_id", "left"),
        F.window("ts", WIDTH), ["lang"], _seq_totals(), _flushed())


@_runner("ws", "source")
def run_streaming_sliding(src, a):
    """Streaming sliding windows: every row lands in width/slide
    overlapping windows; state closes per window as the watermark passes
    its end. Same sentinel-flush discipline as run_streaming_tumbling;
    sink keyed (ws, source) so replays of overlapping windows stay
    idempotent."""
    return _window_agg(src.withWatermark("ts", WATERMARK),
                       F.window("ts", SLIDING_WIDTH, WIDTH), ["source"],
                       _seq_totals(), _flushed())


@_runner("doc_id", "session_start")
def run_streaming_session(src, a):
    """Streaming session windows per doc_id: Spark's native session_window
    merges per-key activity separated by < gap into one state-store
    session; results emit in append mode once the watermark closes the
    session. Matches the batch session_token_windows oracle
    (session_end = last event + gap)."""
    return _session_agg(src.withWatermark("ts", WATERMARK))


def run_streaming_ordered_merge(spark: SparkSession, sf_dir: str,
                                stage_dir: str | None = None,
                                sink_dir: str | None = None,
                                checkpoint_dir: str | None = None,
                                mode: str = "jvm") -> DataFrame:
    """Streaming per-doc ordering stage (PHASE ONE→TWO barrier analog).

    ``mode='jvm'`` (DEFAULT — the bulk-ingest path): the all-JVM
    session-window assembler, measured 17-65× faster than the stateful-
    Python path (BENCH/BASELINE.md CEP table: ~92-233k vs ~1.5-5k
    rows/s) because it never crosses the Python boundary or pays
    applyInPandasWithState's per-group invocation + state ser/de.

    ``mode='python'`` (the latency path): applyInPandasWithState emits
    each doc THE MOMENT its last expected shard arrives (emit-on-
    complete), instead of waiting for session-gap + watermark closure —
    use it when per-doc completion latency matters more than ingest
    throughput, and for timeout-evicted incomplete-doc audits
    (run_streaming_incomplete_audit builds on it).

    Both paths produce the identical order-sensitive digest as the
    batch merged_doc_check oracle. Both registry rows
    (streaming_ordered_merge, streaming_ordered_merge_jvm) run the JVM
    path; the Python path is pinned by the ``mode="python"`` tests and
    by perfbench's live_cep reference check."""
    if mode == "jvm":
        runner = run_streaming_ordered_merge_jvm
    elif mode == "python":
        runner = _ordered_merge_python
    else:
        raise ValueError(
            f"mode must be 'jvm' or 'python', got {mode!r}")
    return runner(spark, sf_dir, stage_dir=stage_dir, sink_dir=sink_dir,
                  checkpoint_dir=checkpoint_dir)


@_runner("doc_id", fold=lambda out, a: _merged_docs(out))
def _ordered_merge_python(src, a):
    """run_streaming_ordered_merge's mode="python" path: the
    stateful-Python emit-on-complete assembler."""
    return _assembled(src)


@_runner("doc_id", fold=lambda out, a: _merged_docs(out))
def run_streaming_ordered_merge_jvm(src, a):
    """The PHASE barrier as an ALL-JVM session-window aggregate (the
    throughput path — no Python boundary; see ordered_doc_assembler_jvm).
    gap = 62 min > the fixture's max intra-doc event-time span (1 h), so
    each doc is exactly one session; the session closes when the
    watermark passes last-shard + gap, which the flush sentinels
    guarantee. Output digest matches the batch merged_doc_check oracle —
    the same rows the stateful-Python path emits, proving the two
    assembler implementations interchangeable."""
    return _assembled_jvm(src)


def run_throttled_ingest(spark: SparkSession, stage_dir: str,
                         expected_rows: int, delay_ms: int = 1500,
                         checkpoint_dir: str | None = None):
    """Rate-limited source — the ThrottledGraph analog
    (extensions/tinkerpop/.../ThrottledGraph.java:50-58 wraps every
    addVertex/vertices/edges call in RuntimeUtil.stall(delay)).

    Spark's declarative form of latency injection is trigger pacing:
    ``maxFilesPerTrigger=1`` caps the work admitted per micro-batch and
    ``trigger(processingTime=delay_ms)`` enforces the minimum cadence
    between batch STARTS — the engine stalls the source, the query plan
    is untouched, and removing the throttle is a config change, exactly
    like unwrapping ThrottledGraph. Runs until ``expected_rows`` have
    been admitted (or THROTTLE_TIMEOUT_SEC passes), then stops; returns
    the RuntimeMetricsListener whose per-batch ``ts_iso`` records prove
    the pacing (tests assert consecutive non-empty batch starts are >=
    ~delay apart).
    """
    with listening(spark) as listener:
        src = read_token_stream(spark, stage_dir, files_per_trigger=1)
        q = (
            src.writeStream.format("noop")
            .option("checkpointLocation",
                    checkpoint_dir or _tmp("thr_ck_"))
            .trigger(processingTime=f"{delay_ms} milliseconds")
            .start()
        )
        try:
            deadline = time.time() + THROTTLE_TIMEOUT_SEC
            while listener.total_rows < expected_rows:
                # surface a dead query's real error instead of spinning
                # the whole timeout and reporting a generic row-count stall
                if q.exception() is not None:
                    raise q.exception()
                if time.time() > deadline:
                    raise TimeoutError(
                        f"throttled ingest saw {listener.total_rows}/"
                        f"{expected_rows} rows within "
                        f"{THROTTLE_TIMEOUT_SEC}s")
                time.sleep(delay_ms / 1000.0 / 4)
        finally:
            q.stop()
            q.awaitTermination()
    return listener


def _parity_shard_streams(src: DataFrame, keep_sentinels: bool):
    """Even/odd shard split + interval-join condition — the shared,
    parity-critical core of the stream-stream join family
    (inner = shard_join, left/full = the outer pipelines, and the
    join→window chains): one definition of the seq-parity predicates
    and the ±MAX_GAP_SEC condition so a boundary change cannot silently
    miss one variant.

    ``keep_sentinels``: the OUTER joins must let the flush sentinels
    FLOW THROUGH both watermark operators (outer emission needs the min
    of both watermarks past the real data, and any sentinel predicate
    in the plan is pushed below EventTimeWatermark — CLAUDE.md sentinel
    invariant, join corollary), so their parity predicates admit
    sentinel rows; the inner join drops sentinels at source instead.
    Returns (even, odd, join condition)."""
    is_sent = F.col("source") == SENTINEL
    even_pred = F.col("seq") % 2 == 0
    odd_pred = F.col("seq") % 2 == 1
    if keep_sentinels:
        even_pred = even_pred | is_sent
        odd_pred = odd_pred | is_sent
    even = (
        src.where(even_pred)
        .select("doc_id", F.col("seq").alias("seq_a"),
                F.col("n_tok").alias("n_tok_a"), F.col("ts").alias("ts_a"))
        .withWatermark("ts_a", WATERMARK)
    )
    odd = (
        src.where(odd_pred)
        .select(F.col("doc_id").alias("doc_id_b"),
                F.col("seq").alias("seq_b"),
                F.col("n_tok").alias("n_tok_b"), F.col("ts").alias("ts_b"))
        .withWatermark("ts_b", WATERMARK)
    )
    gap = F.expr(f"INTERVAL {MAX_GAP_SEC} SECONDS")
    cond = (
        (even.doc_id == odd.doc_id_b)
        & (odd.ts_b >= even.ts_a - gap)
        & (odd.ts_b <= even.ts_a + gap)
    )
    return even, odd, cond


@_runner("doc_id", "seq_a", "seq_b",
         fold=lambda out, a: out.groupBy("doc_id").agg(*_pair_totals()))
def run_streaming_shard_join(src, a):
    """Watermarked stream-stream join correlating shard streams on doc_id
    (PinionSystem/SlipWheel keyed analog); per-doc aggregate of the joined
    pairs matches the batch shard_pair_join oracle."""
    even, odd, cond = _parity_shard_streams(
        src.where(F.col("source") != SENTINEL), keep_sentinels=False)
    return even.join(odd, cond, "inner") \
        .select("doc_id", "seq_a", "seq_b", "n_tok_a", "n_tok_b")


def _left_join_fold(out: DataFrame, a) -> DataFrame:
    # sentinel pairs DO reach the sink (they match each other and emit
    # as ordinary join output); cut them here, outside the plan
    return (
        out.where(F.col("doc_id") != SENTINEL).groupBy("doc_id")
        .agg(F.count("*").alias("n_rows"),
             F.sum((F.col("seq_b") >= 0).cast("int")).cast("bigint")
             .alias("n_matched"),
             F.sum((F.col("seq_b") < 0).cast("int")).cast("bigint")
             .alias("n_lonely"),
             F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint")
             .alias("pair_tok"))
    )


@_runner("doc_id", "seq_a", "seq_b", fold=_left_join_fold)
def run_streaming_left_join(src, a):
    """Watermarked stream-stream LEFT OUTER join: even shards that find
    no odd partner within ±MAX_GAP_SEC MUST still be emitted (with
    nulls) — but only once the watermark proves no partner can still
    arrive. This is the outer-emission contract Spark adds on top of
    the inner join: unmatched left state is held until watermark >
    ts_a + gap, then released exactly once.

    Sentinel discipline differs from every other pipeline here: the
    flush sentinels must FLOW THROUGH both watermark operators (outer
    emission needs the min of both sides' watermarks to advance past
    the real data), so the parity predicates keep sentinel rows and NO
    sentinel filter exists anywhere in the streaming plan — not even
    after the join, because Catalyst pushes a post-join non-time
    predicate through the join to below EventTimeWatermark, silently
    stalling the watermark at max_real_ts - delay (observed: the last
    10 minutes of lonely rows never emitted). Sentinel artifacts are
    instead dropped at sink-READ time, outside the streaming plan
    (CLAUDE.md sentinel invariant, join-shaped corollary).
    """
    even, odd, cond = _parity_shard_streams(src, keep_sentinels=True)
    return even.join(odd, cond, "left_outer").select(
        "doc_id", "seq_a", "n_tok_a",
        F.coalesce("seq_b", F.lit(-1)).alias("seq_b"),
        F.coalesce("n_tok_b", F.lit(0)).alias("n_tok_b"))


@_runner("doc_id", variant="gaps",
         fold=lambda out, a: out.where(F.col("total_tok") < 0).select(
             "doc_id", F.col("n_shard").cast("int").alias("n_received"),
             (-F.col("total_tok")).cast("int").alias("expected")))
def run_streaming_incomplete_audit(src, a):
    """Observable drop-and-count: over a lossy staged drop (every 5th
    doc loses its seq=1 shard), the stateful assembler emits an AUDIT
    row for each doc the event-time timeout evicts — doc_id, shards
    actually received, shards expected — instead of silently removing
    state. Complete docs still emit merged (and are discarded here);
    the query's result is exactly the incomplete set, which the oracle
    derives arithmetically from the drop rule.
    """
    return _assembled(src, emit_incomplete=True)


@_runner("doc_id", "session_start", variant="dedup")
def run_streaming_dedup_sessions(src, a):
    """CHAINED stateful operators in one streaming DAG: exactly-once
    restoration (dropDuplicatesWithinWatermark over the doubled
    at-least-once drop) feeding a session-window aggregate — two state
    stores, one watermark, append mode end to end. This is the composed
    shape real pipelines run (dedup is never a separate job at 100 TB;
    it's the first stateful stage of the same query), and the result
    must equal the batch session oracle over the CLEAN table.

    Sentinel note: the duplicate-keyed second sentinel is eaten by the
    dedup state, but the watermark node sits upstream of it, so the
    second sentinel still advances event time before being dropped.
    """
    return _session_agg(src.withWatermark("ts", WATERMARK)
                        .dropDuplicatesWithinWatermark(["doc_id", "seq"]))


def _leaderboard_fold(out: DataFrame, a) -> DataFrame:
    w = Window.orderBy(F.desc("sum_tok"), F.asc("source"))
    return (
        out.withColumn("lb_rank", F.row_number().over(w).cast("int"))
        .where(F.col("lb_rank") <= LEADERBOARD_TOP_N)
        .select("source", F.col("n_seq").cast("bigint").alias("n_seq"),
                "sum_tok", "lb_rank")
    )


@_runner("source", variant="nosentinel", output_mode="update",
         fold=_leaderboard_fold)
def run_streaming_leaderboard(src, a):
    """Continuously-maintained leaderboard: an update-mode GLOBAL
    running aggregate per source (no window — the all-time total) whose
    changed rows upsert into the keyed sink every trigger; the read
    side ranks the latest totals. This is the live-dashboard shape:
    state is one row per key, updates supersede, no watermark or
    sentinel involved, and the end state must equal the batch totals.
    """
    return src.groupBy("source").agg(*_seq_totals())


def run_streaming_fanout(spark: SparkSession, sf_dir: str,
                         stage_dir: str | None = None,
                         sink_dir: str | None = None,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """One-pass fan-out: a SINGLE streaming query maintains TWO outputs
    — the raw shard archive (epoch-partitioned parquet, replay-
    idempotent by the same overwrite discipline as the sink) and an
    ADDITIVE per-source counter sink (AdditiveKeyedSink) fed per-batch
    partial aggregates.

    The stream itself holds ZERO state: no update-mode global
    aggregate, no per-key store — each micro-batch computes its own
    partials and the sink's additive MERGE folds them. That is the
    counter-upsert pattern deployed when the key space is too large for
    stream state (state cost moves to cheap log storage), and the
    fan-out shows foreachBatch as a multi-sink transaction: both writes
    key on the SAME epoch id, so a replayed batch re-overwrites both
    outputs consistently.

    The returned frame self-checks exactly-once end to end: per-source
    running totals from the additive fold joined against the archive's
    actual row counts — n_seq must equal n_archived row for row, and
    both must equal the batch oracle over the clean table.

    The archive lives INSIDE the counter sink (``<sink>/_archive/
    epoch=N``), so a resume on the same sink and checkpoint archives
    into the same place the earlier epochs went, and drop_storage()
    removes both. The sink's read() and compact() only look at
    ``epoch=`` and ``_snapshot*`` entries.
    """
    src = read_token_stream(
        spark, _resolve_stage(spark, sf_dir, stage_dir, "nosentinel"))
    counters = AdditiveKeyedSink(sink_dir or _tmp("ms_sink_"),
                                 ["source"], ["n_seq", "sum_tok"])
    archive = os.path.join(counters.path, "_archive")

    def _fanout(batch: DataFrame, epoch_id: int) -> None:
        # unpersist in a finally: a failed write must not leave the
        # micro-batch cached on the shared session
        batch.persist()
        try:
            (batch.write.mode("overwrite")
             .parquet(os.path.join(archive, f"epoch={epoch_id}")))
            partials = batch.groupBy("source").agg(*_seq_totals())
            counters.foreach_batch(partials, epoch_id)
        finally:
            batch.unpersist()

    _drain(src, counters, checkpoint_dir, batch_fn=_fanout)
    archived = (
        spark.read.parquet(archive)
        .groupBy("source").agg(F.count("*").cast("bigint")
                               .alias("n_archived")))
    return (
        counters.read(spark).join(archived, "source")
        .select("source", "n_seq", "sum_tok", "n_archived")
    )


def _full_outer_join_fold(out: DataFrame, a) -> DataFrame:
    return (
        out.where(F.col("doc_id") != SENTINEL).groupBy("doc_id")
        .agg(F.count("*").alias("n_rows"),
             F.sum(((F.col("seq_a") >= 0) & (F.col("seq_b") >= 0))
                   .cast("int")).cast("bigint").alias("n_matched"),
             F.sum((F.col("seq_b") < 0).cast("int")).cast("bigint")
             .alias("n_lonely_left"),
             F.sum((F.col("seq_a") < 0).cast("int")).cast("bigint")
             .alias("n_lonely_right"),
             F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint")
             .alias("pair_tok"))
    )


@_runner("doc_id", "seq_a", "seq_b", fold=_full_outer_join_fold)
def run_streaming_full_outer_join(src, a):
    """Watermarked stream-stream FULL OUTER join — both lonely sides
    emit: even shards with no odd partner AND odd shards with no even
    partner surface with null counterparts once the min of the two
    watermarks proves no partner can still arrive. Completes the outer-
    join family (inner = shard_pair, left = run_streaming_left_join);
    state eviction now happens on BOTH sides, so the sentinel
    discipline is identical to the left join: sentinels flow through
    both watermarks, no sentinel predicate exists anywhere in the
    streaming plan, and sentinel artifacts are cut at sink-READ time.
    """
    even, odd, cond = _parity_shard_streams(src, keep_sentinels=True)
    return even.join(odd, cond, "full_outer").select(
        F.coalesce(F.col("doc_id"), F.col("doc_id_b")).alias("doc_id"),
        F.coalesce("seq_a", F.lit(-1)).alias("seq_a"),
        F.coalesce("n_tok_a", F.lit(0)).alias("n_tok_a"),
        F.coalesce("seq_b", F.lit(-1)).alias("seq_b"),
        F.coalesce("n_tok_b", F.lit(0)).alias("n_tok_b"))


@_runner("ws")
def run_streaming_join_then_window(src, a):
    """TWO chained stateful operators in ONE streaming query: the
    watermarked stream-stream interval join feeds a tumbling window
    aggregation downstream — join state AND window state live in the
    same query (Spark's multiple-stateful-operator support), so pair
    throughput per window emits end-to-end without an intermediate
    sink. This is the reference's Emitter→(zip)→Encoder→Output chain
    with BOTH coordination stages stateful (PinionSystem zip feeding
    the windowed OutputMonitor counters) rather than one-per-query.

    Sentinel discipline: sentinels flow through both pre-join
    watermarks (keep_sentinels=True; the downstream append-mode window
    only emits once the post-join watermark passes it) and their
    far-future self-pairs are cut INSIDE the plan by a predicate on the
    window column — the one filter shape that cannot be pushed below
    the EventTimeWatermark nodes (CLAUDE.md sentinel invariant).
    """
    even, odd, cond = _parity_shard_streams(src, keep_sentinels=True)
    return _window_agg(even.join(odd, cond, "inner"),
                       F.window("ts_a", WIDTH), [], _pair_totals(),
                       _flushed())


@_runner("user_id", variant="events", schema=EVENTS_SCHEMA,
         files_per_trigger=None)
def run_streaming_pattern_match(src, a):
    """Streaming CEP row-pattern matching over the events stream: the
    stateful matcher (operators/patterns.py:user_pattern_stats, with
    its default pattern) closes each user's activity episode on
    event-time timeout and emits the MATCH_RECOGNIZE stats row; the
    sink is keyed by user_id. Sentinel rows become the user_id = -1
    episode and are dropped after the stateful stage (a post-stage
    filter cannot be pushed below the watermark through a Python
    stage)."""
    return user_pattern_stats(src, watermark=EVENTS_WINDOW) \
        .where(F.col("user_id") >= 0)


@_runner("ws", "source")
def run_streaming_window_rollup(src, a):
    """Chained WINDOW aggregations in one streaming query (the second
    multiple-stateful-operator shape, next to join→window): 5-minute
    per-source partials re-aggregated into 1-hour totals by windowing
    ON the first aggregate's window column — the streaming form of a
    multiresolution rollup chain (batch analog: multires_rollup_chain).
    At scale this is how a high-resolution stream feeds a low-
    resolution dashboard without a second pipeline or an intermediate
    sink: both window states advance on one watermark front, and the
    coarse agg reads the fine agg's EMITTED rows (append semantics).

    Sentinels flow through the watermark untouched; their far-future
    fine windows are cut AFTER the coarse aggregation by a predicate on
    the coarse window column (the only pushdown-safe filter shape —
    cutting between the two aggs would push below the first window)."""
    fine_agg = (
        src.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WIDTH).alias("w5"), "source")
        .agg(*_seq_totals())
    )
    return _window_agg(
        fine_agg, F.window(F.col("w5"), ROLLUP_WIDTH), ["source"],
        [F.count("*").alias("n_fine"),
         F.sum("n_seq").cast("bigint").alias("n_seq"),
         F.sum("sum_tok").cast("bigint").alias("sum_tok")], _flushed())


def run_streaming_neardup_monitor(spark: SparkSession, sf_dir: str,
                                  stage_dir: str | None = None,
                                  sink_dir: str | None = None,
                                  checkpoint_dir: str | None = None,
                                  files_per_trigger: int | None = None,
                                  sig_mode: str = "stream") -> DataFrame:
    """Streaming near-dup-rate monitor: per (window, source), how many
    arriving shards were MinHash-signature duplicates of another shard
    in the same window. The stateful plan is two CHAINED windowed
    aggregates: (window, source, sig) groups, then the per-(window,
    source) fold of their emitted rows. That chain is the
    exact-distinct form a single streaming agg forbids (count_distinct
    is unsupported; approx_count_distinct is the sketch escape hatch).

    ``sig_mode`` places the signature computation:
    - "stream" (default, self-contained — the oracle row): computed
      IN-ROW per arriving shard (dedup.shard_signature_expr — 16
      array_min probes over the token array; no state). Measured cost:
      the probe expression ALONE runs 166k rows/s on full local[32],
      capping the monitor at ~58k seq/s — the signature, not the agg
      chain, is the bottleneck.
    - "staged" (the production layout): the landing job stamps the
      deterministic per-shard signature at stage time (with_sig=True /
      the "ndsig" variant) and the stream reads it as a column, so the
      stream pays only the fold. Same result bit-for-bit (the
      signature is content-derived; pinned by
      test_neardup_monitor_staged_equals_stream); the sentinel's empty
      token array stages the same NULL the in-row expression folds to.

    Scale shape: state is one row per distinct signature per open
    window (duplicate shards collapse map-side before the shuffle),
    then one row per (window, source). A keep/suppress FILTER form
    would be batch-order-dependent — which duplicate survives depends
    on intra-batch arrival order — while COUNTS are order-free, which
    is what keeps this oracle-checkable; the filtering form is the
    batch path (dedup.lsh_verified_neardups / dup_cluster_labels).

    Sentinel note (rollup corollary): the flush sentinels' NULL
    signature groups alone; their far-future window is cut AFTER the
    second aggregate by the window-column predicate — cutting between
    the aggs would push the filter below the first window and stall
    the flush.
    """
    runner = _neardup_staged if sig_mode == "staged" else _neardup_stream
    return runner(spark, sf_dir, stage_dir=stage_dir, sink_dir=sink_dir,
                  checkpoint_dir=checkpoint_dir,
                  files_per_trigger=files_per_trigger)


def _neardup_plan(src: DataFrame, sig_col: Column) -> DataFrame:
    """The near-dup monitor's two chained aggregates over ``sig_col``."""
    per_sig = (
        src.withColumn("sig", sig_col)
        .withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WIDTH).alias("w5"), "source", "sig")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_sig
        .groupBy(F.window(F.col("w5"), WIDTH).alias("w"), "source")
        .agg(F.sum("n").cast("bigint").alias("n_seq"),
             F.count("*").cast("bigint").alias("n_distinct_sig"))
        .where(_flushed())
        .select(F.unix_timestamp("w.start").alias("ws"), "source",
                "n_seq", "n_distinct_sig",
                (F.col("n_seq") - F.col("n_distinct_sig"))
                .cast("bigint").alias("n_dup_seq"))
    )


@_runner("ws", "source", files_per_trigger=None)
def _neardup_stream(src, a):
    """sig_mode="stream": the signature computed in-row."""
    return _neardup_plan(src, F.expr(shard_signature_expr()))


@_runner("ws", "source", variant="ndsig", schema=NDSIG_STREAM_SCHEMA,
         files_per_trigger=None)
def _neardup_staged(src, a):
    """sig_mode="staged": the signature read from the stage."""
    # fail FAST on a sig-free stage file: parquet schema projection
    # would silently read the missing column as NULL for every row,
    # collapsing each (window, source) into one giant "dup" group —
    # plausible-looking, completely wrong output. EVERY file's footer
    # is checked (footers only, cheap): one sig-free file among
    # signature files is just as wrong, and a dataset-level schema
    # reflects only the first file.
    sig_free = [f for f in sorted(os.listdir(a.stage))
                if f.endswith(".parquet") and "sig" not in
                pq.read_schema(os.path.join(a.stage, f)).names]
    if sig_free:
        raise ValueError(
            f"sig_mode='staged' needs a signature-enriched stage "
            f"(with_sig=True / 'ndsig' variant); {a.stage} has "
            f"{len(sig_free)} file(s) with no 'sig' column, e.g. "
            f"{sig_free[0]}")
    return _neardup_plan(src, F.col("sig"))


@_runner("ws", variant="dedup")
def run_streaming_dedup_join_window(src, a):
    """THREE chained stateful operators in ONE streaming query, under
    at-least-once delivery: per-side dropDuplicatesWithinWatermark
    restores exactly-once rows (every staged chunk arrives TWICE), the
    watermarked interval join pairs the restored sides, and a tumbling
    window aggregates the pairs — dedup state, join buffers, and window
    partials all live in one checkpoint and advance on one watermark
    front. The oracle is the clean batch join+rollup: the duplicated
    input must leave NO trace.

    Sentinel note: the per-key dedup drops the SECOND flush sentinel
    (same (doc_id, seq) key), which is harmless — watermark advancement
    happens at the per-side EventTimeWatermark nodes below the dedup,
    which see both sentinel files; surviving far-future rows are cut by
    the window-column predicate as in every windowed pipeline."""
    even, odd, cond = _parity_shard_streams(src, keep_sentinels=True)
    pairs = (even.dropDuplicatesWithinWatermark(["doc_id", "seq_a"])
             .join(odd.dropDuplicatesWithinWatermark(["doc_id_b", "seq_b"]),
                   cond, "inner"))
    return _window_agg(pairs, F.window("ts_a", WIDTH), [], _pair_totals(),
                       _flushed())
