"""Benchmark runners: headline batch queries + streaming throughput.

The authoritative metric (BASELINE.md): sustained sequences/sec and
tokens/sec through the windowed stateful pipeline, plus scaling
efficiency >= 0.8 from N to 4N parallelism (evidenced as local[N] vs
local[4N] — see bench/scaling.py).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

from movement_spark.sinks.idempotent import IdempotentKeyedSink
from movement_spark.sources.tokens import EPOCH_2026, TS_MOD
from movement_spark.streaming.metrics import RuntimeMetricsListener
from movement_spark.streaming.pipeline import STREAM_SCHEMA

# Headline queries for bench.py — a representative slice of the engine:
# the north-rule token pipeline, a stateful ordering check, joins/aggs
# over the biggest fact table, dedup + ANN from the toolbox.
HEADLINE = (
    "tumbling_token_throughput",
    "sliding_token_throughput",
    "session_token_windows",
    "merged_doc_check",
    "shard_pair_join",
    "minhash_lsh_stats",
    "ann_brute_force_topk",
    "pricing_summary",
    "supplier_part_volume",
    "events_sessionization",
)


def time_query(fn, spark: SparkSession, sf_dir: str, runs: int = 2) -> float:
    """Wall time of full materialization (noop sink — no collect cost,
    no disk cost, full plan executes). Best-of-N."""
    return time_query_stats(fn, spark, sf_dir, runs)["min"]


def time_query_stats(fn, spark: SparkSession, sf_dir: str,
                     runs: int = 3) -> dict:
    """Median-of-N timing with spread — the per-round headline
    methodology. Single runs on a shared/noisy hypervisor produced
    ±25-47% round-over-round 'regressions' on unchanged code (VERDICT
    r02 #2); the median plus the reported min/max spread makes round
    deltas signal: a real regression moves the median OUTSIDE the
    previous round's spread band."""
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples.append(time.perf_counter() - t0)
    samples.sort()
    return {
        "median": samples[len(samples) // 2] if runs % 2 == 1
        else (samples[runs // 2 - 1] + samples[runs // 2]) / 2,
        "min": samples[0],
        "max": samples[-1],
        "runs": runs,
    }


def cep_assembler_throughput(spark: SparkSession, stage_dir: str,
                             n_rows: int, sink_dir: str,
                             checkpoint_dir: str, mode: str = "jvm",
                             files_per_trigger: int = 16,
                             state_partitions: int = 8) -> dict:
    """Throughput of the per-doc ordered-assembly stage (the PHASE
    barrier) over a staged stream, in either implementation:
    ``mode="python"`` = applyInPandasWithState emit-on-complete CEP;
    ``mode="jvm"`` = session-window streaming aggregate (the zero-Python
    throughput path). Same sink/checkpoint discipline as the main
    streaming bench; used by bench.py (per-round sub-metric) and
    bench/cep_throughput.py (standalone A/B)."""
    from movement_spark.operators.ordering import (
        ordered_doc_assembler, ordered_doc_assembler_jvm)
    from movement_spark.streaming.pipeline import (
        SENTINEL, read_token_stream)

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        src = read_token_stream(spark, stage_dir, files_per_trigger)
        if mode == "jvm":
            flush_cut = F.timestamp_seconds(F.lit(EPOCH_2026 + TS_MOD + 3600))
            merged = (
                ordered_doc_assembler_jvm(
                    src.select("doc_id", "seq", "tokens", "ts"))
                .where(F.col("w.start") < flush_cut)
                .drop("w")
            )
        else:
            merged = (
                ordered_doc_assembler(
                    src.select("doc_id", "seq", "tokens", "n_shards", "ts"),
                    watermark="10 minutes", timeout_ms=(TS_MOD + 120) * 1000)
                .where(F.col("doc_id") != SENTINEL)
            )
        sink = IdempotentKeyedSink(sink_dir, ["doc_id"])
        t0 = time.perf_counter()
        q = (merged.writeStream.outputMode("append")
             .foreachBatch(sink.foreach_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        elapsed = time.perf_counter() - t0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    docs_out = sink.read(spark).count()
    return {
        "mode": mode,
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "docs_out": docs_out,
        "rows_per_sec": round(n_rows / elapsed, 1),
    }


def streaming_throughput(spark: SparkSession, stage_dir: str, n_rows: int,
                         sink_dir: str, checkpoint_dir: str,
                         files_per_trigger: int = 8,
                         watermark: str = "10 minutes",
                         width: str = "5 minutes",
                         sig_probes: int = 16,
                         state_partitions: int | None = None) -> dict:
    """One full windowed-stateful streaming run over a staged stream;
    returns sequences/sec + tokens/sec (sustained, whole-run).

    The pipeline is the engine's flagship ingest pass: per-shard k-probe
    content signature (k = sig_probes = MINHASH_K-style LSH fingerprint,
    native xxhash64 — allocation-free, whole-stage-codegen) combined per
    window, plus the per-source token-throughput aggregate, through the
    exactly-once keyed sink.

    ``state_partitions`` pins the stateful shuffle layout. Like Kafka
    topic partitions, state layout is a deployment constant sized once —
    NOT something that grows with executor count — so scaling runs keep
    it fixed while scan/map parallelism scales with cores.
    """
    listener = RuntimeMetricsListener()
    spark.streams.addListener(listener)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        return _streaming_throughput_inner(
            spark, stage_dir, n_rows, sink_dir, checkpoint_dir,
            files_per_trigger, watermark, width, sig_probes, listener)
    finally:
        # restore shared-session state even when the query dies —
        # a leaked 8-partition layout would skew every later measurement
        spark.streams.removeListener(listener)
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def _streaming_throughput_inner(spark, stage_dir, n_rows, sink_dir,
                                checkpoint_dir, files_per_trigger,
                                watermark, width, sig_probes,
                                listener) -> dict:
    src = (
        spark.readStream.schema(STREAM_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage_dir)
    )
    flush_cut = F.timestamp_seconds(F.lit(EPOCH_2026 + TS_MOD + 3600))
    sig = " ^ ".join(f"xxhash64({j}, tokens)" for j in range(sig_probes))
    agg = (
        src.selectExpr("ts", "source", "n_tok", f"({sig}) as sig")
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"),
             F.expr("bit_xor(sig)").alias("sig_xor"))
        .where(F.col("w.start") < flush_cut)
        .select(F.unix_timestamp("w.start").alias("ws"), "source",
                "n_seq", "sum_tok", "sig_xor")
    )
    sink = IdempotentKeyedSink(sink_dir, ["ws", "source"])
    t0 = time.perf_counter()
    q = (
        agg.writeStream.outputMode("append")
        .foreachBatch(sink.foreach_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    elapsed = time.perf_counter() - t0
    out = sink.read(spark)
    emitted = out.count()
    total_tok = out.agg(F.sum("sum_tok")).collect()[0][0]
    # Steady-state rate: drop the first batch (JIT + state-store open)
    # and the last (flush/no-data tail) and divide mid-run rows by
    # mid-run trigger time — the sustained-throughput number the north
    # rule asks for, robust to micro-batch count at small inputs where
    # the whole-run rate is overhead-dominated (VERDICT r01).
    recs = sorted(listener.records, key=lambda r: r.batch_id)
    mid = recs[1:-1] if len(recs) >= 3 else recs
    mid_rows = sum(r.num_input_rows for r in mid)
    mid_sec = sum(r.duration_ms for r in mid) / 1000.0
    steady_seq = mid_rows / mid_sec if mid_sec > 0 else 0.0
    tok_per_row = (total_tok or 0) / n_rows if n_rows else 0.0
    return {
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "seq_per_sec": round(n_rows / elapsed, 1),
        "tok_per_sec": round((total_tok or 0) / elapsed, 1),
        "seq_per_sec_steady": round(steady_seq, 1),
        "tok_per_sec_steady": round(steady_seq * tok_per_row, 1),
        "steady_batches": len(mid),
        "windows_emitted": emitted,
        "batches": len(listener.records),
        "sum_tok": int(total_tok or 0),
    }


def _monitor_throughput(spark: SparkSession, runner, stage_dir: str,
                        n_rows: int, sink_dir: str, checkpoint_dir: str,
                        files_per_trigger: int, summarize) -> dict:
    """The ONE sink/checkpoint/steady-state methodology for every
    streaming-monitor bench (listener wiring, mid-batch slice,
    seq_per_sec math) — a drifting copy would make two monitors
    measure differently. ``summarize(out)`` returns the monitor's own
    read-side fields and runs INSIDE the timed region: each monitor's
    read-side fold is part of its contract, so it belongs in elapsed."""
    listener = RuntimeMetricsListener()
    t0 = time.perf_counter()
    out = runner(
        spark, sf_dir="", stage_dir=stage_dir, sink_dir=sink_dir,
        checkpoint_dir=checkpoint_dir, listener=listener,
        files_per_trigger=files_per_trigger)
    extra = summarize(out)
    elapsed = time.perf_counter() - t0
    recs = sorted(listener.records, key=lambda r: r.batch_id)
    mid = recs[1:-1] if len(recs) >= 3 else recs
    mid_rows = sum(r.num_input_rows for r in mid)
    mid_sec = sum(r.duration_ms for r in mid) / 1000.0
    return {
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "seq_per_sec": round(n_rows / elapsed, 1),
        "seq_per_sec_steady": round(mid_rows / mid_sec, 1)
        if mid_sec > 0 else 0.0,
        "steady_batches": len(mid),
        "batches": len(recs),
        **extra,
    }


def drift_monitor_throughput(spark: SparkSession, stage_dir: str,
                             n_rows: int, sink_dir: str,
                             checkpoint_dir: str,
                             files_per_trigger: int = 8) -> dict:
    """Throughput of the streaming drift monitor — the heaviest
    per-row stateful pipeline (every token explodes into the bucketed
    histogram state, vs one row per sequence in the throughput agg) —
    plus its read-side TVD fold. State partitions are pinned by
    the pipeline's _drain itself."""
    from movement_spark.streaming.pipeline import (
        run_streaming_drift_monitor)

    return _monitor_throughput(
        spark, run_streaming_drift_monitor, stage_dir, n_rows, sink_dir,
        checkpoint_dir, files_per_trigger,
        lambda out: {"drift_windows_out": out.count()})


def neardup_monitor_throughput(spark: SparkSession, stage_dir: str,
                               n_rows: int, sink_dir: str,
                               checkpoint_dir: str,
                               files_per_trigger: int = 8,
                               sig_mode: str = "stream") -> dict:
    """Throughput of the streaming near-dup monitor — the only
    chained-aggregate stateful pipeline (per-signature groups feeding a
    per-(window, source) fold). ``sig_mode="staged"`` reads the
    stage-time signature column (requires a stage written with
    with_sig=True — the production landing layout) so the stream pays
    only the fold; "stream" recomputes the 16-probe signature per row,
    which profiling showed is the dominant cost, not the agg chain."""
    from functools import partial

    from movement_spark.streaming.pipeline import (
        run_streaming_neardup_monitor)

    def summarize(out):
        # one job over the sink, not count()+agg() back to back — the
        # summary sits inside elapsed, so a second read would inflate
        # this monitor's wall relative to the others it's compared with
        r = out.agg(F.count("*"), F.sum("n_dup_seq")).collect()[0]
        return {"monitor_windows_out": r[0],
                "dup_seq_flagged": int(r[1] or 0)}

    out = _monitor_throughput(
        spark, partial(run_streaming_neardup_monitor, sig_mode=sig_mode),
        stage_dir, n_rows, sink_dir, checkpoint_dir, files_per_trigger,
        summarize)
    out["sig_mode"] = sig_mode
    return out


def cms_monitor_throughput(spark: SparkSession, stage_dir: str,
                           n_rows: int, sink_dir: str,
                           checkpoint_dir: str,
                           files_per_trigger: int = 8) -> dict:
    """Throughput of the streaming CMS frequency monitor — the per-row
    cost CEILING among the stateful monitors: every token explodes into
    CMS_D=4 probe rows before the windowed grid aggregate (~4× the
    drift monitor's state-update volume), with the additive cells
    collapsing map-side."""
    from movement_spark.streaming.pipeline import run_streaming_cms_monitor

    def summarize(out):
        r = out.agg(F.count("*"), F.sum("cms_est")).collect()[0]
        return {"watch_rows_out": r[0], "watch_est_sum": int(r[1] or 0)}

    return _monitor_throughput(
        spark, run_streaming_cms_monitor, stage_dir, n_rows, sink_dir,
        checkpoint_dir, files_per_trigger, summarize)


def quantile_monitor_throughput(spark: SparkSession, stage_dir: str,
                                n_rows: int, sink_dir: str,
                                checkpoint_dir: str,
                                files_per_trigger: int = 8) -> dict:
    """Throughput of the streaming quantile monitor — the lightest-state
    stateful pipeline: each sequence contributes ONE (window, source,
    bucket) counter increment via arithmetic on n_tok (no explode, no
    per-signature groups), so state is pinned at windows × sources × 64
    rows regardless of input volume. This bounds the floor of stateful-
    agg overhead: its gap vs the headline windowed agg is the cost of a
    64-wide grouping key, nothing else."""
    from movement_spark.streaming.pipeline import (
        run_streaming_quantile_monitor)

    def summarize(out):
        r = out.agg(F.count("*"), F.max("p99_lo")).collect()[0]
        return {"monitor_rows_out": r[0], "max_p99_lo": int(r[1] or 0)}

    return _monitor_throughput(
        spark, run_streaming_quantile_monitor, stage_dir, n_rows,
        sink_dir, checkpoint_dir, files_per_trigger, summarize)
