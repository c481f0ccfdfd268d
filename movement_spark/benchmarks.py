"""Benchmark runners: headline batch queries + streaming throughput.

The authoritative metric (BASELINE.md): sustained sequences/sec and
tokens/sec through the windowed stateful pipeline, plus scaling
efficiency >= 0.8 from N to 4N parallelism (evidenced as local[N] vs
local[4N] — see bench/scaling.py).

The streaming benches keep no engine of their own: they read through
``pipeline.read_token_stream``, build from the pipelines' plan fragments
(flush cut, windowed aggregate, the assembler runners' rows,
WATERMARK/WIDTH) and run through ``pipeline._drain``, which pins
STATE_PARTITIONS and scopes the trailing no-data batch; their
RuntimeMetricsListener attaches through ``metrics.listening``.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession, functions as F

from movement_spark.streaming.metrics import listening
from movement_spark.streaming.pipeline import (
    WATERMARK, WIDTH, _drain, _flushed, _ordered_merge_python, _sink,
    _seq_totals, _window_agg, read_token_stream,
    run_streaming_ordered_merge_jvm)

SIG_PROBES = 16  # xxhash64 probes in streaming_throughput's signature
CEP_FILES_PER_TRIGGER = 16  # cep_assembler_throughput's pacing

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


def time_query_stats(fn, spark: SparkSession, sf_dir: str,
                     runs: int = 3) -> dict:
    """Wall time of full materialization (noop sink — no collect cost,
    no disk cost, full plan executes), median-of-N with spread — the
    per-round headline methodology. Single runs on a shared/noisy
    hypervisor produced
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
                             checkpoint_dir: str,
                             mode: str = "jvm") -> dict:
    """Throughput of the per-doc ordered-assembly stage (the PHASE
    barrier) over a staged stream, in either implementation:
    ``mode="python"`` = applyInPandasWithState emit-on-complete CEP;
    ``mode="jvm"`` = session-window streaming aggregate (the zero-Python
    throughput path). The assembler runners' own rows (plan, sink keys,
    whether the drain waits on the watermark) and drain; used by
    bench.py (per-round sub-metric) and bench/cep_throughput.py
    (standalone A/B)."""
    row = (run_streaming_ordered_merge_jvm if mode == "jvm"
           else _ordered_merge_python).row
    merged = row.build(
        read_token_stream(spark, stage_dir, CEP_FILES_PER_TRIGGER), None)
    t0 = time.perf_counter()
    sink = _drain(merged, _sink(sink_dir, *row.keys), checkpoint_dir,
                  waits_on_watermark=row.waits_on_watermark)
    elapsed = time.perf_counter() - t0
    docs_out = sink.read(spark).count()
    return {
        "mode": mode,
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "docs_out": docs_out,
        "rows_per_sec": round(n_rows / elapsed, 1),
    }


def _steady(records) -> tuple[int, float]:
    """Steady-state rate: drop the first batch (JIT + state-store open)
    and the last (flush/no-data tail) and divide mid-run rows by mid-run
    trigger time — the sustained-throughput number the north rule asks
    for, robust to micro-batch count at small inputs where the whole-run
    rate is overhead-dominated (VERDICT r01). Returns (mid-run batches,
    rows/s)."""
    recs = sorted(records, key=lambda r: r.batch_id)
    mid = recs[1:-1] if len(recs) >= 3 else recs
    mid_sec = sum(r.duration_ms for r in mid) / 1000.0
    rate = (sum(r.num_input_rows for r in mid) / mid_sec
            if mid_sec > 0 else 0.0)
    return len(mid), rate


def streaming_throughput(spark: SparkSession, stage_dir: str, n_rows: int,
                         sink_dir: str, checkpoint_dir: str,
                         files_per_trigger: int = 8) -> dict:
    """One full windowed-stateful streaming run over a staged stream;
    returns sequences/sec + tokens/sec (sustained, whole-run).

    The pipeline is the engine's flagship ingest pass: per-shard
    SIG_PROBES-probe content signature (MINHASH_K-style LSH fingerprint,
    native xxhash64 — allocation-free, whole-stage-codegen) combined per
    window, plus the per-source token-throughput aggregate, through the
    exactly-once keyed sink. The stateful shuffle layout is the pinned
    STATE_PARTITIONS that ``_drain`` sets around query start: like Kafka
    topic partitions, state layout is a deployment constant sized once —
    NOT something that grows with executor count — so scaling runs keep
    it fixed while scan/map parallelism scales with cores.
    """
    src = read_token_stream(spark, stage_dir, files_per_trigger)
    sig = " ^ ".join(f"xxhash64({j}, tokens)" for j in range(SIG_PROBES))
    agg = _window_agg(
        src.selectExpr("ts", "source", "n_tok", f"({sig}) as sig")
        .withWatermark("ts", WATERMARK),
        F.window("ts", WIDTH), ["source"],
        _seq_totals() + [F.expr("bit_xor(sig)").alias("sig_xor")],
        _flushed())
    with listening(spark) as listener:
        t0 = time.perf_counter()
        sink = _drain(agg, _sink(sink_dir, "ws", "source"), checkpoint_dir)
        elapsed = time.perf_counter() - t0
        out = sink.read(spark)
        emitted = out.count()
        total_tok = out.agg(F.sum("sum_tok")).collect()[0][0]
    steady_batches, steady_seq = _steady(listener.records)
    tok_per_row = (total_tok or 0) / n_rows if n_rows else 0.0
    return {
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "seq_per_sec": round(n_rows / elapsed, 1),
        "tok_per_sec": round((total_tok or 0) / elapsed, 1),
        "seq_per_sec_steady": round(steady_seq, 1),
        "tok_per_sec_steady": round(steady_seq * tok_per_row, 1),
        "steady_batches": steady_batches,
        "windows_emitted": emitted,
        "batches": len(listener.records),
        "rows_dropped_late": sum(r.rows_dropped_late
                                 for r in listener.records),
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
    with listening(spark) as listener:
        t0 = time.perf_counter()
        out = runner(
            spark, sf_dir="", stage_dir=stage_dir, sink_dir=sink_dir,
            checkpoint_dir=checkpoint_dir,
            files_per_trigger=files_per_trigger)
        extra = summarize(out)
        elapsed = time.perf_counter() - t0
    steady_batches, steady_seq = _steady(listener.records)
    return {
        "elapsed_sec": round(elapsed, 3),
        "rows_in": n_rows,
        "seq_per_sec": round(n_rows / elapsed, 1),
        "seq_per_sec_steady": round(steady_seq, 1),
        "steady_batches": steady_batches,
        "batches": len(listener.records),
        "rows_dropped_late": sum(r.rows_dropped_late
                                 for r in listener.records),
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
