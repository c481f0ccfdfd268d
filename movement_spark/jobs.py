"""Named jobs: the Load / Export / Migrate task surface re-expressed.

The reference registers tasks by name and runs them through
Plugin.runTask (Task.java:31; Load.java:23, Export.java:29,
Migrate.java:28). Here a job is a named function over (spark, config);
the CLI (movement_spark.cli) and the Python API both dispatch through
JOBS — the same layered-config + name-dispatch contract, minus
reflection.
"""

from __future__ import annotations

import os
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import SparkSession

from movement_spark.session import get_spark


@dataclass
class JobResult:
    """Task.getResults analog (Task.java:77-103): status + metrics +
    start/end timestamps."""
    name: str
    status: str
    started_at: float
    ended_at: float
    metrics: dict[str, Any] = field(default_factory=dict)

    @property
    def elapsed_sec(self) -> float:
        return self.ended_at - self.started_at


def _job_load(spark: SparkSession, conf: dict) -> dict:
    """Load: token stream → ordered assembly → keyed table (the CSV-dir →
    graph ingest of the reference, re-typed)."""
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge
    out = conf.get("output.dir") or tempfile.mkdtemp(prefix="ms_load_")
    df = run_streaming_ordered_merge(
        spark, conf.get("input.sf_dir", "/root/testdata/sf0.001"),
        sink_dir=os.path.join(out, "sink"),
        checkpoint_dir=os.path.join(out, "ck"))
    n = df.count()
    return {"rows": n, "output": out}


def _job_export(spark: SparkSession, conf: dict) -> dict:
    """Export: engine table → partitioned parquet directory layout
    (DirectoryOutput's <type>/<label>/ layout analog via partitionBy)."""
    from movement_spark.sources.tokens import token_sequences
    out = conf.get("output.dir") or tempfile.mkdtemp(prefix="ms_export_")
    df = token_sequences(spark, conf.get("input.sf_dir", "/root/testdata/sf0.001"))
    df.write.mode("overwrite").partitionBy("source").parquet(out)
    return {"rows": df.count(), "output": out}


def _job_migrate(spark: SparkSession, conf: dict) -> dict:
    """Migrate: table → table streaming copy with exactly-once sink."""
    from movement_spark.streaming.pipeline import run_streaming_tumbling
    out = conf.get("output.dir") or tempfile.mkdtemp(prefix="ms_migrate_")
    df = run_streaming_tumbling(
        spark, conf.get("input.sf_dir", "/root/testdata/sf0.001"),
        sink_dir=os.path.join(out, "sink"),
        checkpoint_dir=os.path.join(out, "ck"))
    return {"rows": df.count(), "output": out}


def _job_load_csv(spark: SparkSession, conf: dict) -> dict:
    """LoadCsv: per-label CSV directory → validated keyed parquet table —
    the reference's literal Load task (CSV dir + decoder → store,
    Load.java:23,40-52) over the DirectoryEmitter-analog reader. Rows
    failing validation are routed to a dead-letter directory instead of
    aborting the load (dropDanglingEdges-style policy, counted)."""
    from pyspark.sql import functions as F

    from movement_spark.operators.validate import split_valid
    from movement_spark.sinks.directory import read_directory_csv

    src = conf["input.csv_dir"]
    phase = conf.get("input.phase", "vertices")
    schema = conf.get("input.schema", "id BIGINT, acctbal DOUBLE, label STRING")
    key = conf.get("input.key", "id")
    out = conf.get("output.dir") or tempfile.mkdtemp(prefix="ms_loadcsv_")
    df = read_directory_csv(spark, src, phase, schema)
    good, bad = split_valid(df, {
        "key_present": F.col(key).isNotNull(),
        "label_present": F.col("label").isNotNull(),
    })
    good.write.mode("overwrite").partitionBy("label").parquet(
        os.path.join(out, "table"))
    n_bad = bad.count()
    if n_bad:
        bad.write.mode("overwrite").parquet(os.path.join(out, "dead_letter"))
    n_good = spark.read.parquet(os.path.join(out, "table")).count()
    return {"rows": n_good, "dead_letters": n_bad, "output": out}


def _job_bench(spark: SparkSession, conf: dict) -> dict:
    from movement_spark.benchmarks import streaming_throughput
    from movement_spark.sources.synth import stage_synth_stream
    work = tempfile.mkdtemp(prefix="ms_benchjob_")
    n_docs = int(conf.get("bench.docs", "100000"))
    stage = os.path.join(work, "stage")
    rows = stage_synth_stream(spark, n_docs, stage, n_files=64)
    return streaming_throughput(
        spark, stage, rows, os.path.join(work, "sink"),
        os.path.join(work, "ck"), files_per_trigger=16)


def _job_compact(spark: SparkSession, conf: dict) -> dict:
    """Compact: sink maintenance — collapse the epoch log of an
    idempotent keyed sink into its MERGE-on-write snapshot (the
    OPTIMIZE/expire-snapshots pass a table service schedules; Iceberg's
    rewrite-manifests takes this slot in production). Read-visible
    results must be identical before and after; the job reports the
    epoch count reclaimed and verifies row parity itself."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink

    sink_dir = conf["sink.dir"]
    keys = [k.strip() for k in conf.get("sink.keys", "doc_id").split(",")]
    sink = IdempotentKeyedSink(sink_dir, keys)
    before = sink.read(spark).count()
    epochs_before = len(sink.epochs())
    sink.compact(spark)
    after = sink.read(spark).count()
    if after != before:
        raise RuntimeError(
            f"compaction changed visible rows: {before} -> {after}")
    return {"rows": after, "epochs_collapsed": epochs_before,
            "watermark": sink.compaction_watermark()}


def _job_repair(spark: SparkSession, conf: dict) -> dict:
    """Repair: recompute NAMED tumbling windows from the source table
    and upsert them into an existing keyed sink as a trailing epoch —
    the scheduled-maintenance form of the late-data repair flow
    (streaming/pipeline.py:run_streaming_late_repair). The recompute is
    window-pruned BEFORE the aggregate, so repairing a handful of
    windows against a year-long timeline pays one pruned scan, never a
    history replay; the sink's highest-epoch-wins merge makes re-running
    the job idempotent."""
    from pyspark.sql import functions as F

    from movement_spark.sinks.idempotent import IdempotentKeyedSink
    from movement_spark.sources.tokens import token_sequences

    sink = IdempotentKeyedSink(conf["sink.dir"], ["ws", "source"])
    ws_list = [int(x) for x in str(conf["repair.windows"]).split(",")]
    width_sec = int(conf.get("repair.width_sec", "300"))
    # canonical source key matches the other jobs ('input.sf_dir');
    # 'sf.dir' accepted as a fallback
    sf_dir = conf.get("input.sf_dir") or conf["sf.dir"]
    t = token_sequences(spark, sf_dir)
    win = (F.floor(F.unix_timestamp("ts") / width_sec)
           * width_sec).cast("bigint")
    repair = (
        t.withColumn("ws", win).where(F.col("ws").isin(ws_list))
        .groupBy("ws", "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok")))
    eid = sink.next_patch_epoch()
    sink.foreach_batch(repair, eid)
    return {"windows_repaired": len(ws_list), "epoch": eid,
            "rows": sink.read(spark)
            .where(F.col("ws").isin(ws_list)).count()}


def _job_build_corpus(spark: SparkSession, conf: dict) -> dict:
    """BuildCorpus: the pretraining-corpus assembly pipeline as ONE
    named task — filter funnel (corpus_verdicts: exact-dup → bad-lang →
    too-short → repetitive precedence) → per-(source, lang) document
    cap (salted two-phase, no hot-key task) → deterministic
    train/val/test assignment (split_column) → partitioned parquet
    layout (split=.../) plus the drop manifest a data team signs off
    on. Every stage is a pure function of the corpus, so re-running the
    task over the same input produces byte-identical output — the
    determinism the audit trail depends on. The composed plan adds NO
    shuffle beyond the stages' own: funnel digest groupBy + join-back,
    the cap's two balanced windows, then per-row split assignment
    straight into the write."""
    from pyspark.sql import functions as F

    from movement_spark.operators.dataset import (
        CAP_PER_KEY, CAP_SALT, corpus_verdicts, source_cap_kept,
        split_column)
    from movement_spark.sources.tables import load_table

    sf_dir = conf.get("input.sf_dir", "/root/testdata/sf0.001")
    cap = int(conf.get("corpus.cap", CAP_PER_KEY))
    salt = int(conf.get("corpus.salt", CAP_SALT))
    out = conf.get("output.dir") or tempfile.mkdtemp(prefix="ms_corpus_")

    docs = load_table(spark, sf_dir, "documents")
    verdicts = corpus_verdicts(docs)
    funnel = {f"dropped_{r['verdict']}": r["n"] for r in
              verdicts.where(F.col("verdict") != "keep")
              .groupBy("verdict").agg(F.count("*").alias("n")).collect()}
    survivors = docs.join(
        verdicts.where(F.col("verdict") == "keep").select("doc_id"),
        "doc_id")
    capped = source_cap_kept(survivors, cap, salt)
    corpus = capped.withColumn("split", split_column(F.col("doc_id")))
    corpus.write.mode("overwrite").partitionBy("split").parquet(
        os.path.join(out, "corpus"))
    written = spark.read.parquet(os.path.join(out, "corpus"))
    split_counts = {f"split_{r['split']}": r["n"] for r in
                    written.groupBy("split")
                    .agg(F.count("*").alias("n")).collect()}
    n_in, n_keep = docs.count(), written.count()
    n_cap_dropped = n_in - sum(funnel.values()) - n_keep
    manifest = dict(rows_in=n_in, rows_kept=n_keep,
                    dropped_by_cap=n_cap_dropped, **funnel, **split_counts,
                    output=out, cap=cap)
    return manifest


JOBS: dict[str, Callable[[SparkSession, dict], dict]] = {
    "Load": _job_load,
    "LoadCsv": _job_load_csv,
    "Export": _job_export,
    "Migrate": _job_migrate,
    "Bench": _job_bench,
    "Compact": _job_compact,
    "Repair": _job_repair,
    "BuildCorpus": _job_build_corpus,
}


def run_job(name: str, spark: SparkSession | None = None,
            conf: dict[str, Any] | None = None, **kw: Any) -> JobResult:
    """Programmatic entry point (the g.call('Migrate').with(...) analog,
    SURVEY.md §3.2). Config can arrive as the ``conf`` dict or as
    keyword splat; the DICT is the collision-safe channel for
    user-controlled keys — a properties file carrying a ``name=`` or
    ``spark=`` line splatted as **kwargs would collide with the
    positional parameters and TypeError instead of running (the CLI
    always passes conf=)."""
    if name not in JOBS:
        raise KeyError(f"unknown job {name!r}; known: {sorted(JOBS)}")
    spark = spark or get_spark(app_name=f"movement_spark_{name}")
    merged = dict(conf or {})
    merged.update(kw)
    t0 = time.time()
    try:
        metrics = JOBS[name](spark, merged)
        return JobResult(name, "SUCCEEDED", t0, time.time(), metrics)
    except Exception as e:  # noqa: BLE001 — fail-fast policy, report status
        return JobResult(name, f"FAILED: {e}", t0, time.time())


# ---------------------------------------------------------------------
# Async task surface: the reference launches every task in a
# CompletableFuture, hands back a taskId UUID, and lets callers poll
# TaskStatus / block on WaitTask (LocalParallelStreamRuntime.java:157-192,
# TaskStatus.java:14, WaitTask.java:12, RuntimeUtil.waitTask). Spark jobs
# submitted from multiple Python threads share one SparkSession safely,
# so a daemon thread per task is the direct analog of the future.
# ---------------------------------------------------------------------


@dataclass
class _TaskHandle:
    task_id: str
    name: str
    thread: threading.Thread
    started_at: float
    result: JobResult | None = None


_TASKS: dict[str, _TaskHandle] = {}
_TASKS_LOCK = threading.Lock()


# Completed-task retention bound: the reference's runtime drops
# finished futures; without eviction a long-lived dispatcher accumulates
# one handle (thread object + result) per task forever.
_TASKS_KEEP = 256


def run_job_async(name: str, spark: SparkSession | None = None,
                  conf: dict[str, Any] | None = None, **kw: Any) -> str:
    """Launch a job in the background; returns a taskId immediately
    (Runtime.runTask analog — `Iterator.of(taskId)`). Same conf-dict
    vs kwargs contract as run_job. Finished task handles beyond
    _TASKS_KEEP are evicted oldest-first at launch; a pruned task_id
    reads as unknown, like a task that never existed."""
    if name not in JOBS:
        raise KeyError(f"unknown job {name!r}; known: {sorted(JOBS)}")
    merged = dict(conf or {})
    merged.update(kw)
    task_id = str(uuid.uuid4())
    handle = _TaskHandle(task_id, name, None, time.time())  # type: ignore[arg-type]

    def _target() -> None:
        # run_job reports job failures as FAILED results, but anything
        # escaping it (e.g. session construction itself failing) must
        # still resolve the future — otherwise task_status reports
        # RUNNING forever for a dead thread.
        t0 = time.time()
        try:
            handle.result = run_job(name, spark, conf=merged)
        except Exception as e:  # noqa: BLE001
            handle.result = JobResult(name, f"FAILED: {e}", t0, time.time())

    handle.thread = threading.Thread(
        target=_target, daemon=True, name=f"ms-task-{task_id[:8]}")
    with _TASKS_LOCK:
        if len(_TASKS) >= _TASKS_KEEP:
            done = sorted(
                (tid for tid, h in _TASKS.items() if h.result is not None),
                key=lambda tid: _TASKS[tid].started_at)
            for tid in done[:len(_TASKS) - _TASKS_KEEP + 1]:
                del _TASKS[tid]
        _TASKS[task_id] = handle
    handle.thread.start()
    return task_id


def task_status(task_id: str) -> dict[str, Any]:
    """TaskStatus analog: poll a running/finished task by id; status is
    RUNNING until the future resolves, then the JobResult status."""
    with _TASKS_LOCK:
        handle = _TASKS.get(task_id)
    if handle is None:
        raise KeyError(f"unknown task {task_id!r}")
    out: dict[str, Any] = {
        "task_id": task_id,
        "name": handle.name,
        "elapsed_sec": time.time() - handle.started_at,
    }
    if handle.result is None:
        out["status"] = "RUNNING"
    else:
        out["status"] = handle.result.status
        out["metrics"] = handle.result.metrics
        out["elapsed_sec"] = handle.result.elapsed_sec
    return out


def wait_task(task_id: str, timeout: float | None = None) -> JobResult:
    """WaitTask / RuntimeUtil.waitTask analog: block until the task
    completes and return its JobResult."""
    with _TASKS_LOCK:
        handle = _TASKS.get(task_id)
    if handle is None:
        raise KeyError(f"unknown task {task_id!r}")
    handle.thread.join(timeout)
    if handle.result is None:
        raise TimeoutError(f"task {task_id} still running after {timeout}s")
    return handle.result


def list_tasks() -> list[dict[str, Any]]:
    """Runtime.runningTasks view: every launched task's current status."""
    with _TASKS_LOCK:
        ids = list(_TASKS)
    return [task_status(t) for t in ids]
