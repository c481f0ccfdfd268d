"""Streaming engine tests: checkpoint resume, late data, exactly-once.

Mirrors the reference's consistency gates (SURVEY.md §4.3): stage
ordering, no duplicates within a run, count/content parity — plus the
north rule's checkpoint-resume and watermark-late-drop requirements.
"""

import functools
import json
import os
import shutil
import tempfile
import time
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from movement_spark.sinks.idempotent import IdempotentKeyedSink
from movement_spark.sources.tokens import EPOCH_2026, token_sequences
from movement_spark.streaming.pipeline import (
    _ARROW_SCHEMA, SENTINEL, read_token_stream, run_streaming_tumbling,
    stage_token_stream,
)
from movement_spark.streaming.metrics import listening


def _mkdir():
    return tempfile.mkdtemp(prefix="ms_test_")


def _write_chunk(stage_dir, idx, rows, mtime):
    pdf = pd.DataFrame(rows, columns=[
        "doc_id", "seq", "tokens", "n_tok", "source", "ts", "n_shards"])
    path = os.path.join(stage_dir, f"chunk_{idx:04d}.parquet")
    pq.write_table(pa.Table.from_pandas(
        pdf, schema=_ARROW_SCHEMA, preserve_index=False), path)
    os.utime(path, (mtime, mtime))
    return path


def _ts(sec):
    return pd.Timestamp((EPOCH_2026 + sec) * 1_000_000_000)


def _committed_batches(ck):
    """Micro-batches the checkpoint has committed (``commits/<id>``)."""
    return sum(f.isdigit() for f in os.listdir(os.path.join(ck, "commits")))


def _copy(files, src, dst):
    for f in files:
        shutil.copy2(os.path.join(src, f), os.path.join(dst, f))


def test_checkpoint_resume_mid_stream(spark, sf_dir):
    """Kill/resume: run over a partial stage, then add the rest of the
    files and re-run with the SAME checkpoint + sink. Final result must
    equal the complete batch aggregate, with no reprocessing dupes."""
    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    # phase 1: only the first half of the chunks exist
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_tumbling(spark, sf_dir, stage_dir=part_stage,
                           sink_dir=sink_dir, checkpoint_dir=ck)
    # phase 2 ("resume after restart"): remaining chunks arrive
    for f in files[len(files) // 2:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_tumbling(spark, sf_dir, stage_dir=part_stage,
                                    sink_dir=sink_dir, checkpoint_dir=ck)
    expected = (
        token_sequences(spark, sf_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"))
        .select(F.unix_timestamp("w.start").alias("ws"), "source",
                "n_seq", "sum_tok")
    )
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0
    assert expected.exceptAll(result).count() == 0


@pytest.mark.parametrize("runner", [
    "run_streaming_tumbling", "run_streaming_dedup_join_window",
    "run_streaming_incomplete_audit"])
def test_unpinned_drain_commits_two_batches(spark, sf_dir, runner):
    """An unpinned read takes every staged file (data and both
    sentinels) in batch 0; for a row whose results wait on the
    watermark (window close, join/dedup expiry, timeout audit) Spark's
    trailing no-data batch is the flush. No third batch spent on the
    last sentinel file."""
    from movement_spark.streaming import pipeline

    ck = _mkdir()
    getattr(pipeline, runner)(spark, sf_dir, sink_dir=_mkdir(),
                              checkpoint_dir=ck)
    assert _committed_batches(ck) == 2


@pytest.mark.parametrize("runner,options", [
    ("run_streaming_ordered_merge", {"mode": "python"}),
    ("run_streaming_update_mode", {}),
])
def test_drain_without_watermark_wait_commits_one_batch(spark, sf_dir,
                                                         runner, options):
    """Rows whose results never wait on the watermark (the
    emit-on-complete assembler, update mode) drain in their one data
    batch: no trailing no-data batch that only advances the watermark
    to evict state."""
    from movement_spark.streaming import pipeline

    ck = _mkdir()
    out = getattr(pipeline, runner)(spark, sf_dir, sink_dir=_mkdir(),
                                    checkpoint_dir=ck, **options)
    assert out.count() > 0
    assert _committed_batches(ck) == 1


_NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"
_PARTS = "spark.sql.shuffle.partitions"


@pytest.fixture
def ambient_confs(spark):
    """Set the two confs ``_drain`` scopes to ambient values of the
    test's choosing; put the session's own back afterwards."""
    before = {k: spark.conf.get(k) for k in (_NO_DATA, _PARTS)}

    def set_ambient(no_data, parts):
        spark.conf.set(_NO_DATA, no_data)
        spark.conf.set(_PARTS, parts)
    yield set_ambient
    for k, v in before.items():
        spark.conf.set(k, v)


def test_ambient_no_data_off_keeps_the_flush(spark, sf_dir, ambient_confs):
    """``_drain`` sets the trailing no-data batch per row: an ambient
    ``noDataMicroBatches.enabled=false`` must not cost a row that waits
    on the watermark its flush (it would silently emit nothing), and
    both scoped confs are back at their ambient values afterwards."""
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_join_window)

    ambient_confs(no_data="false", parts="5")
    # the full results at sf0.001 (the conf on)
    for runner, rows in [(run_streaming_tumbling, 233),
                         (run_streaming_dedup_join_window, 12)]:
        ck = _mkdir()
        out = runner(spark, sf_dir, sink_dir=_mkdir(), checkpoint_dir=ck)
        assert out.count() == rows
        assert _committed_batches(ck) == 2
        assert spark.conf.get(_NO_DATA) == "false"
        assert spark.conf.get(_PARTS) == "5"


def test_drain_restores_scoped_confs_when_batch_fails(spark, sf_dir,
                                                      ambient_confs):
    """A drain whose foreachBatch raises still restores both ambient
    values; inside the query the row's values were in force."""
    from pyspark.errors import StreamingQueryException
    from movement_spark.streaming.pipeline import (
        STATE_PARTITIONS, _drain, _sink)

    stage = _mkdir()
    _write_chunk(stage, 0, [("d1", 0, [1], 1, "s0", _ts(0), 1)],
                 time.time())
    ambient_confs(no_data="true", parts="5")
    seen = {}

    def fail(batch, epoch_id):
        conf = batch.sparkSession.conf
        seen.update({k: conf.get(k) for k in (_NO_DATA, _PARTS)})
        raise RuntimeError("batch write failed")

    with pytest.raises(StreamingQueryException, match="batch write failed"):
        _drain(read_token_stream(spark, stage), _sink(None, "doc_id"),
               _mkdir(), batch_fn=fail, waits_on_watermark=False)
    assert seen == {_NO_DATA: "false", _PARTS: str(STATE_PARTITIONS)}
    assert spark.conf.get(_NO_DATA) == "true"
    assert spark.conf.get(_PARTS) == "5"


def _watermark_ms(ck, batch_id):
    """``batchWatermarkMs`` of one micro-batch's offset log entry."""
    with open(os.path.join(ck, "offsets", str(batch_id))) as f:
        return json.loads(f.read().splitlines()[1])["batchWatermarkMs"]


def _max_ts_ms(stage_dir):
    """Max event time over every staged file, in epoch ms."""
    return max(
        pq.read_table(os.path.join(stage_dir, f), columns=["ts"])
        .column("ts").to_pandas().max() for f in os.listdir(stage_dir)
    ).value // 1_000_000


def test_emit_on_complete_defers_eviction_to_next_data_batch(spark, sf_dir):
    """The Python assembler's drain runs no trailing no-data batch, so
    after a full stage (sentinels included) every completed-doc marker
    is still in state; the next resume's DATA batch evicts them. Each
    resume's batch carries the watermark of the batches before it
    (event-time max minus WATERMARK, across the restart), so late drops
    are those of a drain that ran the no-data batch."""
    from movement_spark.operators.ordering import WATERMARK
    from movement_spark.sources.tokens import TS_MOD
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge

    stage, ck = _mkdir(), _mkdir()
    stage_token_stream(spark, sf_dir, stage)
    run = functools.partial(
        run_streaming_ordered_merge, spark, sf_dir, stage_dir=stage,
        sink_dir=_mkdir(), checkpoint_dir=ck, mode="python")
    delay_ms = pd.Timedelta(WATERMARK) // pd.Timedelta(milliseconds=1)
    n_docs = token_sequences(spark, sf_dir).select("doc_id").distinct() \
        .count()
    with listening(spark) as drain:
        run()
    # one marker per completed doc, plus the sentinel doc's
    assert [r.state_rows for r in drain.records] == [n_docs + 1]
    for k in (1, 2):
        prev_max = _max_ts_ms(stage)
        # one single-shard doc two hours of event time after the last
        sec = TS_MOD + 7200 * (k + 1)
        _write_chunk(stage, 9000 + k, [(f"live{k}", 0, [1, 2], 2, "s0",
                                        _ts(sec), 1)], time.time() + k)
        with listening(spark) as resume:
            run()
        assert len(resume.records) == 1
        assert _committed_batches(ck) == 1 + k
        assert _watermark_ms(ck, k) == prev_max - delay_ms
        if k == 1:
            # the data batch evicted every doc's marker; the sentinel's
            # (its timeout lies beyond this watermark) and live1's remain
            assert resume.records[0].state_rows == 2


@pytest.mark.parametrize("runner,options,variant", [
    ("run_streaming_dedup_join_window", {}, {"duplicate_factor": 2}),
    ("run_streaming_ordered_merge", {"mode": "python"}, {}),
])
def test_resumed_batch_flushes_chained_state(spark, sf_dir, runner,
                                             options, variant):
    """Chained stateful operators (dedup → join → window; the Python
    emit-on-complete assembler): half the chunks, then a resume whose
    single data batch holds the rest plus both sentinels, must equal a
    one-shot drain of the full stage. The trailing no-data batch that
    flushes is on exactly for rows whose results wait on the watermark,
    set by ``_drain``: dedup → join → window gets it, the assembler
    emits on completion without it."""
    from movement_spark.streaming import pipeline

    run = functools.partial(getattr(pipeline, runner), spark, sf_dir,
                            **options)
    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage, **variant)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    _copy(files[: len(files) // 2], full_stage, part_stage)
    run(stage_dir=part_stage, sink_dir=sink_dir, checkpoint_dir=ck)
    _copy(files[len(files) // 2:], full_stage, part_stage)
    resumed = run(stage_dir=part_stage, sink_dir=sink_dir,
                  checkpoint_dir=ck)
    one_shot = run(stage_dir=full_stage, sink_dir=_mkdir(),
                   checkpoint_dir=_mkdir())
    assert one_shot.count() > 0
    assert resumed.count() == one_shot.count()
    assert resumed.exceptAll(one_shot).count() == 0
    assert one_shot.exceptAll(resumed).count() == 0


def test_stateful_ordered_merge_resumes_from_checkpoint(spark, sf_dir):
    """State-store resume (not just source offsets): kill the ordered
    assembly mid-stream with docs OPEN in applyInPandasWithState state,
    then resume with the same checkpoint. Docs whose shards span the
    kill point must still assemble complete and in order."""
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge
    from movement_spark.operators.ordering import merged_doc_check

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_ordered_merge(spark, sf_dir, stage_dir=part_stage,
                                sink_dir=sink_dir, checkpoint_dir=ck,
                                mode="python")
    for f in files[len(files) // 2:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_ordered_merge(spark, sf_dir, stage_dir=part_stage,
                                         sink_dir=sink_dir, checkpoint_dir=ck,
                                         mode="python")
    expected = merged_doc_check(token_sequences(spark, sf_dir)) \
        .withColumn("n_shard", F.col("n_shard").cast("int"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0, \
        "resumed docs must match batch content and ORDER (poly_hash)"


def test_jvm_assembler_resumes_from_checkpoint(spark, sf_dir):
    """Session-window state resume for the all-JVM assembler: kill the
    run with sessions OPEN in the native streaming-agg state store,
    resume with the same checkpoint, and require the batch digest —
    docs whose shards span the kill point must still merge complete and
    in seq order."""
    from movement_spark.operators.ordering import merged_doc_check
    from movement_spark.streaming.pipeline import (
        run_streaming_ordered_merge_jvm)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_ordered_merge_jvm(spark, sf_dir, stage_dir=part_stage,
                                    sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[len(files) // 2:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_ordered_merge_jvm(spark, sf_dir,
                                             stage_dir=part_stage,
                                             sink_dir=sink_dir,
                                             checkpoint_dir=ck)
    expected = merged_doc_check(token_sequences(spark, sf_dir)) \
        .withColumn("n_shard", F.col("n_shard").cast("int"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0


def test_ordered_merge_defaults_to_jvm_bulk_path(monkeypatch):
    """The bulk-ingest default is the 17-65× JVM assembler: calling
    run_streaming_ordered_merge with no mode must dispatch to
    run_streaming_ordered_merge_jvm (the Python path stays available as
    mode='python' for emit-on-complete latency); an unknown mode must
    fail loudly, not silently pick a path."""
    import pytest as _pytest

    from movement_spark.streaming import pipeline as P

    calls = []
    monkeypatch.setattr(
        P, "run_streaming_ordered_merge_jvm",
        lambda *a, **kw: calls.append(kw) or "JVM_SENTINEL")
    assert P.run_streaming_ordered_merge(None, "/nonexistent") \
        == "JVM_SENTINEL"
    assert len(calls) == 1
    with _pytest.raises(ValueError, match="jvm.*python|python.*jvm"):
        P.run_streaming_ordered_merge(None, "/nonexistent", mode="latency")


def test_read_stream_only_in_read_token_stream():
    """One source, one drain, one listener hook, one stager,
    package-wide: across every module under movement_spark/,
    ``readStream`` appears only in read_token_stream, ``writeStream``
    only in _drain and run_throttled_ingest, ``addListener`` only in
    metrics.listening, ``os.utime`` (a staged file's delivery order)
    only in _distribute_chunks and _emit_sentinel_files, and the
    sentinel literal only once, in SENTINEL — so a file-source option
    (pacing, schema), the state-partition pin, the listener detach, the
    staged delivery order or the flush row cannot diverge per
    caller."""
    import ast

    import movement_spark

    root = os.path.dirname(movement_spark.__file__)
    uses = {"readStream": set(), "writeStream": set(), "addListener": set(),
            "utime": set()}
    flush_literals = []

    class Uses(ast.NodeVisitor):
        def __init__(self, module):
            self.where = f"{module}:<module>"
            self.module = module

        def visit_FunctionDef(self, node):
            outer, self.where = self.where, f"{self.module}:{node.name}"
            self.generic_visit(node)
            self.where = outer

        def visit_Attribute(self, node):
            if node.attr in uses:
                uses[node.attr].add(self.where)
            self.generic_visit(node)

        def visit_Constant(self, node):
            if node.value == "__flush__":
                flush_literals.append(self.where)

    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                Uses(os.path.relpath(path, root)).visit(
                    ast.parse(open(path).read()))
    assert uses == {
        "readStream": {"streaming/pipeline.py:read_token_stream"},
        "writeStream": {"streaming/pipeline.py:_drain",
                        "streaming/pipeline.py:run_throttled_ingest"},
        "addListener": {"streaming/metrics.py:listening"},
        "utime": {"streaming/pipeline.py:_distribute_chunks",
                  "streaming/pipeline.py:_emit_sentinel_files"},
    }, uses
    assert flush_literals == ["streaming/pipeline.py:<module>"], \
        flush_literals
    from movement_spark.streaming.pipeline import SENTINEL
    assert SENTINEL == "__flush__"


def test_fanout_failed_write_leaves_nothing_cached(spark, sf_dir):
    """The fan-out persists each micro-batch for its two writes; a
    failing archive write must still unpersist it, or the batch stays
    cached on the shared session after the query dies. The sink's
    ``_archive`` entry is a regular file, so the real parquet write
    fails."""
    from pyspark.errors import StreamingQueryException

    from movement_spark.streaming import pipeline as P

    # staging persists the token table: stage first, then start from an
    # empty cache (later token_sequences callers persist it again)
    P.shared_stage(spark, sf_dir, "nosentinel")
    spark.catalog.clearCache()
    sink_dir = _mkdir()
    open(os.path.join(sink_dir, "_archive"), "w").close()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    with pytest.raises(StreamingQueryException):
        P.run_streaming_fanout(spark, sf_dir, sink_dir=sink_dir,
                               checkpoint_dir=_mkdir())
    assert cache.isEmpty(), "failed fan-out batch left cached"


def test_fanout_archive_survives_resume(spark, sf_dir):
    """Kill/resume for the fan-out: half the staged drop, then the rest
    on the same sink and checkpoint. The additive counters fold every
    epoch, so the archive must hold every epoch too: n_archived ==
    n_seq for every source after the resume."""
    from movement_spark.streaming.pipeline import (
        run_streaming_fanout, stage_token_stream)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage, sentinel=False)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_fanout(spark, sf_dir, stage_dir=part_stage,
                         sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    rows = run_streaming_fanout(spark, sf_dir, stage_dir=part_stage,
                                sink_dir=sink_dir,
                                checkpoint_dir=ck).collect()
    n_real = token_sequences(spark, sf_dir).count()
    assert sum(r.n_seq for r in rows) == n_real
    assert all(r.n_archived == r.n_seq for r in rows), rows


def test_sink_compact_preserves_merge_on_read_view(spark):
    """compact() (MERGE-on-write) must materialize exactly what read()
    (MERGE-on-read) showed: same rows, replayed epochs collapsed."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    df1 = spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT")
    df2 = spark.createDataFrame([(2, 99), (3, 30)], "k INT, v INT")
    sink.foreach_batch(df1, 0)
    sink.foreach_batch(df2, 1)
    sink.foreach_batch(df2, 1)  # replay of epoch 1
    before = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert before == {(1, 10), (2, 99), (3, 30)}
    sink.compact(spark)
    after = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert after == before
    import os as _os
    epochs = [d for d in _os.listdir(sink.path) if d.startswith("epoch=")]
    # the snapshot must live OUT-OF-BAND: epoch ids belong to the
    # checkpoint and a crash-replay may rewrite its own epoch path
    assert epochs == [], "compaction must reclaim every epoch directory"
    assert sink._snapshot_dirname() == "_snapshot_v1"
    assert _os.path.isdir(_os.path.join(sink.path, "_snapshot_v1"))
    # time travel below the compaction watermark must REFUSE, not
    # silently return the collapsed snapshot (ADVICE r01)
    assert sink.compaction_watermark() == 1
    with pytest.raises(ValueError, match="compaction watermark"):
        sink.read(spark, as_of_epoch=0)
    # at/after the watermark still reads
    assert {(r.k, r.v) for r in sink.read(spark, as_of_epoch=1).collect()} == before
    # CRASH-REPLAY AFTER COMPACTION: the checkpoint may re-deliver the
    # last pre-compaction micro-batch; its rows are already folded into
    # the snapshot, so the replayed epoch must be ignored — never allowed
    # to shadow other keys' history (r02 review finding)
    sink.foreach_batch(df2, 1)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == before
    # ...while genuinely NEW epochs beyond the watermark still apply
    sink.foreach_batch(spark.createDataFrame([(1, 77)], "k INT, v INT"), 2)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 77), (2, 99), (3, 30)}
    # and a second compaction folds snapshot + new epochs cleanly,
    # reclaiming the superseded snapshot version
    sink.compact(spark)
    assert sink.compaction_watermark() == 2
    assert sink._snapshot_dirname() == "_snapshot_v2"
    assert not _os.path.isdir(_os.path.join(sink.path, "_snapshot_v1"))
    # CRASH BEFORE THE WATERMARK FLIP (r02 review finding): a fully
    # written newer snapshot whose watermark never committed must be
    # invisible — the old watermark still points at intact state
    import shutil as _sh
    _sh.copytree(_os.path.join(sink.path, "_snapshot_v2"),
                 _os.path.join(sink.path, "_snapshot_v999"))
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 77), (2, 99), (3, 30)}
    # the next compact() reclaims the orphan (needs >=1 live epoch)
    sink.foreach_batch(spark.createDataFrame([(5, 50)], "k INT, v INT"), 3)
    sink.compact(spark)
    assert not _os.path.isdir(_os.path.join(sink.path, "_snapshot_v999"))
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 77), (2, 99), (3, 30), (5, 50)}


def test_sink_schema_survives_process_restart(spark):
    """A fresh sink object over existing storage whose epochs were all
    reclaimed must still read as a typed empty table (schema persisted
    beside the epoch log, ADVICE r01)."""
    path = _mkdir()
    sink = IdempotentKeyedSink(path, ["k"])
    empty = spark.createDataFrame([], "k INT, v INT")
    sink.foreach_batch(empty, 0)  # empty epoch -> reclaimed, schema kept
    fresh = IdempotentKeyedSink(path, ["k"])  # "new process"
    out = fresh.read(spark)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["k", "v"]


def test_late_rows_dropped_by_watermark(spark):
    """Dangling-edge analog (TinkerPopGraphEncoder.java:103-110 drop
    policy): a row arriving after the watermark passed its window is
    dropped — the finalized window is NOT re-emitted or corrupted."""
    stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    base = 1000.0
    # batch 1: two rows in window [0, 300)
    _write_chunk(stage, 0, [
        ("a", 0, [1, 2], 2, "web", _ts(10), 1),
        ("b", 0, [3], 1, "web", _ts(20), 1),
    ], base)
    # batch 2: advances watermark far past window 0 (delay 600s)
    _write_chunk(stage, 1, [
        ("c", 0, [4], 1, "web", _ts(2000), 1),
    ], base + 1)
    # batch 3: watermark is now 1400 → window [0,300) is finalized,
    # emitted, and evicted from state at the end of this batch
    _write_chunk(stage, 2, [
        ("d", 0, [5], 1, "web", _ts(2100), 1),
    ], base + 2)
    # batch 4: LATE row for the already-finalized window [0,300).
    # (A late row landing in the SAME batch that finalizes its window is
    # still merged — Spark drops input only once the window state is
    # evicted; that boundary behavior is intentional upstream.)
    _write_chunk(stage, 3, [
        ("late", 0, [9, 9, 9], 3, "web", _ts(30), 1),
    ], base + 3)
    # flush sentinels
    _write_chunk(stage, 4, [
        (SENTINEL, 0, [], 0, SENTINEL, _ts(90000), 1)], base + 4)
    _write_chunk(stage, 5, [
        (SENTINEL, 0, [], 0, SENTINEL, _ts(90060), 1)], base + 5)

    # one file per micro-batch: the late-vs-finalized semantics under
    # test depend on the window being finalized BEFORE the late file
    with listening(spark) as listener:
        result = run_streaming_tumbling(
            spark, sf_dir="unused", stage_dir=stage, sink_dir=sink_dir,
            checkpoint_dir=ck, files_per_trigger=1)
    rows = {(r.ws, r.source): (r.n_seq, r.sum_tok) for r in result.collect()}
    w0 = (EPOCH_2026, "web")
    # late row contributed nothing: window 0 holds only a+b
    assert rows[w0] == (2, 3)
    total_tok = sum(v[1] for v in rows.values())
    assert total_tok == 5  # a(2) + b(1) + c(1) + d(1); late row dropped
    # the drop is OBSERVED, not silent: StatusMonitor-style counters
    # carry numRowsDroppedByWatermark (RuntimeMetrics north-rule surface)
    assert listener.summary()["rows_dropped_late"] >= 1


def test_sink_replay_is_idempotent(spark):
    """foreachBatch retry semantics: replaying an epoch must not
    duplicate rows (the MERGE-key exactly-once contract)."""
    sink_dir = _mkdir()
    sink = IdempotentKeyedSink(sink_dir, keys=["k"])
    df = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    sink.foreach_batch(df, 7)
    sink.foreach_batch(df, 7)          # retry of the same epoch
    out = sink.read(spark)
    assert out.count() == 2
    # a later epoch updating a key wins exactly once
    df2 = spark.createDataFrame([("a", 99)], ["k", "v"])
    sink.foreach_batch(df2, 8)
    out = {r.k: r.v for r in sink.read(spark).collect()}
    assert out == {"a": 99, "b": 2}


def test_no_duplicates_under_repartition(spark, sf_dir):
    """Mirror of TestDriver.testOutputIdDriverConcurrent (unique ids
    under 1000 parallel consumers): every (doc_id, seq) appears exactly
    once downstream of the salted work-queue layout."""
    from movement_spark.operators.chunking import salted_repartition
    t = token_sequences(spark, sf_dir)
    chunked = salted_repartition(t, "doc_id", 16, salt_buckets=8)
    dupes = (
        chunked.groupBy("doc_id", "seq").count()
        .where(F.col("count") > 1).count())
    assert dupes == 0
    assert chunked.count() == t.count()


def test_metrics_listener_counts_rows(spark, sf_dir):
    ck = _mkdir()
    with listening(spark) as listener:
        run_streaming_tumbling(spark, sf_dir, checkpoint_dir=ck)
    s = listener.summary()
    # 1250 real rows + 2 sentinels at sf0.001
    assert s["io_ops"] == 1252
    # one progress event per committed batch: the last one is not lost
    assert s["batches"] == _committed_batches(ck) == 2
    assert s["avg_rows_per_sec"] > 0
    # CPU attribution: the test session's JVM is this process's child
    assert s["jvm_cpu_s"] is not None and s["jvm_cpu_s"] > 0
    assert s["forked_cpu_s"] is not None and s["forked_cpu_s"] >= 0
    assert s["forks"] is not None and s["forks"] >= 0
    assert s["python_cpu_s"] is not None and s["python_cpu_s"] >= 0


def test_metrics_listener_charges_python_workers(spark, sf_dir):
    """python_cpu_s counts the CPU of the Python daemons' workers: a
    run through the applyInPandasWithState assembler uses some, also
    with the RDD API's daemon (started first here) up beside the SQL
    one."""
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge

    spark.sparkContext.parallelize([1]).map(lambda x: x).count()
    with listening(spark) as listener:
        run_streaming_ordered_merge(spark, sf_dir, sink_dir=_mkdir(),
                                    checkpoint_dir=_mkdir(), mode="python")
    assert listener.summary()["python_cpu_s"] > 0


def test_results_invariant_to_microbatch_boundaries(spark, sf_dir):
    """Micro-batch boundaries are an EXECUTION detail, never semantics:
    the same staged input consumed 1 file/trigger vs 4 files/trigger
    must leave identical sink contents (watermark advancement differs
    per batch; late-enough watermarks make the outcome equal)."""
    stage = _mkdir()
    stage_token_stream(spark, sf_dir, stage)
    one = run_streaming_tumbling(spark, sf_dir, stage_dir=stage,
                                 sink_dir=_mkdir(), checkpoint_dir=_mkdir(),
                                 files_per_trigger=1)
    four = run_streaming_tumbling(spark, sf_dir, stage_dir=stage,
                                  sink_dir=_mkdir(), checkpoint_dir=_mkdir(),
                                  files_per_trigger=4)
    assert one.count() == four.count()
    assert one.exceptAll(four).count() == 0
    assert four.exceptAll(one).count() == 0


def test_sink_time_travel_reads_past_snapshots(spark):
    """as_of_epoch gives the table as it stood after that epoch committed
    (the Iceberg snapshot-read analog over the epoch log)."""
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    sink.foreach_batch(spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT"), 0)
    sink.foreach_batch(spark.createDataFrame([(2, 99), (3, 30)], "k INT, v INT"), 1)
    at0 = {(r.k, r.v) for r in sink.read(spark, as_of_epoch=0).collect()}
    at1 = {(r.k, r.v) for r in sink.read(spark, as_of_epoch=1).collect()}
    latest = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert at0 == {(1, 10), (2, 20)}
    assert at1 == latest == {(1, 10), (2, 99), (3, 30)}


def test_empty_stream_yields_empty_sink(spark):
    """Gap-not-end semantics (PotentialSequence: empty means gap): a
    stage containing only flush sentinels must run cleanly and leave an
    EMPTY sink — no phantom windows, no crash on the no-data path."""
    stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    base = 2000.0
    _write_chunk(stage, 0, [
        (SENTINEL, 0, [], 0, SENTINEL, _ts(90000), 1)], base)
    _write_chunk(stage, 1, [
        (SENTINEL, 0, [], 0, SENTINEL, _ts(90060), 1)], base + 1)
    result = run_streaming_tumbling(
        spark, sf_dir="unused", stage_dir=stage, sink_dir=sink_dir,
        checkpoint_dir=ck)
    assert result.count() == 0


def test_left_outer_join_flushes_every_lonely_row(spark, sf_dir):
    """Regression: a sentinel-cutting filter ANYWHERE in the streaming
    plan (even after the join) is pushed below EventTimeWatermark and
    stalls the watermark at max_real_ts - delay, so lonely rows from the
    last <delay> of the timeline never emit. The pipeline must emit one
    null-augmented row for EVERY unmatched even shard."""
    from movement_spark.streaming.pipeline import run_streaming_left_join
    from movement_spark.sources.tokens import token_sequences

    res = run_streaming_left_join(spark, sf_dir)
    toks = token_sequences(spark, sf_dir)
    even = toks.where(F.col("seq") % 2 == 0).select(
        "doc_id", F.col("ts").alias("ts_a"))
    odd = toks.where(F.col("seq") % 2 == 1).select(
        F.col("doc_id").alias("db"), F.col("ts").alias("ts_b"))
    expected_lonely = even.join(
        odd,
        (even.doc_id == odd.db)
        & (F.abs(F.col("ts_a").cast("double")
                 - F.col("ts_b").cast("double")) <= 60),
        "left_anti").count()
    got_lonely = res.agg(F.sum("n_lonely")).collect()[0][0]
    assert got_lonely == expected_lonely
    assert res.where(F.col("doc_id").startswith("__")).count() == 0


def test_incomplete_audit_counts_received_shards(spark, sf_dir):
    """Every audited doc is one of the lossy fixture's targets (every
    5th doc, multi-shard), missing exactly the one dropped shard."""
    from movement_spark.streaming.pipeline import (
        run_streaming_incomplete_audit)

    rows = run_streaming_incomplete_audit(spark, sf_dir).collect()
    assert rows
    for r in rows:
        did = int(r.doc_id[1:])
        assert did % 5 == 0
        assert r.expected >= 2
        assert r.n_received == r.expected - 1


def test_chained_stateful_pipeline_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume with TWO state stores live: the dedup state (seen
    keys) and the session-window state both span the kill point — a
    chunk's duplicate copy can arrive after the restart and must still
    be dropped, and sessions open at the kill must close correctly.
    Final result must equal the clean-table batch session oracle."""
    from movement_spark.operators.windows import session_token_windows
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_sessions)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage, duplicate_factor=2)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    # ODD split point: chunk files come as adjacent duplicate pairs
    # (chunk_NNNN_0 / chunk_NNNN_1), so an even cut would land on a pair
    # boundary and dedup every copy within one run — the cut must strand
    # one chunk's second copy on the far side of the restart to actually
    # exercise cross-checkpoint dedup state (r02 follow-up review)
    cut = len(files) // 2
    if cut % 2 == 0:
        cut += 1
    assert files[cut - 1].rsplit("_", 1)[0] == files[cut].rsplit("_", 1)[0]
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_dedup_sessions(spark, sf_dir, stage_dir=part_stage,
                                 sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_dedup_sessions(spark, sf_dir,
                                          stage_dir=part_stage,
                                          sink_dir=sink_dir,
                                          checkpoint_dir=ck)
    expected = session_token_windows(token_sequences(spark, sf_dir)) \
        .withColumn("n_shard", F.col("n_shard").cast("bigint"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0
    assert expected.exceptAll(result).count() == 0


def test_sink_key_erasure_is_durable_and_physical(spark):
    """Right-to-be-forgotten: tombstoned keys vanish from every read —
    current AND time-travel — survive replays, go physical at compact(),
    and a post-compaction re-add of the key is a fresh write."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink

    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    df1 = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "k INT, v INT")
    sink.foreach_batch(df1, 0)
    assert sink.erase_keys([(2,)]) == 1
    assert {r.k for r in sink.read(spark).collect()} == {1, 3}
    # erasure applies to history too (GDPR semantic)
    assert {r.k for r in
            sink.read(spark, as_of_epoch=0).collect()} == {1, 3}
    # replay of the epoch cannot resurrect the key
    sink.foreach_batch(df1, 0)
    assert {r.k for r in sink.read(spark).collect()} == {1, 3}
    # tombstones are EPOCH-BOUNDED: a legitimate new write of the key in
    # a later epoch is visible even BEFORE any compaction runs
    sink.foreach_batch(spark.createDataFrame([(2, 50)], "k INT, v INT"), 1)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 10), (3, 30), (2, 50)}
    # ... but time travel to the pre-rewrite snapshot still hides it
    assert {r.k for r in
            sink.read(spark, as_of_epoch=0).collect()} == {1, 3}
    # compaction makes it physical and clears the tombstones
    sink.compact(spark)
    assert sink._load_tombstones() == []
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 10), (3, 30), (2, 50)}
    # a NEW write of the key after compaction is legitimate
    sink.foreach_batch(spark.createDataFrame([(2, 99)], "k INT, v INT"), 2)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == \
        {(1, 10), (3, 30), (2, 99)}
    # a corrupt tombstone file FAILS CLOSED instead of resurrecting keys
    with open(sink._tombstone_file(), "w") as f:
        f.write("{not json")
    with pytest.raises(RuntimeError, match="refusing"):
        sink.read(spark)


def test_sink_schema_evolution_on_read(spark):
    """Epochs written after a column was added read as one union: old
    rows carry nulls in the new column, across epoch AND snapshot
    generations."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink

    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    sink.foreach_batch(spark.createDataFrame(
        [(2, 20, "fresh")], "k INT, v INT, note STRING"), 1)
    rows = {(r.k, r.v, r.note) for r in sink.read(spark).collect()}
    assert rows == {(1, 10, None), (2, 20, "fresh")}
    # evolution survives compaction (snapshot carries the wide schema)
    sink.compact(spark)
    sink.foreach_batch(spark.createDataFrame(
        [(3, 30, "post")], "k INT, v INT, note STRING"), 2)
    rows = {(r.k, r.v, r.note) for r in sink.read(spark).collect()}
    assert rows == {(1, 10, None), (2, 20, "fresh"), (3, 30, "post")}


def test_sink_schema_narrowing_keeps_earlier_columns(spark):
    """A later NARROWER batch must not hide an earlier column: the
    recorded schema stays the union (old fields first), across epochs,
    a snapshot plus epochs, and a fresh process."""
    path = _mkdir()
    sink = IdempotentKeyedSink(path, ["k"])
    sink.foreach_batch(spark.createDataFrame(
        [(1, 10, "wide")], "k INT, v INT, note STRING"), 0)
    sink.foreach_batch(spark.createDataFrame([(2, 20)], "k INT, v INT"), 1)
    out = sink.read(spark)
    assert out.columns == ["k", "v", "note"]
    assert {tuple(r) for r in out.collect()} == {(1, 10, "wide"),
                                                 (2, 20, None)}
    sink.compact(spark)
    sink.foreach_batch(spark.createDataFrame([(3, 30)], "k INT, v INT"), 2)
    fresh = IdempotentKeyedSink(path, ["k"]).read(spark)
    assert {tuple(r) for r in fresh.collect()} == {
        (1, 10, "wide"), (2, 20, None), (3, 30, None)}


def test_sink_read_over_live_epochs_starts_no_job(spark):
    """read() takes the schema the sink recorded instead of inferring
    one from the epoch footers (a mergeSchema read ran a separate
    schema-merge job over every live epoch on each call)."""
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    for e in range(3):
        sink.foreach_batch(
            spark.createDataFrame([(e, e * 10)], "k INT, v INT"), e)
    assert sink.epochs() == [0, 1, 2]
    sc = spark.sparkContext
    group = f"sink_read_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "sink.read")
    try:
        out = sink.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert {(r.k, r.v) for r in out.collect()} == {(0, 0), (1, 10), (2, 20)}


def test_sink_write_after_drop_storage(spark):
    """drop_storage() removes the recorded schema with the epochs, so
    the next batch with the SAME schema writes it (and the directory)
    afresh instead of failing on the missing path."""
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    batch = spark.createDataFrame([(1, 10)], "k INT, v INT")
    sink.foreach_batch(batch, 0)
    sink.drop_storage()
    assert not os.path.exists(sink.path)
    sink.foreach_batch(batch, 0)
    assert {(r.k, r.v) for r in sink.read(spark).collect()} == {(1, 10)}


def test_sink_with_epochs_but_no_recorded_schema_raises(spark):
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    os.remove(os.path.join(sink.path, "_schema.json"))
    with pytest.raises(ValueError, match="no recorded schema"):
        sink.read(spark)


def test_sink_change_data_feed_between_epochs(spark):
    """CDF: per-key insert/update classification between two snapshot
    epochs; unchanged keys are absent; below-watermark asks refuse."""
    from movement_spark.sinks.idempotent import IdempotentKeyedSink

    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    sink.foreach_batch(
        spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT"), 0)
    sink.foreach_batch(
        spark.createDataFrame([(2, 99), (3, 30)], "k INT, v INT"), 1)
    sink.foreach_batch(
        spark.createDataFrame([(4, 40)], "k INT, v INT"), 2)
    ch = {(r.k, r._change_type, r.v)
          for r in sink.changes(spark, 0, 2).collect()}
    assert ch == {(2, "update", 99), (3, "insert", 30), (4, "insert", 40)}
    # adjacent epochs
    ch01 = {(r.k, r._change_type) for r in sink.changes(spark, 0, 1).collect()}
    assert ch01 == {(2, "update"), (3, "insert")}
    # below the compaction watermark the snapshots no longer exist
    sink.compact(spark)
    with pytest.raises(ValueError, match="compaction watermark"):
        sink.changes(spark, 0, 2)


def test_additive_sink_sums_epochs_exactly_once(spark):
    """AdditiveKeyedSink: epochs are partial sums, read() is the
    additive fold; a replayed epoch overwrites its own partials (never
    double-counts), and compact() folds history into a snapshot that
    later epochs keep adding onto."""
    from movement_spark.sinks.idempotent import AdditiveKeyedSink

    sink = AdditiveKeyedSink(_mkdir(), keys=["k"], value_cols=["n"])
    df1 = spark.createDataFrame([("a", 2), ("b", 3)], "k string, n bigint")
    df2 = spark.createDataFrame([("a", 5)], "k string, n bigint")
    sink.foreach_batch(df1, 0)
    sink.foreach_batch(df2, 1)
    assert {r.k: r.n for r in sink.read(spark).collect()} == {"a": 7, "b": 3}
    sink.foreach_batch(df2, 1)          # replay: overwrite, not add
    assert {r.k: r.n for r in sink.read(spark).collect()} == {"a": 7, "b": 3}
    sink.compact(spark)
    assert {r.k: r.n for r in sink.read(spark).collect()} == {"a": 7, "b": 3}
    sink.foreach_batch(
        spark.createDataFrame([("b", 4)], "k string, n bigint"), 2)
    assert {r.k: r.n for r in sink.read(spark).collect()} == {"a": 7, "b": 7}


def test_streaming_dim_refresh_visible_per_batch(spark):
    """Refreshable-dimension enrichment (slowly-changing dim): when the
    dim is re-resolved inside foreachBatch, an update landing between
    micro-batches is visible to the NEXT batch — the deployment pattern
    for dim refresh without restarting the stream. Batch 0 must join
    the v1 dim, batch 1 the v2 dim, deterministically."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_dir, dim_dir, out_dir, ck = (_mkdir() for _ in range(4))
    # two single-row source FILES (plain files, not dataset dirs),
    # mtime-ordered so maxFilesPerTrigger=1 yields exactly two batches
    for i, key in enumerate(["a", "b"]):
        p = os.path.join(src_dir, f"f{i}.parquet")
        pq.write_table(pa.table({"k": [key]}), p)
        t = _time.time() - 100 + i * 10
        os.utime(p, (t, t))
    spark.createDataFrame([("a", "v1"), ("b", "v1")], "k string, label string") \
        .write.mode("overwrite").parquet(dim_dir)

    def fb(batch, eid):
        dim = spark.read.parquet(dim_dir)
        (batch.join(dim, "k", "left")
         .write.mode("overwrite").parquet(os.path.join(out_dir, f"epoch={eid}")))
        if eid == 0:  # dim update lands after the first batch commits
            spark.createDataFrame([("a", "v2"), ("b", "v2")],
                                  "k string, label string") \
                .write.mode("overwrite").parquet(dim_dir)

    q = (spark.readStream.schema("k string")
         .option("maxFilesPerTrigger", 1).parquet(src_dir)
         .writeStream.foreachBatch(fb)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r.k, r.label) for r in spark.read.parquet(out_dir).collect()}
    assert got == {("a", "v1"), ("b", "v2")}


def test_sink_count_failure_never_deletes_committed_rows(spark, monkeypatch):
    """The parquet-footer row count after an epoch write is metrics-only;
    a transient counting error must NOT be treated as "empty batch" —
    the fail-open path would rmtree a committed epoch's rows while the
    checkpoint already marks the batch done (r02 review finding)."""
    import pyarrow.parquet as _pq

    sink = IdempotentKeyedSink(_mkdir(), ["k"])

    def boom(*a, **k):
        raise OSError("transient footer read failure")

    monkeypatch.setattr(_pq, "ParquetDataset", boom)
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    monkeypatch.undo()
    rows = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert rows == {(1, 10)}, "count failure must keep the epoch's rows"


def test_compact_on_never_written_sink_is_noop(spark):
    """compact() on a sink whose stream produced zero batches (path
    never created) is the documented nothing-to-fold no-op, not a raw
    FileNotFoundError."""
    sink = IdempotentKeyedSink(
        os.path.join(_mkdir(), "never_written"), ["k"])
    sink.compact(spark)  # must not raise


def test_concurrent_erasers_never_lose_stones():
    """Tombstone writes are read-modify-write; without the advisory
    lock two concurrent erase_keys calls can interleave load/replace
    and wipe each other's stones — an erased key silently resurrecting.
    16 threads each record a distinct stone through separate sink
    handles; all 16 must survive. (Probabilistically red without the
    lock, deterministically green with it.)"""
    import threading

    path = os.path.join(_mkdir(), "stones")
    errs: list[Exception] = []

    def erase(i: int) -> None:
        try:
            IdempotentKeyedSink(path, ["k"]).erase_keys([(i,)])
        except Exception as e:  # surfaced below — a thread must not die
            errs.append(e)

    threads = [threading.Thread(target=erase, args=(i,))
               for i in range(16)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    got = {tuple(s["key"]) for s in
           IdempotentKeyedSink(path, ["k"])._load_tombstones()}
    assert got == {(i,) for i in range(16)}, \
        f"lost stones: {sorted({(i,) for i in range(16)} - got)}"


def test_patch_epoch_skips_empty_reclaimed_stream_epochs(spark):
    """next_patch_epoch must clear the epoch HIGH-WATER MARK, not just
    the live epoch list: an empty stream epoch is reclaimed without
    leaving a directory, but its id was consumed by the checkpoint — a
    patch written at that id would be overwritten (or empty-reclaimed)
    by a resumed stream replaying the batch."""
    path = _mkdir()
    sink = IdempotentKeyedSink(path, ["k"])
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    # epochs 1 and 2: empty batches — reclaimed, no epoch dirs remain
    empty = spark.createDataFrame([], "k INT, v INT")
    sink.foreach_batch(empty, 1)
    sink.foreach_batch(empty, 2)
    assert sink.epochs() == [0]
    assert sink.next_patch_epoch() == 3, \
        "patch must skip the stream-consumed (reclaimed-empty) ids 1, 2"
    # and a fresh process reading only the disk state agrees
    assert IdempotentKeyedSink(path, ["k"]).next_patch_epoch() == 3


def test_schema_file_tracks_evolution_for_fresh_process(spark):
    """_schema.json is rewritten on schema evolution, so a FRESH process
    reading a sink whose epochs were all reclaimed still sees the
    EVOLVED columns (a stale narrow schema would drop them)."""
    path = _mkdir()
    sink = IdempotentKeyedSink(path, ["k"])
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    sink.foreach_batch(spark.createDataFrame(
        [(2, 20, "x")], "k INT, v INT, note STRING"), 1)
    # simulate operational reclamation of every epoch + a fresh process
    for d in os.listdir(path):
        if d.startswith("epoch="):
            shutil.rmtree(os.path.join(path, d))
    fresh = IdempotentKeyedSink(path, ["k"])
    out = fresh.read(spark)
    assert out.count() == 0
    assert "note" in out.columns, "evolved column lost from disk schema"


def test_compact_keeps_tombstones_recorded_mid_compaction(spark):
    """A tombstone recorded AFTER compact() snapshots its applied list
    must survive the post-compaction cleanup: wiping it unapplied would
    resurrect the erased key (fail-closed right-to-be-forgotten)."""
    sink = IdempotentKeyedSink(_mkdir(), ["k"])
    sink.foreach_batch(
        spark.createDataFrame([(1, 10), (2, 20)], "k INT, v INT"), 0)
    orig_read = sink.read

    def read_with_concurrent_erase(spark_, as_of_epoch=None):
        out = orig_read(spark_, as_of_epoch=as_of_epoch)
        # lands between compact()'s applied-list load and its clear
        sink.erase_keys([(2,)])
        return out

    sink.read = read_with_concurrent_erase
    sink.compact(spark)
    sink.read = orig_read
    rows = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert rows == {(1, 10)}, "mid-compaction erasure was wiped unapplied"


def test_compact_bounds_snapshot_at_listed_epochs(spark):
    """An epoch landing mid-compaction (after the directory listing)
    must stay live-only: folding it into the snapshot while it remains
    above the watermark would double-count it under additive merge."""
    from movement_spark.sinks.idempotent import AdditiveKeyedSink

    sink = AdditiveKeyedSink(_mkdir(), ["k"], ["v"])
    sink.foreach_batch(spark.createDataFrame([(1, 10)], "k INT, v INT"), 0)
    orig_read = sink.read

    def read_with_concurrent_epoch(spark_, as_of_epoch=None):
        # a new micro-batch commits between compact()'s listing and its
        # snapshot materialization
        sink.foreach_batch(
            spark.createDataFrame([(1, 5)], "k INT, v INT"), 5)
        return orig_read(spark_, as_of_epoch=as_of_epoch)

    sink.read = read_with_concurrent_epoch
    sink.compact(spark)
    sink.read = orig_read
    rows = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert rows == {(1, 15)}, "mid-compaction epoch was double-counted"


def test_torn_epoch_write_is_invisible_until_replayed(spark):
    """Crash injection for the exactly-once sink: a kill MID-epoch-write
    leaves a torn directory (part files present, no _SUCCESS job-commit
    marker) while the streaming checkpoint never committed the batch.
    read() must never surface the torn rows; compact() must neither fold
    the torn epoch into the watermark (its replay would land invisible)
    nor reclaim the dir; and the checkpoint-driven replay of the same
    epoch must overwrite the torn attempt into visibility."""
    d = _mkdir()
    sink = IdempotentKeyedSink(d, ["k"])
    sink.foreach_batch(
        spark.createDataFrame([(1, 10), (2, 20)], "k int, v int"), 0)

    # the crash image: valid parquet part file, NO _SUCCESS marker
    torn = os.path.join(d, "epoch=1")
    os.makedirs(torn)
    pq.write_table(pa.table({"k": [3], "v": [999]}),
                   os.path.join(torn, "part-00000.snappy.parquet"))

    committed = {(1, 10), (2, 20)}
    assert {tuple(r) for r in sink.read(spark).collect()} == committed, \
        "torn epoch leaked into read()"
    assert sink.epochs() == [0], "torn epoch listed as committed"

    # maintenance racing the crash: the torn epoch must survive compact
    # untouched and stay ABOVE the new watermark
    sink.compact(spark)
    assert sink.compaction_watermark() == 0
    assert os.path.isdir(torn), "compact reclaimed an uncommitted epoch"
    assert {tuple(r) for r in sink.read(spark).collect()} == committed

    # resume: foreachBatch replays batch 1 — deterministic-path
    # overwrite supersedes the torn attempt
    sink.foreach_batch(spark.createDataFrame([(3, 30)], "k int, v int"), 1)
    assert {tuple(r) for r in sink.read(spark).collect()} == \
        {(1, 10), (2, 20), (3, 30)}


def test_throttled_source_paces_batches(spark, sf_dir):
    """ThrottledGraph analog (ThrottledGraph.java:50-58 stalls every
    graph call by a configured delay): the rate-limited source must (a)
    admit at most one file per micro-batch, (b) keep consecutive
    non-empty batch starts >= ~the configured delay apart, and (c) still
    deliver every staged row — throttling changes pacing, never data."""
    from datetime import datetime

    from movement_spark.streaming.pipeline import (
        run_throttled_ingest, stage_token_stream)

    full = _mkdir()
    stage_token_stream(spark, sf_dir, full, sentinel=False)
    small = _mkdir()
    files = sorted(os.listdir(full))[:4]
    for f in files:
        shutil.copy2(os.path.join(full, f), os.path.join(small, f))
    expected = spark.read.parquet(small).count()

    delay_ms = 2000
    listener = run_throttled_ingest(spark, small, expected,
                                    delay_ms=delay_ms,
                                    checkpoint_dir=_mkdir())
    fed = [r for r in listener.records if r.num_input_rows > 0]
    assert listener.total_rows == expected, "throttle dropped rows"
    assert len(fed) >= len(files), \
        "maxFilesPerTrigger=1 must spread files across batches"
    starts = [datetime.fromisoformat(r.ts_iso.replace("Z", "+00:00"))
              for r in fed]
    gaps = [(b - a).total_seconds() for a, b in zip(starts, starts[1:])]
    # Trigger fires on clock-ALIGNED interval boundaries, so the first
    # gap after query start can be a partial interval — bound the whole
    # run (n batches need >= n-2 full intervals) plus a per-gap floor
    # well above unthrottled back-to-back pacing (~0.2s for these tiny
    # files).
    span = (starts[-1] - starts[0]).total_seconds()
    assert span >= (len(fed) - 2) * delay_ms / 1000.0, \
        f"run not paced: span={span}s gaps={gaps}"
    # Aligned triggers CATCH UP after a stalled batch (the next fires at
    # the already-due boundary), so under host contention one gap can
    # legitimately compress — require the REST to respect the floor
    # instead of the strict minimum (which flaked under a concurrent
    # parity sweep).
    short = [g for g in gaps if g < 0.3 * delay_ms / 1000.0]
    assert gaps and len(short) <= 1, \
        f"batch starts nearly back-to-back: {gaps}"


def test_state_backend_rejects_unknown_and_scopes_rocksdb_knob(spark):
    """Unknown backend names must fail with the valid choices (not a
    bare KeyError), and the RocksDB-only changelog knob must not leak
    into an HDFS-backend scope (ADVICE r02)."""
    import pytest as _pytest
    from movement_spark.session import state_backend

    with _pytest.raises(ValueError, match="rocksdb"):
        with state_backend(spark, "leveldb"):
            pass
    ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    with state_backend(spark, "hdfs"):
        try:
            val = spark.conf.get(ck)
        except Exception:
            val = None
        assert val != "true", "rocksdb knob set under hdfs backend"


def test_ordered_merge_on_rocksdb_state_store(spark, sf_dir):
    """The deployment state backend: the stateful CEP assembler runs
    with RocksDBStateStoreProvider + changelog checkpointing (state on
    executor disk, not JVM heap — the only backend that survives 100 TB
    per-key state), INCLUDING a kill/resume across batches with open
    docs in RocksDB state. Results must be bit-identical to the batch
    digest — backend choice must never change semantics."""
    from movement_spark.operators.ordering import merged_doc_check
    from movement_spark.session import state_backend
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    with state_backend(spark, "rocksdb"):
        run_streaming_ordered_merge(spark, sf_dir, stage_dir=part_stage,
                                    sink_dir=sink_dir, checkpoint_dir=ck,
                                    mode="python")
        for f in files[len(files) // 2:]:
            shutil.copy2(os.path.join(full_stage, f),
                         os.path.join(part_stage, f))
        result = run_streaming_ordered_merge(spark, sf_dir,
                                             stage_dir=part_stage,
                                             sink_dir=sink_dir,
                                             checkpoint_dir=ck,
                                             mode="python")
    # the provider is pinned into the checkpoint it created — prove the
    # run actually used RocksDB, not a silently-ignored conf
    import glob
    (meta,) = glob.glob(os.path.join(ck, "offsets", "0"))
    assert "RocksDBStateStoreProvider" in open(meta).read()
    expected = merged_doc_check(token_sequences(spark, sf_dir)) \
        .withColumn("n_shard", F.col("n_shard").cast("int"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0


def test_pattern_match_invariant_to_batch_boundaries(spark, sf_dir):
    """The CEP matcher's episode-close timeout must not fire mid-history:
    with one file per micro-batch (many watermark advances instead of
    the auto-fast single hop) every user must still emit exactly one
    whole-history row equal to the batch matcher's."""
    from movement_spark.operators.relational import pattern_match_stats
    from movement_spark.streaming.pipeline import run_streaming_pattern_match
    from movement_spark.sources.tables import load_table

    result = run_streaming_pattern_match(
        spark, sf_dir, stage_dir=_mkdir(), sink_dir=_mkdir(),
        checkpoint_dir=_mkdir(), files_per_trigger=1)
    expected = pattern_match_stats(load_table(spark, sf_dir, "events")) \
        .withColumn("n_matches", F.col("n_matches").cast("int")) \
        .withColumn("sum_match_len", F.col("sum_match_len").cast("int")) \
        .withColumn("max_match_len", F.col("max_match_len").cast("int"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0


def test_chained_pipelines_run_two_stateful_operators(spark, sf_dir):
    """The multiple-stateful-operator claims, asserted from the engine's
    own progress records: join→window runs a symmetric-hash-join AND a
    window aggregation in one query; the 5min→1h rollup runs TWO window
    aggregations — not one operator with a rewritten plan."""
    from movement_spark.streaming.pipeline import (
        run_streaming_join_then_window, run_streaming_window_rollup)

    with listening(spark) as lst:
        run_streaming_join_then_window(
            spark, sf_dir, stage_dir=_mkdir(), sink_dir=_mkdir(),
            checkpoint_dir=_mkdir())
    ops = {op for r in lst.records for op in r.state_operators}
    assert any("symmetricHashJoin" in o for o in ops), ops
    assert any("stateStoreSave" in o for o in ops), ops

    with listening(spark) as lst2:
        run_streaming_window_rollup(
            spark, sf_dir, stage_dir=_mkdir(), sink_dir=_mkdir(),
            checkpoint_dir=_mkdir())
    per_batch = {tuple(r.state_operators) for r in lst2.records}
    assert all(len(t) == 2 for t in per_batch), per_batch
    assert all(all("stateStoreSave" in o for o in t) for t in per_batch), \
        per_batch


def test_triple_stateful_chain_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume with THREE stateful operators' state open (dedup
    seen-keys, join buffers, window partials) in one checkpoint: run
    the dedup→join→window chain over half the duplicated stage, then
    the rest with the same checkpoint + sink. Final sink must equal the
    clean batch join+rollup — no duplicate leakage, no lost pairs
    across the kill point."""
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_join_window, stage_token_stream)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage, duplicate_factor=2)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_dedup_join_window(spark, sf_dir, stage_dir=part_stage,
                                    sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[len(files) // 2:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_dedup_join_window(spark, sf_dir,
                                             stage_dir=part_stage,
                                             sink_dir=sink_dir,
                                             checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    e = t.where(F.col("seq") % 2 == 0).select(
        "doc_id", F.col("ts").alias("ts_a"), F.col("n_tok").alias("n_tok_a"))
    o = t.where(F.col("seq") % 2 == 1).select(
        F.col("doc_id").alias("doc_id_b"), F.col("ts").alias("ts_b"),
        F.col("n_tok").alias("n_tok_b"))
    pairs = e.join(o, (e.doc_id == o.doc_id_b)
                   & (F.abs(F.unix_timestamp("ts_b")
                            - F.unix_timestamp("ts_a")) <= 60), "inner")
    expected = (
        pairs.groupBy(F.window("ts_a", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_pairs"),
             F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint")
             .alias("pair_tok"))
        .select(F.unix_timestamp("w.start").alias("ws"),
                "n_pairs", "pair_tok"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0


def test_state_backend_restores_conf_on_error(spark):
    """state_backend must restore the ambient provider even when the
    block raises — a leaked RocksDB conf would silently flip every
    later pipeline's state format mid-process."""
    from movement_spark.session import state_backend

    key = "spark.sql.streaming.stateStore.providerClass"
    try:
        before = spark.conf.get(key)
    except Exception:
        before = None
    with pytest.raises(RuntimeError, match="boom"):
        with state_backend(spark, "rocksdb"):
            assert "RocksDB" in spark.conf.get(key)
            raise RuntimeError("boom")
    try:
        after = spark.conf.get(key)
    except Exception:
        after = None
    assert after == before


def test_triple_stateful_chain_on_rocksdb(spark, sf_dir):
    """Deployment matrix point: the dedup→join→window chain (three
    state formats in one checkpoint) on the RocksDB backend with
    changelog checkpointing, including a kill/resume — backend choice
    must not change chained-operator semantics either."""
    from movement_spark.session import state_backend
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_join_window, stage_token_stream)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage, duplicate_factor=2)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    for f in files[: len(files) // 2]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    with state_backend(spark, "rocksdb"):
        run_streaming_dedup_join_window(spark, sf_dir, stage_dir=part_stage,
                                        sink_dir=sink_dir, checkpoint_dir=ck)
        for f in files[len(files) // 2:]:
            shutil.copy2(os.path.join(full_stage, f),
                         os.path.join(part_stage, f))
        result = run_streaming_dedup_join_window(
            spark, sf_dir, stage_dir=part_stage, sink_dir=sink_dir,
            checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    e = t.where(F.col("seq") % 2 == 0).select(
        "doc_id", F.col("ts").alias("ts_a"), F.col("n_tok").alias("n_tok_a"))
    o = t.where(F.col("seq") % 2 == 1).select(
        F.col("doc_id").alias("doc_id_b"), F.col("ts").alias("ts_b"),
        F.col("n_tok").alias("n_tok_b"))
    pairs = e.join(o, (e.doc_id == o.doc_id_b)
                   & (F.abs(F.unix_timestamp("ts_b")
                            - F.unix_timestamp("ts_a")) <= 60), "inner")
    expected = (
        pairs.groupBy(F.window("ts_a", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n_pairs"),
             F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint")
             .alias("pair_tok"))
        .select(F.unix_timestamp("w.start").alias("ws"),
                "n_pairs", "pair_tok"))
    assert result.count() == expected.count()
    assert result.exceptAll(expected).count() == 0


def test_interval_seconds_parses_and_rejects():
    """ADVICE r03: run_streaming_drift_monitor silently hard-coded the
    read-side fold at 300 s regardless of the width argument. The
    parser must cover the widths the window math honors and FAIL FAST
    on anything else (an unparsed width yields silently-empty drift
    output, not an error)."""
    from movement_spark.streaming.pipeline import _interval_seconds
    assert _interval_seconds("5 minutes") == 300
    assert _interval_seconds("10 minutes") == 600
    assert _interval_seconds("90 seconds") == 90
    assert _interval_seconds("2 hours") == 7200
    assert _interval_seconds("1 day") == 86400
    with pytest.raises(ValueError):
        _interval_seconds("7 fortnights")
    with pytest.raises(ValueError):
        _interval_seconds("1.5 minutes")


def test_drift_monitor_honors_nondefault_width(spark, sf_dir):
    """End-to-end pin of the width pass-through: a 10-minute drift
    monitor must equal the batch fold over 10-minute histograms (the
    pre-fix behavior paired 600-s windows at a 300-s offset → zero
    pairs → silently empty output)."""
    from movement_spark.streaming.pipeline import run_streaming_drift_monitor
    from movement_spark.operators.dataset import window_drift_tvd
    result = run_streaming_drift_monitor(spark, sf_dir, width="10 minutes")
    t = token_sequences(spark, sf_dir)
    hist = (
        t.select("ts", "source", F.explode("tokens").alias("tok"))
        .groupBy((F.floor(F.unix_timestamp("ts") / 600) * 600).alias("ws"),
                 "source", (F.col("tok") % 64).alias("bucket"))
        .agg(F.count("*").alias("cnt")))
    expected = window_drift_tvd(hist, width_sec=600)
    n = result.count()
    assert n == expected.count() and n > 0
    assert result.exceptAll(expected).count() == 0


def test_drift_monitor_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume for the drift monitor: the bucketed histogram state
    spans the kill point (a window's bucket counts accumulate across
    the restart), and the read-side TVD fold runs over the union of
    epochs — the resumed run must equal a clean single-run batch fold
    over the full table. Same partial-stage/full-stage discipline as
    the other resume tests."""
    from movement_spark.operators.dataset import window_drift_tvd
    from movement_spark.streaming.pipeline import (
        run_streaming_drift_monitor, stage_token_stream)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_drift_monitor(spark, sf_dir, stage_dir=part_stage,
                                sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_drift_monitor(spark, sf_dir,
                                         stage_dir=part_stage,
                                         sink_dir=sink_dir,
                                         checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    hist = (
        t.select("ts", "source", F.explode("tokens").alias("tok"))
        .groupBy((F.floor(F.unix_timestamp("ts") / 300) * 300).alias("ws"),
                 "source", (F.col("tok") % 64).alias("bucket"))
        .agg(F.count("*").alias("cnt")))
    expected = window_drift_tvd(hist, width_sec=300)
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0


def test_neardup_monitor_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume for the near-dup monitor: the chained-aggregate
    state (per-signature counts, then the per-(window, source) fold)
    spans the kill point — a signature seen before AND after the
    restart must count as one distinct signature with its duplicates
    summed, so the resumed run must equal a clean batch two-level fold
    over the full table."""
    from movement_spark.operators.dedup import shard_signature_expr
    from movement_spark.streaming.pipeline import (
        run_streaming_neardup_monitor)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_neardup_monitor(spark, sf_dir, stage_dir=part_stage,
                                  sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_neardup_monitor(spark, sf_dir,
                                           stage_dir=part_stage,
                                           sink_dir=sink_dir,
                                           checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    per_sig = (
        t.withColumn("sig", F.expr(shard_signature_expr()))
        .groupBy((F.floor(F.unix_timestamp("ts") / 300) * 300).alias("ws"),
                 "source", "sig")
        .agg(F.count("*").alias("n")))
    expected = (
        per_sig.groupBy("ws", "source")
        .agg(F.sum("n").cast("bigint").alias("n_seq"),
             F.count("*").cast("bigint").alias("n_distinct_sig"))
        .select("ws", "source", "n_seq", "n_distinct_sig",
                (F.col("n_seq") - F.col("n_distinct_sig"))
                .cast("bigint").alias("n_dup_seq")))
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0


def test_neardup_monitor_staged_equals_stream(spark, sf_dir):
    """sig_mode='staged' (signature stamped at stage time — the
    production landing layout and the bench primary) must be
    row-identical to the self-contained in-stream form: the signature
    is content-derived, so WHERE it is computed cannot change a single
    count — including the sentinel rows, whose staged NULL sig must
    fold exactly like the in-row expression's NULL on an empty token
    array. A sig-free stage read in staged mode would silently yield
    all-NULL signatures (parquet schema projection), which this
    equality would catch as one giant dup group."""
    from movement_spark.streaming.pipeline import (
        run_streaming_neardup_monitor)

    stream = run_streaming_neardup_monitor(
        spark, sf_dir, sink_dir=_mkdir(), checkpoint_dir=_mkdir())
    staged = run_streaming_neardup_monitor(
        spark, sf_dir, sink_dir=_mkdir(), checkpoint_dir=_mkdir(),
        sig_mode="staged")
    a = sorted(tuple(r) for r in stream.collect())
    b = sorted(tuple(r) for r in staged.collect())
    assert len(a) == len(b) > 0
    assert a == b


def test_neardup_staged_rejects_sig_free_stage(spark, sf_dir):
    """sig_mode='staged' against a stage written WITHOUT signatures
    must be an immediate ValueError: parquet schema projection would
    otherwise read the missing column as NULL for every row and the
    monitor would emit plausible-looking all-dup counts."""
    import pytest

    from movement_spark.streaming.pipeline import (
        run_streaming_neardup_monitor, stage_token_stream)

    plain = _mkdir()
    stage_token_stream(spark, sf_dir, plain)  # no with_sig
    with pytest.raises(ValueError, match="signature-enriched"):
        run_streaming_neardup_monitor(
            spark, sf_dir, stage_dir=plain, sink_dir=_mkdir(),
            checkpoint_dir=_mkdir(), sig_mode="staged")


def test_neardup_staged_rejects_one_sig_free_file(spark, sf_dir):
    """The staged-mode guard reads every stage file's footer: ONE
    sig-free file landed among signature files (a stage written
    incrementally across versions) must raise too — a guard that
    sampled only the first file, or a dataset schema taken from it,
    would pass and read that file's rows as NULL sig."""
    from movement_spark.streaming.pipeline import (
        run_streaming_neardup_monitor, stage_token_stream)

    stage, plain = _mkdir(), _mkdir()
    stage_token_stream(spark, sf_dir, stage, with_sig=True)
    stage_token_stream(spark, sf_dir, plain, sentinel=False)
    files = sorted(f for f in os.listdir(stage) if f.endswith(".parquet"))
    odd = sorted(f for f in os.listdir(plain) if f.endswith(".parquet"))[0]
    # sorts after the first signature file, before the sentinels
    shutil.copy2(os.path.join(plain, odd),
                 os.path.join(stage, files[0].replace(".parquet",
                                                      "_v1.parquet")))
    with pytest.raises(ValueError, match="1 file"):
        run_streaming_neardup_monitor(
            spark, sf_dir, stage_dir=stage, sink_dir=_mkdir(),
            checkpoint_dir=_mkdir(), sig_mode="staged")


def test_quantile_monitor_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume for the streaming quantile monitor: the per-(window,
    source, bucket) counter grid spans the kill point — counts for a
    bucket fed before AND after the restart must sum, so the resumed
    run's quantile fold must equal a clean batch histogram fold over
    the full table."""
    from movement_spark.operators.sketches import histogram_quantile_fold
    from movement_spark.streaming.pipeline import (
        run_streaming_quantile_monitor)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_quantile_monitor(spark, sf_dir, stage_dir=part_stage,
                                   sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_quantile_monitor(spark, sf_dir,
                                            stage_dir=part_stage,
                                            sink_dir=sink_dir,
                                            checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    hist = (
        t.groupBy((F.floor(F.unix_timestamp("ts") / 300) * 300).alias("ws"),
                  "source",
                  F.least(F.expr("n_tok div 2"), F.lit(63)).alias("bucket"))
        .agg(F.count("*").alias("cnt")))
    expected = histogram_quantile_fold(hist, ["ws", "source"],
                                       width=2, n_alias="n_seq")
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0


def test_cms_monitor_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume for the streaming CMS monitor: the per-(window,
    source, j, cell) counter grid spans the kill point — a cell fed
    before AND after the restart must sum (additivity is the sketch's
    whole contract), so the resumed run's watchlist fold must equal
    the fold over a grid built in one batch pass from the full table."""
    from movement_spark.operators.sketches import (
        CMS_D, CMS_WATCH, _cms_cell, cms_watch_estimates)
    from movement_spark.streaming.pipeline import run_streaming_cms_monitor

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_cms_monitor(spark, sf_dir, stage_dir=part_stage,
                              sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_cms_monitor(spark, sf_dir,
                                       stage_dir=part_stage,
                                       sink_dir=sink_dir,
                                       checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    probes = F.array(*[
        F.struct(F.lit(j).alias("j"), _cms_cell(F.col("t"), j).alias("cell"))
        for j in range(CMS_D)])
    grid = (
        t.select(F.unix_timestamp("ts").alias("uts"), "source",
                 F.explode("tokens").alias("t"))
        .select((F.floor(F.col("uts") / 300) * 300).alias("ws"), "source",
                F.explode(probes).alias("h"))
        .groupBy("ws", "source", F.col("h.j").alias("j"),
                 F.col("h.cell").alias("cell"))
        .agg(F.count("*").alias("cnt")))
    expected = cms_watch_estimates(grid, ["ws", "source"], CMS_WATCH)
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0


def test_backfill_handoff_seam_is_load_bearing(spark, sf_dir):
    """The kappa handoff must be REAL on both sides of the cut: history
    windows exist only in the batch backfill epoch (-1), the live tail
    has rows from streaming epochs (>= 0), and the one deliberate
    overlap window was written by BOTH generations (the sink's
    highest-epoch-wins merge resolves it — oracle equality is the
    parity sweep's job; this pins that the equality isn't trivially
    one generation doing all the work)."""
    from movement_spark.streaming.pipeline import (
        run_streaming_backfill_handoff)

    sink_dir, ck = _mkdir(), _mkdir()
    result = run_streaming_backfill_handoff(
        spark, sf_dir, sink_dir=sink_dir, checkpoint_dir=ck)
    assert result.count() > 0
    sink = IdempotentKeyedSink(sink_dir, ["ws", "source"])
    eps = sink.epochs()
    assert -1 in eps and any(e >= 0 for e in eps), eps
    raw = spark.read.option("basePath", sink_dir).parquet(
        *[os.path.join(sink_dir, f"epoch={e}") for e in eps])
    cut = EPOCH_2026 + 1800
    # history strictly below the cut: batch generation only
    assert raw.where((F.col("ws") < cut)
                     & (F.col("epoch") >= 0)).count() == 0
    assert raw.where((F.col("ws") < cut)
                     & (F.col("epoch") == -1)).count() > 0
    # live tail past the overlap window: stream generation only
    assert raw.where((F.col("ws") > cut)
                     & (F.col("epoch") == -1)).count() == 0
    assert raw.where((F.col("ws") > cut)
                     & (F.col("epoch") >= 0)).count() > 0
    # the overlap window at the cut was written by both generations
    overlap_epochs = {r.epoch for r in raw.where(F.col("ws") == cut)
                      .select("epoch").distinct().collect()}
    assert -1 in overlap_epochs and any(e >= 0 for e in overlap_epochs), \
        overlap_epochs


def test_late_repair_stream_alone_is_short(spark, sf_dir):
    """The late-repair flow is only meaningful if the watermark REALLY
    dropped the stragglers: the pre-repair snapshot (epoch time travel
    to just before the repair epoch) must be short by EXACTLY the
    straggler row count, and the post-repair read must equal the full
    batch aggregate. If the stream silently absorbed the late file,
    the first assertion fails and the repair was a no-op."""
    from movement_spark.streaming.pipeline import (
        run_streaming_late_repair, stage_token_stream_with_stragglers)

    stage, sink_dir, ck = _mkdir(), _mkdir(), _mkdir()
    n_main, n_strag = stage_token_stream_with_stragglers(spark, sf_dir,
                                                         stage)
    assert n_strag > 0, "fixture must produce stragglers"
    result = run_streaming_late_repair(spark, sf_dir, stage_dir=stage,
                                       sink_dir=sink_dir,
                                       checkpoint_dir=ck)
    sink = IdempotentKeyedSink(sink_dir, ["ws", "source"])
    repair_epoch = max(sink.epochs())
    pre = sink.read(spark, as_of_epoch=repair_epoch - 1)

    t = token_sequences(spark, sf_dir)
    oracle = (
        t.groupBy((F.floor(F.unix_timestamp("ts") / 300) * 300)
                  .cast("bigint").alias("ws"), "source")
        .agg(F.count("*").alias("n_seq"),
             F.sum("n_tok").cast("bigint").alias("sum_tok")))
    short = oracle.join(
        pre.select("ws", "source", F.col("n_seq").alias("pre_seq")),
        ["ws", "source"], "left")
    missing = short.agg(F.sum(
        F.col("n_seq") - F.coalesce("pre_seq", F.lit(0)))).collect()[0][0]
    assert missing == n_strag, (missing, n_strag)
    assert result.count() == oracle.count()
    assert result.exceptAll(oracle).count() == 0
    assert oracle.exceptAll(result).count() == 0


def test_loglog_monitor_resumes_from_checkpoint(spark, sf_dir):
    """Kill/resume for the streaming LogLog monitor: registers are
    merged by MAX, so a register fed before AND after the restart (and
    any rows replayed by the checkpoint) must collapse idempotently —
    the resumed run's fold must equal the fold over a grid built in
    one batch pass from the full table."""
    from movement_spark.operators.sketches import (
        CMS_AB, CMS_P, LL_M, loglog_window_fold)
    from movement_spark.streaming.pipeline import (
        run_streaming_loglog_monitor)

    full_stage = _mkdir()
    stage_token_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_loglog_monitor(spark, sf_dir, stage_dir=part_stage,
                                 sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_loglog_monitor(spark, sf_dir,
                                          stage_dir=part_stage,
                                          sink_dir=sink_dir,
                                          checkpoint_dir=ck)
    t = token_sequences(spark, sf_dir)
    a, b = CMS_AB[0]
    hv = f"(({a}L * cast(t as bigint) + {b}) % {CMS_P})"
    grid = (
        t.select(F.unix_timestamp("ts").alias("uts"), "source",
                 F.explode("tokens").alias("t"))
        .select((F.floor(F.col("uts") / 300) * 300).alias("ws"), "source",
                F.expr(f"{hv} % {LL_M}").alias("reg"),
                F.expr(f"length(bin({hv} div {LL_M}))").alias("bl"))
        .groupBy("ws", "source", "reg")
        .agg(F.max("bl").alias("max_bl")))
    expected = loglog_window_fold(grid, ["ws", "source"])
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0


def test_directory_csv_roundtrip_keeps_empty_string_distinct_from_null(spark):
    """The directory sink's read-back content-parity contract: a STRING
    field holding '' must come back as '' and NULL as NULL — under
    Spark CSV defaults both serialize to an empty field and every ''
    resurfaced as NULL (the \\N null sentinel keeps them apart)."""
    from movement_spark.sinks.directory import (
        read_directory_csv, write_directory_csv)

    d = _mkdir()
    df = spark.createDataFrame(
        [(1, "", "a"), (2, None, "a"), (3, "x", "b")],
        "id INT, v STRING, label STRING")
    write_directory_csv(df, d, "p")
    back = {r.id: r.v for r in
            read_directory_csv(spark, d, "p", "id INT, v STRING").collect()}
    assert back == {1: "", 2: None, 3: "x"}


def test_ann_ingest_resumes_and_replays_idempotently(spark, sf_dir):
    """Kill/resume for the streaming ANN ingest: assignments made
    before the kill must not duplicate or change after the resume (the
    codebook is frozen, the sink is vec_id-keyed), so the resumed run's
    manifest equals the batch assignment over the full table — and a
    THIRD run over the already-drained stage (pure replay) returns the
    identical manifest."""
    from movement_spark.operators.similarity import (
        _argmax_dot_assign, quantized)
    from movement_spark.sources.tables import load_table
    from movement_spark.streaming.pipeline import (
        run_streaming_ann_ingest, stage_embedding_stream)

    full_stage = _mkdir()
    stage_embedding_stream(spark, sf_dir, full_stage)
    files = sorted(os.listdir(full_stage))
    part_stage, ck, sink_dir = _mkdir(), _mkdir(), _mkdir()
    cut = len(files) // 2
    for f in files[:cut]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    run_streaming_ann_ingest(spark, sf_dir, stage_dir=part_stage,
                             sink_dir=sink_dir, checkpoint_dir=ck)
    for f in files[cut:]:
        shutil.copy2(os.path.join(full_stage, f), os.path.join(part_stage, f))
    result = run_streaming_ann_ingest(spark, sf_dir, stage_dir=part_stage,
                                      sink_dir=sink_dir, checkpoint_dir=ck)
    emb = quantized(load_table(spark, sf_dir, "embeddings"))
    cents = emb.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    expected = (
        _argmax_dot_assign(emb.select("vec_id", "q", "label"),
                           cents, keep=("label",))
        .groupBy("cent_id")
        .agg(F.count("*").alias("n_vecs"),
             F.sum("vec_id").cast("bigint").alias("sum_vec_id"),
             F.countDistinct("label").cast("int").alias("n_labels")))
    assert result.count() == expected.count() > 0
    assert result.exceptAll(expected).count() == 0
    replay = run_streaming_ann_ingest(spark, sf_dir, stage_dir=part_stage,
                                      sink_dir=sink_dir, checkpoint_dir=ck)
    assert replay.exceptAll(expected).count() == 0
    assert replay.count() == expected.count()


def test_ann_ingest_arrow_equals_jvm(spark, sf_dir):
    """The arrow assignment mode must produce the identical inverted-
    list manifest to the JVM mode over the same staged stream — the
    per-micro-batch numpy argmax and the interpreted argmin agree
    row-for-row (codebook sorted by cent_id + first-max tie-break)."""
    from movement_spark.streaming.pipeline import (
        run_streaming_ann_ingest, stage_embedding_stream)

    stage = _mkdir()
    stage_embedding_stream(spark, sf_dir, stage)
    jvm = run_streaming_ann_ingest(
        spark, sf_dir, stage_dir=stage, sink_dir=_mkdir(),
        checkpoint_dir=_mkdir(), assign="jvm")
    arrow = run_streaming_ann_ingest(
        spark, sf_dir, stage_dir=stage, sink_dir=_mkdir(),
        checkpoint_dir=_mkdir(), assign="arrow")
    assert jvm.count() > 0
    assert jvm.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(jvm).count() == 0
