"""Self-tests of the benchmark (not of the program):

    python3 -m pytest perfbench -q

- the same seed gives byte-identical generated files, and the files
  honour the pipelines' input contract;
- the reference check reports a non-zero error_rate against a
  deliberately corrupted copy of a runner's sink;
- an open loop whose backlog grows is flagged as saturated and fails the
  run instead of reporting a latency;
- the CPU clock counts the CPU time this process uses.
"""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, worker
from perfbench.reference import compare, reference
from movement_spark.sources.tokens import EPOCH_2026, TS_MOD
from movement_spark.streaming.pipeline import SENTINEL

SHAPE = gen.Shape(docs=300, files=3, hot_docs=2, shard_span_s=120,
                  disorder=0.2, duplicate=True, tok_max=16)


def _contents(d) -> dict[str, bytes]:
    return {f: (d / f).read_bytes() for f in sorted(os.listdir(d))}


def test_same_seed_gives_identical_files(tmp_path):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.generate_bulk(str(tmp_path / name), SHAPE, seed)
        for k, table in enumerate(gen.live_tables(gen.LiveShape(10), seed, 3)):
            (tmp_path / f"live_{name}").mkdir(exist_ok=True)
            gen.write_file(table, str(tmp_path / f"live_{name}" / f"{k}"), 0)
    assert _contents(tmp_path / "a") == _contents(tmp_path / "b")
    assert _contents(tmp_path / "a") != _contents(tmp_path / "c")
    assert _contents(tmp_path / "live_a") == _contents(tmp_path / "live_b")
    assert _contents(tmp_path / "live_a") != _contents(tmp_path / "live_c")


def test_generated_files_honour_input_contract(tmp_path):
    traffic = gen.generate_bulk(str(tmp_path), SHAPE, 3)
    files = sorted(tmp_path.iterdir(), key=lambda p: p.stat().st_mtime)
    assert all(f.name.endswith("-s.parquet") for f in files[-2:])
    t = pq.ParquetDataset([str(f) for f in files[:-2]]).read().to_pandas()
    ts = (t["ts"] - pd.Timestamp(0)) // pd.Timedelta(seconds=1)
    assert ts.between(EPOCH_2026, EPOCH_2026 + TS_MOD - 1).all()
    per_doc = t.drop_duplicates(["doc_id", "seq"]).groupby("doc_id")
    assert (per_doc["seq"].count() == per_doc["n_shards"].first()).all()
    spans = per_doc["ts"].max() - per_doc["ts"].min()
    assert spans.max().total_seconds() <= gen.SPAN_MAX_S
    assert (t["n_tok"] == t["tokens"].map(len)).all()
    assert traffic["rows"] == len(t) and traffic["dup_share"] == 0.5
    assert 0 < traffic["hot_doc_row_share"] < 1
    assert 0 < traffic["disorder_share"] < 1
    sent = pq.read_table(str(files[-1])).to_pandas()
    assert (sent["doc_id"] == SENTINEL).all()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    s = worker.start_spark(str(tmp_path_factory.mktemp("spark")), 2, None)
    yield s
    worker.stop_spark(s)


def test_reference_flags_corrupted_sink(tmp_path, spark):
    from movement_spark.sinks.idempotent import IdempotentKeyedSink
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_join_window)

    w = worker.WORKLOADS["dedup_join"]
    stage, sink = tmp_path / "stage", tmp_path / "sink"
    gen.generate_bulk(str(stage), SHAPE, 3)
    expected = reference(w.oracle, worker.parquet_files(str(stage)))
    got = run_streaming_dedup_join_window(
        spark, worker.NO_SF_DIR, stage_dir=str(stage), sink_dir=str(sink),
        checkpoint_dir=str(tmp_path / "ck")).toPandas()
    assert compare(got, expected, list(w.keys))["error_rate"] == 0

    bad = tmp_path / "bad"
    shutil.copytree(sink, bad)
    parts = [p for p in bad.rglob("part-*.parquet")
             if pq.read_metadata(str(p)).num_rows > 1]
    orig = pq.read_table(str(parts[0]))
    table = orig.to_pandas()
    table.loc[0, "n_pairs"] += 1                    # one differing row
    table = table.iloc[:-1]                         # one missing row
    pq.write_table(pa.Table.from_pandas(table, schema=orig.schema,
                                        preserve_index=False), str(parts[0]))
    # the Hadoop checksum sidecar would reject the rewritten file
    (parts[0].parent / f".{parts[0].name}.crc").unlink()
    corrupt = IdempotentKeyedSink(str(bad), list(w.keys)).read(spark)
    r = compare(corrupt.toPandas(), expected, list(w.keys))
    assert r["differing"] == 1 and r["missing"] == 1
    assert r["error_rate"] == pytest.approx(2 / len(expected))


def test_growing_backlog_is_saturated_not_a_latency():
    assert worker.saturated([1, 1, 2, 3, 4, 5])
    assert worker.saturated([1, 2, 3, 4])
    assert not worker.saturated([1, 1, 1])
    assert not worker.saturated([1, 3, 3, 3, 3])     # batched, keeping up
    assert not worker.saturated([1, 2, 2, 3, 2, 2])  # one slow call
    assert not worker.saturated([1, 3])              # nothing to compare
    ok = {"expected": 10, "missing": 0, "extra": 0, "differing": 0}
    attempted, failed, sat = run.checks(
        [{"checks": [ok], "run": {"saturated": True}}])
    assert (attempted, failed, sat) == (10, 1, True)
    assert run.checks([{"checks": [ok], "run": {"saturated": False}}]) \
        == (10, 0, False)


def test_cpu_clock_counts_group_cpu_time(spark):
    clock = worker.CpuClock()
    t = time.process_time()
    while time.process_time() - t < 0.3:
        pass
    assert 0.25 <= clock.seconds() < 5
