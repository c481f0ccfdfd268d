"""Token-sequence derivation invariants (FIXTURES.md §1)."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from movement_spark.sources.synth import stage_synth_stream
from movement_spark.sources.tokens import token_sequences
from movement_spark.streaming.pipeline import SENTINEL


def test_n_tok_matches_array_length(spark, sf_dir):
    df = token_sequences(spark, sf_dir)
    bad = df.where(F.size("tokens") != F.col("n_tok")).count()
    assert bad == 0


def test_shard_counts_per_doc(spark, sf_dir):
    df = token_sequences(spark, sf_dir, keep_did=True)
    per_doc = df.groupBy("doc_id").agg(
        F.count("*").alias("n"),
        F.max("seq").alias("max_seq"),
        F.first(1 + F.col("did") % 4).alias("expected"))
    bad = per_doc.where(
        (F.col("n") != F.col("expected"))
        | (F.col("max_seq") != F.col("expected") - 1)).count()
    assert bad == 0


def test_derivation_is_deterministic(spark, sf_dir):
    a = token_sequences(spark, sf_dir).orderBy("doc_id", "seq").collect()
    b = token_sequences(spark, sf_dir).orderBy("doc_id", "seq").collect()
    assert a == b


def test_schema_matches_input_hint(spark, sf_dir):
    schema = dict(
        (f.name, f.dataType.simpleString())
        for f in token_sequences(spark, sf_dir).schema.fields)
    assert schema["doc_id"] == "string"
    assert schema["tokens"] == "array<int>"
    assert schema["n_tok"] == "int"
    assert schema["source"] == "string"
    assert schema["ts"] == "timestamp"


def test_token_cache_repersists_after_clear_cache(spark, sf_dir):
    """The memoized token table must notice that the session's cache
    dropped it: after clearCache() the next call persists it again,
    instead of handing out a frame every caller silently recomputes."""
    token_sequences(spark, sf_dir)
    spark.catalog.clearCache()
    token_sequences(spark, sf_dir)
    assert not spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_synth_stage_arrives_in_event_time_order(spark, tmp_path):
    """A synthetic bench stage, read in the file source's delivery order
    (mtime, then name), never steps back in event time — a file behind
    the front already reached is late data a watermark may drop without
    notice — and its two flush sentinels arrive last."""
    stage = str(tmp_path / "stage")
    n_rows = stage_synth_stream(spark, 4000, stage, n_files=32)
    names = sorted(
        (f for f in os.listdir(stage) if f.endswith(".parquet")),
        key=lambda f: (os.path.getmtime(os.path.join(stage, f)), f))
    tables = [pq.read_table(os.path.join(stage, f)) for f in names]
    is_flush = [SENTINEL in t.column("doc_id").to_pylist() for t in tables]
    assert is_flush[-2:] == [True, True] and not any(is_flush[:-2])
    assert sum(t.num_rows for t in tables[:-2]) == n_rows
    front = None
    for name, t in zip(names, tables):
        ts = t.column("ts").cast(pa.timestamp("us")).to_numpy()
        assert front is None or ts.min() >= front, \
            f"{name} starts {front - ts.min()} behind the event-time front"
        front = ts.max() if front is None else max(front, ts.max())
