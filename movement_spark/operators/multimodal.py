"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a small typed
metadata struct. There is no image/audio decode (the engine depends on
no image or audio library), but the Spark-side plumbing is real:
Arrow-batched ``mapInPandas`` over binary columns, schema, partitioning,
batch shape — all tested.

The demo payload is the UTF-8 encoding of document text (deterministic, so
the feature extractor is oracle-checkable: byte-sum == ascii-sum for the
ASCII corpus).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

MEDIA_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("media_type", StringType()),
    StructField("payload", BinaryType()),
])

FEATURE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("n_bytes", IntegerType()),
    StructField("first_byte", IntegerType()),
    StructField("byte_sum", LongType()),
])


def documents_as_media(documents: DataFrame) -> DataFrame:
    """Wrap text docs as opaque binary payloads (the multimodal carrier).

    NULL text = a missing blob: excluded HERE, at the carrier, so the
    Arrow decoders downstream never see a None payload
    (np.frombuffer(None) throws inside the UDF — caught by the
    NULL-row degenerate sweep, SCALE.md §8). Every consumer's oracle
    mirrors the exclusion with `text IS NOT NULL`.
    """
    return documents.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.lit("text/plain").alias("media_type"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _extract_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Vectorized per-batch feature extraction over binary payloads.

    This is the pattern a real decoder plugs into: numpy over the Arrow
    batch, never per-row Python objects crossing the boundary one at a
    time. frombuffer keeps it zero-copy per payload.
    """
    for pdf in batches:
        n = len(pdf)
        n_bytes = np.empty(n, dtype=np.int32)
        first = np.empty(n, dtype=np.int32)
        bsum = np.empty(n, dtype=np.int64)
        for i, payload in enumerate(pdf["payload"].values):
            arr = np.frombuffer(payload, dtype=np.uint8)
            n_bytes[i] = arr.size
            first[i] = int(arr[0]) if arr.size else -1
            bsum[i] = int(arr.sum())
        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].values,
            "n_bytes": n_bytes,
            "first_byte": first,
            "byte_sum": bsum,
        })


def media_features(documents: DataFrame) -> DataFrame:
    """binary → features via Arrow-batched mapInPandas (the slow-path
    escape hatch, used only because byte inspection can't be a built-in)."""
    media = documents_as_media(documents)
    return media.mapInPandas(_extract_features, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", IntegerType()),
    StructField("frame_bytes", IntegerType()),
    StructField("checksum", LongType()),
])

N_FRAMES = 4
MEDIA_SAMPLE_MOD = 25  # frame sampling and resize see doc_id % 25 == 0


def _sample_frames(n_frames: int):
    """Deterministic fake decoder: the payload is treated as n_frames
    equal-size chunks; each frame row carries its byte checksum. This is
    the 1→N Emitable-style decomposition (Emitable.java:33) for media:
    one mapInPandas batch in, n_frames rows per doc out — the exact
    plumbing (schema, Arrow batching, fanout) a real ffmpeg/PIL decoder
    plugs into."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids, idxs, sizes, sums = [], [], [], []
            for doc_id, payload in zip(pdf["doc_id"].values,
                                       pdf["payload"].values):
                arr = np.frombuffer(payload, dtype=np.uint8)
                fs = arr.size // n_frames
                if fs == 0:
                    continue
                frames = arr[:fs * n_frames].reshape(n_frames, fs)
                doc_ids.extend([doc_id] * n_frames)
                idxs.extend(range(n_frames))
                sizes.extend([fs] * n_frames)
                sums.extend(frames.sum(axis=1, dtype=np.int64))
            yield pd.DataFrame({
                "doc_id": np.asarray(doc_ids, dtype=np.int64),
                "frame_idx": np.asarray(idxs, dtype=np.int32),
                "frame_bytes": np.asarray(sizes, dtype=np.int32),
                "checksum": np.asarray(sums, dtype=np.int64),
            })
    return gen


def media_frame_sample(documents: DataFrame) -> DataFrame:
    """Frame-sampling pipeline over "video" payloads: sampled docs →
    binary carrier → N_FRAMES per-frame rows. The sample predicate sits
    BEFORE the Python stage so the scan prunes to 1/MEDIA_SAMPLE_MOD of
    the corpus and the Arrow boundary only ships sampled payloads."""
    media = documents_as_media(
        documents.where(F.col("doc_id") % MEDIA_SAMPLE_MOD == 0))
    return media.mapInPandas(_sample_frames(N_FRAMES), schema=FRAME_SCHEMA)


RESIZE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("orig_bytes", IntegerType()),
    StructField("resized_bytes", IntegerType()),
    StructField("resized_checksum", LongType()),
])

RESIZE_STRIDE = 4


def _resize(stride: int):
    """Deterministic fake resize: stride-decimate the byte stream (the
    1/k downsample a real PIL `Image.resize` / audio resampler plugs
    into — same batch shape: binary in, smaller binary + metadata out).
    Vectorized: one numpy slice per payload, no per-byte Python."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            orig = np.empty(n, dtype=np.int32)
            new_len = np.empty(n, dtype=np.int32)
            csum = np.empty(n, dtype=np.int64)
            for i, payload in enumerate(pdf["payload"].values):
                arr = np.frombuffer(payload, dtype=np.uint8)
                small = arr[::stride]
                orig[i] = arr.size
                new_len[i] = small.size
                csum[i] = int(small.sum())
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].values,
                "orig_bytes": orig,
                "resized_bytes": new_len,
                "resized_checksum": csum,
            })
    return gen


def media_resize(documents: DataFrame) -> DataFrame:
    """Resize pipeline over binary media payloads (sampled)."""
    media = documents_as_media(
        documents.where(F.col("doc_id") % MEDIA_SAMPLE_MOD == 0))
    return media.mapInPandas(_resize(RESIZE_STRIDE), schema=RESIZE_SCHEMA)


BINARY_INGEST_MOD = 5  # stage 1/5 of docs as raw files (fixture-sized)


def corpus_stage_key(documents: DataFrame) -> str:
    """Content fingerprint of the staged subset (row count + doc_id sum
    + crc32-of-text sum over the sampled docs — still one small
    aggregate scan). Staging dirs MUST be keyed by this, not by the
    source path alone: a regenerated corpus at the same path (or two
    corpora whose dirs share a basename) would otherwise satisfy the
    idempotence marker and serve another corpus's files. The crc term
    makes the key CONTENT-sensitive — count/id/length-preserving edits
    (the exact regeneration case the key exists for) change it."""
    row = (documents.where((F.col("doc_id") % BINARY_INGEST_MOD == 0)
                           & F.col("text").isNotNull())
           .agg(F.count("*").alias("n"),
                F.sum("doc_id").alias("sid"),
                F.sum(F.crc32(F.col("text").cast("binary"))).alias("sch"))
           .collect()[0])
    return f"{row['n']}-{row['sid']}-{row['sch']}"


def stage_binary_files(documents: DataFrame, stage_dir: str) -> str:
    """Materialize a deterministic subset of documents as ONE raw file
    per doc (text writer + partitionBy) — the on-disk layout of a binary
    media lake, written by a distributed job (never a driver loop).
    Idempotent: the writer's ``_SUCCESS`` marker gates re-staging, the
    same commit contract as sinks/idempotent.py."""
    import os
    if not os.path.exists(os.path.join(stage_dir, "_SUCCESS")):
        # NULL text = no blob to stage (the text writer throws on NULL
        # values); corpus_stage_key applies the same exclusion so the
        # content key always matches the staged file set.
        (documents.where((F.col("doc_id") % BINARY_INGEST_MOD == 0)
                         & F.col("text").isNotNull())
         .select("text", "doc_id")
         .write.mode("overwrite").partitionBy("doc_id").text(stage_dir))
    return stage_dir


def binary_file_ingest(spark, documents: DataFrame,
                       stage_dir: str) -> DataFrame:
    """Ingest raw files through Spark's ``binaryFile`` source — the real
    entry point for image/audio blobs at scale (each file becomes one row
    with ``content: binary``; ``spark.sql.files.maxPartitionBytes`` packs
    small files into balanced input splits, and the binary column flows
    straight into the mapInPandas decoders above). Emits one
    (doc_id, n_bytes, content_md5) row per file; doc_id is recovered from
    the partition path. md5 is bit-identical across engines (unlike
    xxhash64), so the full read path is oracle-checkable end to end: the
    text writer appends one ``\\n`` per doc, which the oracle mirrors."""
    stage_binary_files(documents, stage_dir)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "part-*")
        .option("recursiveFileLookup", "true")
        .load(stage_dir)
    )
    return raw.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint")
        .alias("doc_id"),
        F.length("content").cast("bigint").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def media_feature_stats(documents: DataFrame) -> DataFrame:
    """Aggregate the extracted features per first-byte class — bounded,
    oracle-checkable output."""
    return (
        media_features(documents)
        .groupBy("first_byte")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_bytes").cast("bigint").alias("sum_bytes"),
             F.sum("byte_sum").cast("bigint").alias("sum_byte_sum"))
    )
