"""Spark-native synthetic token-stream generator for benchmarks.

Generates the token rows of sources.tokens from ``spark.range`` — fully
parallel, no driver-side data generation, no dependency on the
documents table — so benchmark input scales to any row count without a
single-threaded bottleneck (SURVEY.md §7 risk 5).

The rows come from the same ``token_rows`` derivation, so invariants
(n_tok == len(tokens), value formula) are identical; only the doc-id
universe is synthetic (did = 0..n_docs-1, source = 'src' || did % 20).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from movement_spark.sources.tokens import LEN_MOD, token_rows
from movement_spark.streaming.pipeline import stage_token_rows

N_SOURCES = 20


def synth_token_sequences(spark: SparkSession, n_docs: int,
                          len_mod: int = LEN_MOD) -> DataFrame:
    """~2.5 × n_docs token rows (did included), generated entirely
    inside the JVM.

    ``len_mod`` sets shard length 1..len_mod (default matches the
    correctness fixture; benchmarks use 512 — the input_hint's upper
    bound — so per-row weight matches real pre-tokenized shards).
    """
    docs = spark.range(n_docs).select(
        F.col("id").alias("did"),
        F.concat(F.lit("src"), (F.col("id") % N_SOURCES).cast("string"))
        .alias("source"))
    return token_rows(docs, len_mod)


def stage_synth_stream(spark: SparkSession, n_docs: int, stage_dir: str,
                       n_files: int = 64, len_mod: int = LEN_MOD,
                       with_sig: bool = False) -> int:
    """Stage the synthetic stream through the pipelines' one token
    stager (``streaming.pipeline.stage_token_rows``): ``n_files``
    event-time-ordered chunk files, mtimes increasing in range order,
    then the two flush sentinels. ``with_sig`` stamps the per-shard
    MinHash signature column (the near-dup monitor's landing layout,
    NDSIG_STREAM_SCHEMA); the extra column is invisible to
    schema-projecting readers, so one sig-carrying stage serves every
    pipeline. Returns the number of real (non-sentinel) rows staged."""
    return stage_token_rows(synth_token_sequences(spark, n_docs, len_mod),
                            stage_dir, n_files, with_sig=with_sig)
