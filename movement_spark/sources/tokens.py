"""The engine's primary input: pre-tokenized training sequences.

Input shape per BASELINE.json ``input_hint``:
``(doc_id: string, tokens: array<int32>, n_tok: int32, source: string)``
plus ``ts`` (event time for watermarks/windows) and ``seq`` (shard index
within a doc — drives the per-doc ordering stage, the analog of the
reference's PHASE ONE/TWO vertex-before-edge barrier, Task.java:54-63).

The table is DERIVED deterministically from the driver-provided
``documents`` parquet so that the exact same rows are computable by:
  1. Spark (``token_rows`` below, pure built-in functions — JVM-side,
     codegen'd),
  2. the DuckDB oracle (TOKEN_SEQ_DUCKDB_CTE below).
The benchmark generator (movement_spark.sources.synth) feeds the same
``token_rows`` a ``spark.range`` doc universe instead of ``documents``.

Derivation (all integer arithmetic, no floats, no RNG):
  did       = documents.doc_id                       (int64)
  n_shards  = 1 + did % 4                            (1..4 shards per doc)
  seq       = 0 .. n_shards-1
  n_tok     = 1 + (did*7 + seq*13) % 120             (1..120 tokens)
  tokens[i] = (did*2654435761 + seq*1000003 + i*97) % 50261, cast to int32
  ts        = epoch 1767225600 (+2026-01-01T00:00:00Z)
              + (did*37 + seq*11) % 3600 seconds     (one hour of event time)
  doc_id    = 'd' || did
  source    = documents.source
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH_2026 = 1767225600  # 2026-01-01T00:00:00Z

# Derivation constants — keep in sync with the SQL CTE below.
TOK_MULT = 2654435761  # Knuth multiplicative constant
SEQ_MULT = 1000003
POS_MULT = 97
TOK_MOD = 50261
LEN_MOD = 120
TS_MOD = 3600


# doc_id <-> did codec. The string form is 'd' || did (see derivation
# above). Encode/decode live HERE, next to the definition, so a format
# change updates every consumer at once instead of silently mis-parsing
# a hard-coded substring elsewhere (ADVICE r02).
def doc_id_from_did(did_col) -> "F.Column":
    """'d<did>' doc_id string from an int64 did column."""
    return F.concat(F.lit("d"), F.col(did_col).cast("string")
                    if isinstance(did_col, str) else did_col.cast("string"))


def did_from_doc_id(doc_id_col) -> "F.Column":
    """Inverse of doc_id_from_did: int64 did from the 'd<did>' string."""
    col = F.col(doc_id_col) if isinstance(doc_id_col, str) else doc_id_col
    return F.substring(col, 2, 19).cast("bigint")


def token_rows(docs: DataFrame, len_mod: int = LEN_MOD) -> DataFrame:
    """THE token-row derivation: (doc_id, did, seq, tokens, n_tok,
    source, ts) from a (did, source) frame — the documents table for
    ``token_sequences``, a ``spark.range`` universe for the benchmark
    generator. ``len_mod`` sets shard length 1..len_mod."""
    return (
        docs
        .select("did", "source",
                F.explode(F.expr("sequence(0, cast(did % 4 as int))")).alias("seq"))
        .select(
            doc_id_from_did("did").alias("doc_id"),
            F.col("did"),
            F.col("seq").cast("int").alias("seq"),
            F.expr(
                f"transform(sequence(0, cast((did*7 + seq*13) % {len_mod} as int)), "
                f"i -> cast((did*{TOK_MULT} + seq*{SEQ_MULT} + i*{POS_MULT}) "
                f"% {TOK_MOD} as int))").alias("tokens"),
            (1 + (F.col("did") * 7 + F.col("seq") * 13) % len_mod)
            .cast("int").alias("n_tok"),
            F.col("source"),
            F.timestamp_seconds(
                F.lit(EPOCH_2026) + (F.col("did") * 37 + F.col("seq") * 11) % TS_MOD
            ).alias("ts"),
        )
    )


# Derived-table cache, keyed by (Spark application, sf_dir). The token
# table is the shared input of ~25 registered queries; a production
# deployment materializes this derivation ONCE as a real table (it IS
# the north rule's input table) — the session-scoped persist is the
# local analog, so downstream queries re-scan the columnar cache
# instead of re-running the explode+array build. (Measured honestly:
# the warm derivation is cheap, so this trims seconds, not minutes,
# off the sf0.01 gate — the win grows with SF.) Keyed by applicationId
# so a restarted session never sees another session's cached plan.
_TOKEN_CACHE: dict[tuple[str, str], DataFrame] = {}


def token_sequences(spark: SparkSession, sf_dir: str,
                    keep_did: bool = False) -> DataFrame:
    """Derive the token-sequence table from ``documents`` — fully JVM-side.

    Every expression is a Spark built-in (sequence/transform/explode), so
    the whole derivation stays inside WholeStageCodegen with zero Python.
    The derived frame is persisted per (application, sf_dir) — see
    ``_TOKEN_CACHE`` above.
    """
    from pyspark import StorageLevel

    key = (spark.sparkContext.applicationId, sf_dir)
    base = _TOKEN_CACHE.get(key)
    if base is None:
        base = token_rows(spark.read.parquet(f"{sf_dir}/documents.parquet")
                          .select(F.col("doc_id").alias("did"), "source"))
        _TOKEN_CACHE[key] = base
    # a memo hit may be a frame that clearCache() or an unpersist
    # dropped: ask the session's cache manager, and persist it again
    # when it holds nothing
    level = base.storageLevel
    if not (level.useMemory or level.useDisk or level.useOffHeap):
        base.persist(StorageLevel.MEMORY_AND_DISK)
    return base if keep_did else base.drop("did")


# DuckDB mirror of token_sequences(); prepend to every oracle query that
# consumes the token table. unnest(range(0, n)) fans each doc out to its
# n shards (range is exclusive-upper = Spark sequence(0, n-1)).
TOKEN_SEQ_DUCKDB_CTE = f"""
token_shards AS (
  SELECT d.doc_id AS did, d.source AS source,
         unnest(range(0, 1 + d.doc_id % 4)) AS seq
  FROM documents d
),
token_sequences AS (
  SELECT 'd' || CAST(s.did AS VARCHAR)                       AS doc_id,
         s.did                                               AS did,
         CAST(s.seq AS INT)                                  AS seq,
         list_transform(
           range(0, CAST(1 + (s.did*7 + s.seq*13) % {LEN_MOD} AS BIGINT)),
           i -> CAST((s.did*{TOK_MULT} + s.seq*{SEQ_MULT} + i*{POS_MULT}) % {TOK_MOD} AS INTEGER)
         )                                                   AS tokens,
         CAST(1 + (s.did*7 + s.seq*13) % {LEN_MOD} AS INT)   AS n_tok,
         s.source                                            AS source,
         make_timestamp(({EPOCH_2026} + (s.did*37 + s.seq*11) % {TS_MOD}) * 1000000) AS ts
  FROM token_shards s
)
"""


def with_token_cte(sql: str) -> str:
    """Wrap an oracle query body with the token_sequences CTE."""
    return f"WITH {TOKEN_SEQ_DUCKDB_CTE} {sql}"
