"""Per-doc ordering: the analog of Movement's PHASE ONE→TWO barrier.

The reference never processes an edge before all vertices are durably
written (Task.java:54-63 sequential phases; RunningPhase.get() blocks;
dangling edges are fatal-or-dropped, TinkerPopGraphEncoder.java:103-110).
Our payload is shard rows of a document; the preserved semantic is:
*a document's merged output is only emitted once its shards are assembled
in ``seq`` order* — never interleaved, never partially ordered.

Two implementations of the same contract:

- ``merge_doc_shards`` (batch): pure DataFrame ops — sort_array over
  struct(seq, tokens) then flatten. Stays JVM-side, shuffles once on
  doc_id. Used for the correctness oracle.
- ``OrderedDocAssembler`` (streaming): applyInPandasWithState keeping
  per-doc state {next expected seq, buffered out-of-order shards}; emits
  the merged doc when all shards 0..n-1 have arrived, times out on the
  event-time watermark (late shards are dropped-and-counted, the
  dangling-edge policy). State stays O(open docs), not O(all docs).
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from movement_spark.sources.tokens import TS_MOD

# ---------------------------------------------------------------- batch ----

def merge_doc_shards(tokens: DataFrame) -> DataFrame:
    """Assemble each doc's shards in seq order into one merged token array.

    sort_array on struct(seq, ...) sorts lexicographically by the first
    field, giving deterministic shard order without a per-group sort —
    one shuffle on doc_id, all JVM-side.
    """
    return (
        tokens
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("seq", "tokens"))).alias("shards"),
             F.count("*").alias("n_shard"),
             F.sum("n_tok").cast("bigint").alias("total_tok"))
        .select("doc_id", "n_shard", "total_tok",
                F.flatten("shards.tokens").alias("merged"))
    )


def merged_doc_check(tokens: DataFrame) -> DataFrame:
    """Order-sensitive scalar digest of the merged arrays.

    poly = sum_i merged[i] * (i+1)  — flips if any two tokens swap, so it
    certifies shard ORDER, not just content. This is the per-row
    "token-array equality" invariant of BASELINE.json reduced to a
    SQL-comparable scalar.
    """
    merged = merge_doc_shards(tokens)
    return merged.select(
        "doc_id", "n_shard", "total_tok", *doc_digest_cols())


def doc_digest_cols() -> list:
    """THE digest expressions of the parity contract, over a ``merged``
    token-array column: ``tok_sum`` (content) and ``poly_hash``
    (order). One definition shared by merged_doc_check and both
    streaming assembler pipelines — streaming-vs-batch parity hinges
    on the (i+1) weight and the bigint casts staying identical in
    every site, so they exist exactly once."""
    return [
        F.expr("aggregate(merged, 0L, (acc, x) -> acc + cast(x as bigint))")
        .alias("tok_sum"),
        F.expr(
            "aggregate(transform(merged, (x, i) -> cast(x as bigint) * (i + 1)),"
            " 0L, (acc, x) -> acc + x)"
        ).alias("poly_hash"),
    ]


# ------------------------------------------------------------ streaming ----

MERGED_SCHEMA = StructType([
    StructField("doc_id", StringType()),
    StructField("n_shard", IntegerType()),
    StructField("total_tok", LongType()),
    StructField("merged", ArrayType(IntegerType())),
])

# state: shards seen so far (seq ids + token arrays) and expected count
STATE_SCHEMA = StructType([
    StructField("seqs", ArrayType(IntegerType())),
    StructField("toks", ArrayType(ArrayType(IntegerType()))),
    StructField("expected", IntegerType()),
])

# `expected` sentinel marking a doc already emitted: its state row stays
# as an empty-array tombstone until the event-time timeout clears it,
# shielding the sink from at-least-once duplicates arriving after
# completion (fresh state + a later timeout would otherwise emit a
# spurious audit row over the real merged row).
_COMPLETED = -2


def _assemble(key, pdfs: Iterable[pd.DataFrame], state,
              emit_incomplete: bool = False):
    """applyInPandasWithState function: buffer shards per doc, emit when
    the doc is complete (all seqs 0..expected-1 present), drop on timeout.

    Expected shard count travels with the data (column ``n_shards``); a doc
    whose shards never complete is evicted by the event-time timeout once
    the watermark passes, so state is bounded by open docs only.
    With ``emit_incomplete`` the eviction becomes OBSERVABLE: the timeout
    branch emits an audit row (merged=[], total_tok = -expected,
    n_shard = shards actually received) instead of dropping silently —
    the reference's drop-and-COUNT half of the dangling policy
    (TinkerPopGraphEncoder.java:103-110).
    """
    (doc_id,) = key
    if state.hasTimedOut:
        # Watermark passed. A COMPLETED marker (see below) just expires
        # silently; an incomplete doc is the drop-and-count policy
        # (the streaming analog of dropDanglingEdges).
        if emit_incomplete and state.exists:
            seqs, _, expected = state.get
            if expected != _COMPLETED:
                state.remove()
                yield pd.DataFrame({
                    "doc_id": [doc_id],
                    "n_shard": [len(list(seqs))],
                    "total_tok": [-int(expected)],
                    "merged": [[]],
                })
                return
        state.remove()
        return
    if state.exists:
        seqs, toks, expected = state.get
        if expected == _COMPLETED:
            # Doc already emitted; this batch is an at-least-once
            # duplicate arriving AFTER completion. Without the marker it
            # would resurrect fresh state and (under emit_incomplete)
            # later emit a spurious audit row that overwrites the real
            # merged row in the doc_id-keyed sink. Ignore; the marker
            # expires with its existing timeout.
            return
        seqs, toks = list(seqs), list(toks)
    else:
        seqs, toks, expected = [], [], -1
    max_ts = None
    for pdf in pdfs:
        if pdf.empty:
            continue
        # Columnar per-batch path (no per-row Python): dedup shards by
        # seq keep-first within the batch, mask out seqs already held in
        # state, then bulk-extend state with C-level tolist conversions.
        batch = pdf.drop_duplicates(subset=["seq"], keep="first")
        fresh = batch[~batch["seq"].isin(seqs).to_numpy()]
        seqs.extend(np.asarray(fresh["seq"], dtype=np.int64).tolist())
        toks.extend(np.asarray(t, dtype=np.int64).tolist()
                    for t in fresh["tokens"])
        expected = int(pdf["n_shards"].iloc[-1])
        ts = pdf["ts"].max()
        if max_ts is None or ts > max_ts:
            max_ts = ts
    out = None
    if expected > 0 and len(seqs) >= expected and set(seqs) >= set(range(expected)):
        order = np.argsort(np.asarray(seqs, dtype=np.int64), kind="stable")
        merged = np.concatenate(
            [np.asarray(toks[k], dtype=np.int64) for k in order]
        ).astype(np.int32).tolist() if len(order) else []
        # Leave a tiny COMPLETED marker (empty arrays) instead of
        # removing state outright: it absorbs post-completion duplicate
        # deliveries until the watermark clears it via the same timeout.
        state.update(([], [], _COMPLETED))
        out = pd.DataFrame({
            "doc_id": [doc_id],
            "n_shard": [len(seqs)],
            "total_tok": [len(merged)],
            "merged": [merged],
        })
    else:
        # keep the doc around until the watermark passes its last shard
        # by ASSEMBLE_TIMEOUT_MS
        state.update((seqs, toks, expected))
    if max_ts is not None:
        # ONE clamp for both the completed marker and the open doc
        # (previously duplicated per branch — a drift hazard): strictly
        # above the current watermark, because Spark rejects an
        # event-time timeout at/below it (a small timeout + long
        # watermark delay would crash the query)
        state.setTimeoutTimestamp(
            max(int(max_ts.timestamp() * 1000) + ASSEMBLE_TIMEOUT_MS,
                state.getCurrentWatermarkMs() + 1))
    if out is not None:
        yield out


# Event-time settings of both assemblers. WATERMARK is the delay of
# every token-stream pipeline too (streaming/pipeline.py imports it).
# Shard timestamps within one doc can wrap the full TS_MOD hour, so the
# JVM assembler's session gap and the Python assembler's eviction grace
# both cover TS_MOD plus slack — state still stays O(open docs).
WATERMARK = "10 minutes"
ASSEMBLE_GAP = "62 minutes"
ASSEMBLE_TIMEOUT_MS = (TS_MOD + 120) * 1000


def ordered_doc_assembler_jvm(shards: DataFrame) -> DataFrame:
    """All-JVM variant of the PHASE barrier: each doc's ordered merge is
    a session-window streaming aggregate keyed (session_window(ts,
    ASSEMBLE_GAP), doc_id) that emits when the watermark closes the
    session — the doc is "complete" once it has been quiet for the gap.

    The trade against ``ordered_doc_assembler`` (applyInPandasWithState):
    completion latency rises to gap + watermark delay, but there is NO
    Python boundary and no per-group Python invocation — sort_array /
    collect_list / flatten run inside the native streaming-agg state
    store, so throughput scales with the JVM. Measured (local[32],
    bench/cep_throughput.py): 89.3k rows/s vs the Python stage's 5.1k on
    1M rows across 400k docs (17×; per-group Python invocation cost
    grows with key count), 32.4k vs 20.4k on 64-shard hot docs (1.6×;
    there state ser/de dominates both). This is the 10^12-doc throughput
    path; the Python stage remains the low-latency emit-on-complete CEP
    path — both oracle-gated to the same merged_doc_check digest.

    ASSEMBLE_GAP must exceed the max intra-doc event-time gap so every doc is
    exactly ONE session. Input is assumed exactly-once (put
    dropDuplicatesWithinWatermark upstream under at-least-once
    delivery). Returns (w, doc_id, n_shard, total_tok, merged); the
    caller cuts flush sentinels by a predicate on ``w`` (the window
    column — anything else is pushed below the watermark node).
    """
    return (
        shards
        .withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", ASSEMBLE_GAP).alias("w"), "doc_id")
        .agg(F.count("*").cast("int").alias("n_shard"),
             F.flatten(F.sort_array(
                 F.collect_list(F.struct("seq", "tokens"))).tokens)
             .alias("merged"))
        .select("w", "doc_id", "n_shard",
                F.size("merged").cast("bigint").alias("total_tok"), "merged")
    )


def ordered_doc_assembler(shards: DataFrame,
                          emit_incomplete: bool = False) -> DataFrame:
    """Streaming per-doc ordering stage (PHASE barrier analog).

    ``shards`` must be a streaming DataFrame with columns
    (doc_id, seq, tokens, n_shards, ts). ASSEMBLE_TIMEOUT_MS is the grace
    period after a doc's last-seen shard before the incomplete doc is
    evicted (drop-and-count) — the max event-time span of one doc plus
    slack. Requires append output via foreachBatch downstream.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def assemble_with_margin(key, pdfs, state):
        yield from _assemble(key, pdfs, state,
                             emit_incomplete=emit_incomplete)

    return (
        shards
        .withWatermark("ts", WATERMARK)
        .groupBy("doc_id")
        .applyInPandasWithState(
            assemble_with_margin,
            outputStructType=MERGED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
