"""Streaming CEP row-pattern matching — MATCH_RECOGNIZE, stateful form.

The batch form is relational.pattern_match_stats: encode each user's
ordered event history as a symbol string, scan it with leftmost
non-overlapping regex semantics (SQL:2016 ONE ROW PER MATCH / SKIP PAST
LAST ROW). This module is the STREAMING half of that operator: an
applyInPandasWithState stage accumulates each user's events and emits
the per-user pattern statistics once the event-time watermark passes
the user's last event by CLOSE_MS — activity-EPISODE close
semantics, the per-user analog of a session window. A user whose
consecutive events are never further apart than CLOSE_MS has
exactly one episode, so the emitted rows equal the batch whole-history
oracle — which is how the parity gate runs it (the fixture's max
intra-user gap is ~4.2 days; CLOSE_MS is 10 days).

Scale shape: state per OPEN user is their current episode's (ts,
event_id, symbol) arrays — bounded by episode length, not history;
the eviction timeout is reset on every batch the user appears in, so
closed users hold no state. Per-batch work is columnar (numpy appends);
the regex runs once per EMITTED user, never per row.
"""

from __future__ import annotations

import re
from typing import Iterable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

from movement_spark.operators.relational import CEP_PATTERN

PATTERN_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("n_matches", IntegerType()),
    StructField("sum_match_len", IntegerType()),
    StructField("max_match_len", IntegerType()),
])

# per-user episode buffer: event-time (epoch micros), tiebreak id, symbol
_STATE_SCHEMA = StructType([
    StructField("ts_us", ArrayType(LongType())),
    StructField("eid", ArrayType(LongType())),
    StructField("sym", ArrayType(StringType())),
])

CLOSE_MS = 10 * 24 * 3600 * 1000  # 10 days of inactivity


def _emit_stats(user_id: int, ts_us, eid, sym, pattern: str) -> pd.DataFrame:
    order = np.lexsort((np.asarray(eid, dtype=np.int64),
                        np.asarray(ts_us, dtype=np.int64)))
    seq = "".join(np.asarray(sym, dtype=object)[order].tolist())
    matches = re.findall(pattern, seq)
    lens = [len(m) for m in matches]
    return pd.DataFrame({
        "user_id": [user_id],
        "n_events": [len(seq)],
        "n_matches": [len(matches)],
        "sum_match_len": [sum(lens)],
        "max_match_len": [max(lens) if lens else 0],
    })


def _accumulate(key, pdfs: Iterable[pd.DataFrame], state,
                pattern: str, close_after_ms: int):
    """applyInPandasWithState function: buffer (ts, event_id, symbol)
    per user; the ONLY emission is the episode close on event-time
    timeout — pattern matching needs the episode complete, exactly like
    doc assembly needs all shards (ordering._assemble), but with an
    inactivity close instead of a count."""
    (user_id,) = key
    if state.hasTimedOut:
        ts_us, eid, sym = state.get
        state.remove()
        yield _emit_stats(user_id, ts_us, eid, sym, pattern)
        return
    if state.exists:
        ts_us, eid, sym = (list(v) for v in state.get)
    else:
        ts_us, eid, sym = [], [], []
    for pdf in pdfs:
        if pdf.empty:
            continue
        ts_us.extend((pdf["ts"].to_numpy().astype("datetime64[us]")
                      .astype(np.int64)).tolist())
        eid.extend(np.asarray(pdf["event_id"], dtype=np.int64).tolist())
        sym.extend(pdf["event_type"].str[:1].tolist())
    if not ts_us:
        # all-empty batch with no prior buffer: nothing to schedule
        # (and max() below would raise) — leave no state behind
        return
    state.update((ts_us, eid, sym))
    # Spark rejects an event-time timeout at or below the current
    # watermark: when close_after_ms is smaller than the watermark
    # delay (e.g. close=60s under watermark='1 day'), clamp the close
    # to just past the watermark instead of crashing the query — the
    # episode then closes at the earliest moment Spark allows.
    timeout_ms = max(ts_us) // 1000 + close_after_ms
    wm_ms = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(timeout_ms, wm_ms + 1))


def user_pattern_stats(events: DataFrame,
                       watermark: str = "1 day") -> DataFrame:
    """Stateful streaming MATCH_RECOGNIZE (CEP_PATTERN) over per-user
    event streams.

    ``events`` must be a streaming DataFrame with (user_id, event_id,
    event_type, ts). Emits one (user_id, n_events, n_matches,
    sum_match_len, max_match_len) row per closed episode. Append mode
    via foreachBatch downstream.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def fn(key, pdfs, state):
        yield from _accumulate(key, pdfs, state, CEP_PATTERN, CLOSE_MS)

    return (
        # CEP-valid events only (same exclusion as the batch matcher
        # and the shared oracle): a NULL type made the symbol join
        # throw inside the state function, and a NULL ts (NaT) poisons
        # episode ordering and the event-time timeout.
        events.where(F.col("user_id").isNotNull()
                     & F.col("ts").isNotNull()
                     & F.col("event_type").isNotNull())
        .select("user_id", "event_id", "event_type", "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=PATTERN_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
