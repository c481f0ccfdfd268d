"""Seeded input generator for the streaming benchmark.

One process, numpy + pyarrow only: the program under test receives the
parquet files this module writes and nothing else. Every file is in the
staged token-stream shape (``STREAM_SCHEMA``) and honours the pipelines'
input contract:

- event times fall inside ``[EPOCH_2026, EPOCH_2026 + TS_MOD)``;
- a doc's shards span at most ``SPAN_MAX_S`` seconds, well inside the
  JVM assembler's 62-minute session gap;
- ``n_shards`` equals the doc's real shard count;
- a displaced row is delivered at most ``DISPLACE_MAX_S`` of event time
  after its in-order position, so with the 10-minute watermark no row is
  late and results do not depend on micro-batch boundaries;
- bulk stages end with the two flush-sentinel files built by the
  program's own ``_token_sentinel_rows``, with later mtimes.

The same seed gives byte-identical files; only mtimes depend on the
wall clock.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from movement_spark.sources.tokens import EPOCH_2026, TOK_MOD, TS_MOD
from movement_spark.streaming.pipeline import _token_sentinel_rows

ARROW_SCHEMA = pa.schema([
    ("doc_id", pa.string()),
    ("seq", pa.int32()),
    ("tokens", pa.list_(pa.int32())),
    ("n_tok", pa.int32()),
    ("source", pa.string()),
    ("ts", pa.timestamp("us")),
    ("n_shards", pa.int32()),
])

N_SOURCES = 20
TOK_MAX = 512           # longest shard, in tokens
SPAN_MAX_S = 300        # max event-time spread of one doc's shards
DISPLACE_MAX_S = 300    # max delivery delay of a displaced row (< watermark)


@dataclass(frozen=True)
class Shape:
    """Traffic shape of one bulk workload."""
    docs: int                  # ordinary 1-4-shard docs
    files: int                 # data files (before duplication)
    hot_docs: int = 0          # docs with ~64 shards
    shard_span_s: int = 30     # event-time spread of one doc's shards
    disorder: float = 0.0      # share of rows displaced later in delivery
    duplicate: bool = False    # deliver every data file twice
    tok_max: int = TOK_MAX     # shard length is uniform in 1..tok_max


def _docs(rng: np.random.Generator, n_docs: int, hot_docs: int,
          doc_base: int) -> tuple[np.ndarray, np.ndarray]:
    """(doc number, shard count) per doc; hot docs first."""
    counts = np.concatenate([
        rng.integers(56, 73, size=hot_docs),
        rng.integers(1, 5, size=n_docs)]).astype(np.int32)
    return np.arange(doc_base, doc_base + counts.size), counts


def _rows(rng: np.random.Generator, doc_no: np.ndarray, counts: np.ndarray,
          t_lo: int, t_hi: int, span_s: int, tok_max: int = TOK_MAX) -> dict:
    """Shard rows (columns as numpy arrays) for the given docs, with doc
    start times uniform in [t_lo, t_hi - span_s) seconds after the epoch
    and shard times uniform in the doc's span, so not in ``seq`` order."""
    if span_s > SPAN_MAX_S:
        raise ValueError(f"shard span {span_s}s exceeds {SPAN_MAX_S}s")
    n_rows = int(counts.sum())
    doc_of_row = np.repeat(np.arange(doc_no.size), counts)
    starts = np.cumsum(counts) - counts
    seq = (np.arange(n_rows) - np.repeat(starts, counts)).astype(np.int32)
    t0 = rng.integers(t_lo, t_hi - span_s, size=doc_no.size)
    offset = rng.integers(0, span_s + 1, size=n_rows)
    return {
        "doc": doc_no[doc_of_row], "seq": seq,
        "n_tok": rng.integers(1, tok_max + 1, size=n_rows).astype(np.int32),
        "source": rng.integers(0, N_SOURCES, size=doc_no.size)[doc_of_row],
        "ts": (t0[doc_of_row] + offset).astype(np.int64),
        "n_shards": counts[doc_of_row],
        "hot": np.repeat(counts > 4, counts),
    }


def _table(rows: dict, idx: np.ndarray, rng_tok: np.random.Generator
           ) -> pa.Table:
    n_tok = rows["n_tok"][idx]
    offsets = np.zeros(idx.size + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng_tok.integers(0, TOK_MOD, size=int(offsets[-1]),
                              dtype=np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))
    doc_ids = np.char.add("d", rows["doc"][idx].astype(str))
    sources = np.char.add("s", np.char.zfill(
        rows["source"][idx].astype(str), 2))
    ts_us = (EPOCH_2026 + rows["ts"][idx]) * 1_000_000
    return pa.Table.from_arrays([
        pa.array(doc_ids, pa.string()),
        pa.array(rows["seq"][idx], pa.int32()),
        tokens,
        pa.array(n_tok, pa.int32()),
        pa.array(sources, pa.string()),
        pa.array(ts_us, pa.timestamp("us")),
        pa.array(rows["n_shards"][idx], pa.int32()),
    ], schema=ARROW_SCHEMA)


def write_file(table: pa.Table, path: str, mtime: float) -> int:
    """Write one parquet file with the given mtime; returns its size."""
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))
    return os.path.getsize(path)


def _sentinel_tables() -> list[pa.Table]:
    out = []
    for k in range(2):
        pdf, schema = _token_sentinel_rows(k)
        out.append(pa.Table.from_pandas(pdf, schema=schema,
                                        preserve_index=False))
    return out


def _out_of_order_share(ts_delivered: np.ndarray) -> float:
    """Share of rows whose event time is below the max event time of
    every row delivered before them."""
    if ts_delivered.size < 2:
        return 0.0
    prev_max = np.maximum.accumulate(ts_delivered)[:-1]
    return float(np.mean(ts_delivered[1:] < prev_max))


def generate_bulk(stage_dir: str, shape: Shape, seed: int) -> dict:
    """Write one bulk stage: data files in delivery order (each file
    twice in a row when ``shape.duplicate``), then two flush sentinels.
    Returns the traffic record: row counts and the measured shares of
    hot-doc, duplicated and out-of-order rows."""
    os.makedirs(stage_dir, exist_ok=True)
    rng = np.random.default_rng([seed, shape.docs, shape.files])
    doc_no, counts = _docs(rng, shape.docs, shape.hot_docs, 0)
    rows = _rows(rng, doc_no, counts, 0, TS_MOD, shape.shard_span_s,
                 shape.tok_max)
    n = rows["ts"].size
    key = rows["ts"].astype(np.float64)
    moved = rng.random(n) < shape.disorder
    key[moved] += rng.integers(1, DISPLACE_MAX_S + 1, size=int(moved.sum()))
    order = np.lexsort((rows["seq"], rows["doc"], key))
    copies = 2 if shape.duplicate else 1
    base = time.time() - shape.files * copies - 62
    rng_tok = np.random.default_rng([seed, 1])
    n_bytes, k = 0, 0
    for i, idx in enumerate(np.array_split(order, shape.files)):
        table = _table(rows, idx, rng_tok)
        for c in range(copies):
            n_bytes += write_file(table, os.path.join(
                stage_dir, f"part-{i:04d}-{c}.parquet"), base + k)
            k += 1
    for j, table in enumerate(_sentinel_tables()):
        write_file(table, os.path.join(
            stage_dir, f"part-{shape.files + j:04d}-s.parquet"), base + k)
        k += 1
    return {
        "rows": n * copies,                # delivered, duplicates included
        "unique_rows": n,
        "docs": int(doc_no.size),
        "files": shape.files * copies,
        "bytes": n_bytes,
        "hot_doc_row_share": float(rows["hot"].mean()),
        "dup_share": 1.0 - 1.0 / copies,
        # over first deliveries: a redelivered copy is a duplicate, not
        # an out-of-order row
        "disorder_share": _out_of_order_share(rows["ts"][order]),
    }


@dataclass(frozen=True)
class LiveShape:
    """Traffic shape of the open-loop workload: ``docs_per_file`` 1-4-shard
    docs per landed file; file k covers event-time slice k."""
    docs_per_file: int
    max_files: int = 60        # event-time slices available in TS_MOD
    shard_span_s: int = 30


def live_tables(shape: LiveShape, seed: int, n_files: int
                ) -> list[pa.Table]:
    """The files the open-loop generator lands, in landing order. Each
    file holds whole docs with shards shuffled out of seq order; file k's
    event times lie in slice k, so event time advances with landing."""
    if n_files > shape.max_files:
        raise ValueError(f"{n_files} files exceed the {shape.max_files} "
                         "event-time slices")
    rng = np.random.default_rng([seed, shape.docs_per_file, 7])
    rng_tok = np.random.default_rng([seed, 2])
    width = TS_MOD // shape.max_files
    out = []
    for k in range(n_files):
        doc_no, counts = _docs(rng, shape.docs_per_file, 0,
                               k * shape.docs_per_file)
        rows = _rows(rng, doc_no, counts, k * width, (k + 1) * width,
                     shape.shard_span_s)
        out.append(_table(rows, rng.permutation(rows["ts"].size), rng_tok))
    return out


def live_traffic(tables: list[pa.Table]) -> dict:
    """Traffic record of landed open-loop files, as ``generate_bulk``'s."""
    ts = np.concatenate([t.column("ts").to_numpy().astype(np.int64)
                         for t in tables])
    n_shards = np.concatenate([t.column("n_shards").to_numpy()
                               for t in tables])
    return {
        "rows": int(ts.size), "files": len(tables),
        "hot_doc_row_share": float(np.mean(n_shards > 4)),
        "dup_share": 0.0,
        "disorder_share": _out_of_order_share(ts),
    }
