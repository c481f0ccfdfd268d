"""Join operators: keyed shard correlation + relational joins.

The reference's only join-like primitives are positional stream zips
(PinionSystem / SlipWheel / GearBox, SURVEY.md §2.4). Re-expressed
Spark-first, the correlation is KEYED, not positional: shard streams meet
on doc_id with a time-bound condition — a watermarked stream-stream join
in streaming mode (streaming/pipeline.py ``run_streaming_shard_join``),
a plain equi-join (with Catalyst picking broadcast/sort-merge) in batch.

``shard_pair_join`` is the PinionSystem analog: two derived shard streams
(even seq = "wheel A", odd seq = "wheel B") joined per doc within a time
bound; the SlipWheel 1→k multiplicity falls out of the join cardinality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def split_shard_streams(tokens: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Derive the two 'gear wheels': even-seq and odd-seq shard streams."""
    even = tokens.where(F.col("seq") % 2 == 0).select(
        "doc_id", F.col("seq").alias("seq_a"), F.col("n_tok").alias("n_tok_a"),
        F.col("ts").alias("ts_a"))
    odd = tokens.where(F.col("seq") % 2 == 1).select(
        "doc_id", F.col("seq").alias("seq_b"), F.col("n_tok").alias("n_tok_b"),
        F.col("ts").alias("ts_b"))
    return even, odd


# Join bounds are module constants (the registry's oracle SQL hard-codes
# the same values); the streaming shard joins pair within MAX_GAP_SEC too.
MAX_GAP_SEC = 60  # shard pairs meet within ±this many seconds
INCIDENT_WINDOW_SEC = 120
TOP_CUSTOMERS_K = 10


def shard_pair_join(tokens: DataFrame) -> DataFrame:
    """Batch form of the doc_id shard correlation (PinionSystem analog).

    Inner equi-join on doc_id + time-bound |ts_a - ts_b| <= MAX_GAP_SEC;
    aggregated
    to a per-doc pair count + combined token volume so the result is a
    stable, SQL-checkable scalar set.
    """
    even, odd = split_shard_streams(tokens)
    pairs = even.join(odd, "doc_id").where(
        F.abs(F.col("ts_a").cast("long") - F.col("ts_b").cast("long"))
        <= MAX_GAP_SEC
    )
    return (
        pairs.groupBy("doc_id")
        .agg(F.count("*").alias("n_pairs"),
             F.sum(F.col("n_tok_a") + F.col("n_tok_b")).cast("bigint").alias("pair_tok"))
    )


def incident_attribution(events: DataFrame) -> DataFrame:
    """Interval-containment join via time bucketing (bin join): every
    ``error`` event opens an incident window [ts, ts +
    INCIDENT_WINDOW_SEC); all
    events falling inside a window are attributed to that incident.

    A naive implementation is a non-equi theta join (cross product +
    range filter) — the classic 100 TB killer. Instead both sides get an
    equi-join key: intervals are exploded to the (at most two)
    INCIDENT_WINDOW_SEC-wide time bins they overlap, probe events carry their
    single bin, and the exact containment predicate runs AFTER the
    equi-join. Each (incident, event) pair meets exactly once (the event
    lives in one bin), so no dedup pass is needed; shuffle volume is
    O(rows), never O(rows²). This is the same bin-join rewrite Spark's
    own range-join hints perform.
    """
    err = events.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.unix_timestamp("ts").alias("w_start"))
    err = err.withColumn("w_end", F.col("w_start") + INCIDENT_WINDOW_SEC)
    # an interval of width INCIDENT_WINDOW_SEC overlaps exactly bin(start) and,
    # if it crosses the boundary, bin(start)+1
    spans = err.select(
        "incident_id", "w_start", "w_end",
        F.explode(F.array_distinct(F.array(
            F.expr(f"w_start div {INCIDENT_WINDOW_SEC}"),
            F.expr(f"(w_end - 1) div {INCIDENT_WINDOW_SEC}")))).alias("bin"))
    probe = events.select(
        "event_id", "user_id", "value",
        F.unix_timestamp("ts").alias("ets"))
    probe = probe.withColumn("bin", F.expr(f"ets div {INCIDENT_WINDOW_SEC}"))
    pairs = (
        spans.join(probe, "bin")
        .where((F.col("ets") >= F.col("w_start"))
               & (F.col("ets") < F.col("w_end")))
    )
    return (
        pairs.groupBy("incident_id")
        .agg(F.count("*").alias("n_attributed"),
             F.countDistinct("user_id").alias("n_users"),
             F.sum(F.col("value").cast("decimal(18,2)"))
             .cast("decimal(18,2)").cast("double").alias("sum_value"))
    )


def top_customers_by_revenue(customer: DataFrame,
                             orders: DataFrame) -> DataFrame:
    """Relational join + top-k. Catalyst broadcasts the small side under
    AQE; the limit is pushed as TakeOrderedAndProject (no full sort)."""
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"),
             F.count("*").alias("n_orders"))
    )
    return (
        customer.join(rev, customer.c_custkey == rev.o_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(TOP_CUSTOMERS_K)
    )


def region_rollup(customer: DataFrame, nation: DataFrame,
                  region: DataFrame) -> DataFrame:
    """Multi-way dim join + ROLLUP. nation/region are broadcast
    (dimension tables, tiny at any scale)."""
    joined = (
        customer
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"),
             F.round(F.sum("c_acctbal"), 2).alias("sum_bal"))
    )
