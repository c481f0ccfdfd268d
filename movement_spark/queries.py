"""Paired query registry: every operator as (Spark impl, DuckDB oracle).

This is the correctness backbone: for each named query we keep the Spark
DataFrame implementation and an ANSI-SQL oracle that DuckDB evaluates over
the same parquet tables. The driver (and tests/test_oracle_parity.py)
compares row counts + order-insensitive value hashes.

Hash-parity rules applied throughout (see SURVEY.md §5):
- window/timestamp outputs as epoch seconds (bigint), session tz = UTC;
- money sums through DECIMAL(18,4) then round(2) then DOUBLE (exact);
- integer division via explicit floor() (Spark cast truncates, DuckDB
  cast ROUNDS — never rely on cast);
- Spark lambda index i is 0-based, DuckDB's is 1-based;
- no engine hash builtins in checked values — only a*x+b mod p arithmetic;
- ranking tie-breaks on a NULLABLE key pin NULLS LAST on the Spark side
  (F.asc_nulls_last): Spark's ASC default is nulls-FIRST, DuckDB's is
  nulls-LAST, so a NULL-keyed row inside a tie group silently permutes
  ranks between engines (caught building hybrid_rrf_retrieval's legs
  against the degenerate corpus's NULL-doc_id row).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from movement_spark.operators import (
    chunking, dataset, dedup, joins, multimodal, relational, similarity,
    sketches, text, windows,
)
from movement_spark.operators.ordering import merged_doc_check
from movement_spark.session import tune_session
from movement_spark.sources.tables import load_table
from movement_spark.sources.tokens import (
    token_sequences, with_token_cte, TOKEN_SEQ_DUCKDB_CTE,
    TOK_MULT, SEQ_MULT, POS_MULT, TOK_MOD, LEN_MOD, TS_MOD, EPOCH_2026,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, sql: str | None):
    import functools

    def deco(fn: QueryFn) -> QueryFn:
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)
        _REGISTRY[name] = (wrapped, sql)
        return wrapped
    return deco


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# =====================================================================
# Token pipeline (north-rule core)
# =====================================================================

@register("tumbling_token_throughput", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       COUNT(DISTINCT doc_id) AS n_doc
FROM token_sequences
GROUP BY 1, 2
"""))
def q_tumbling(spark, sf_dir):
    return windows.tumbling_token_throughput(token_sequences(spark, sf_dir))


@register("sliding_token_throughput", with_token_cte("""
, offs AS (SELECT unnest([0, 1]) AS o)
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) - o * 300 AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences CROSS JOIN offs
GROUP BY 1, 2
"""))
def q_sliding(spark, sf_dir):
    return windows.sliding_token_throughput(token_sequences(spark, sf_dir))


@register("session_token_windows", with_token_cte("""
, ordered AS (
  SELECT doc_id, ts, n_tok,
         lag(ts) OVER (PARTITION BY doc_id ORDER BY ts) AS pts
  FROM token_sequences),
marked AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 90 SECONDS
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY doc_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT doc_id,
       CAST(epoch(MIN(ts)) AS BIGINT) AS session_start,
       CAST(epoch(MAX(ts)) AS BIGINT) + 90 AS session_end,
       COUNT(*) AS n_shard,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM islands GROUP BY doc_id, sid
"""))
def q_session(spark, sf_dir):
    return windows.session_token_windows(token_sequences(spark, sf_dir))


@register("merged_doc_check", with_token_cte("""
, merged AS (
  SELECT doc_id,
         COUNT(*) AS n_shard,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         flatten(list(tokens ORDER BY seq)) AS m
  FROM token_sequences GROUP BY doc_id)
SELECT doc_id, CAST(n_shard AS INT) AS n_shard, total_tok,
       CAST(list_sum(list_transform(m, x -> CAST(x AS BIGINT))) AS BIGINT) AS tok_sum,
       CAST(list_sum(list_transform(m, (x, i) -> CAST(x AS BIGINT) * i)) AS BIGINT) AS poly_hash
FROM merged
"""))
def q_merged(spark, sf_dir):
    df = merged_doc_check(token_sequences(spark, sf_dir))
    return df.withColumn("n_shard", F.col("n_shard").cast("int"))


@register("shard_pair_join", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b FROM token_sequences WHERE seq % 2 = 1)
SELECT e.doc_id AS doc_id, COUNT(*) AS n_pairs,
       CAST(SUM(e.n_tok_a + o.n_tok_b) AS BIGINT) AS pair_tok
FROM even e JOIN odd o ON e.doc_id = o.doc_id
WHERE abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY e.doc_id
"""))
def q_shard_join(spark, sf_dir):
    return joins.shard_pair_join(token_sequences(spark, sf_dir))


@register("work_chunk_stats", with_token_cte("""
SELECT CAST(did % 16 AS INT) AS bucket,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT doc_id) AS n_keys,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences GROUP BY 1
"""))
def q_chunks(spark, sf_dir):
    """WorkChunkDriver observability (WORK_CHUNKS counter analog,
    WorkChunkDriver.java:37): rows/keys/tokens per work bucket."""
    t = token_sequences(spark, sf_dir, keep_did=True)
    return (
        t.withColumn("bucket", F.pmod(F.col("did"), F.lit(16)).cast("int"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("doc_id").alias("n_keys"),
             F.sum("n_tok").cast("bigint").alias("sum_tok"))
    )


@register("late_data_audit", with_token_cte("""
, mx AS (SELECT MAX(ts) AS max_ts FROM token_sequences)
SELECT source,
       CAST(SUM(CASE WHEN ts < max_ts - INTERVAL 1800 SECONDS THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       COUNT(*) AS n_total
FROM token_sequences CROSS JOIN mx
GROUP BY source
"""))
def q_late(spark, sf_dir):
    return windows.would_be_late_audit(token_sequences(spark, sf_dir))


# =====================================================================
# Relational coverage (SURVEY.md §2.8 — Catalyst built-ins)
# =====================================================================

@register("pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                      (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
""")
def q_pricing(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") < F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast("decimal(18,4)")), 2)
            .cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
            .cast("double").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")
                          * (F.lit(1) - F.col("l_discount").cast("decimal(18,4)"))), 2)
            .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register("top_customers_by_revenue", """
WITH rev AS (
  SELECT o_custkey,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey)
SELECT c_custkey, c_name, c_mktsegment, revenue, n_orders
FROM customer JOIN rev ON c_custkey = o_custkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 10
""")
def q_topcust(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"),
             F.count("*").alias("n_orders"))
    )
    return (
        customer.join(rev, customer.c_custkey == rev.o_custkey)
        .select("c_custkey", "c_name", "c_mktsegment", "revenue", "n_orders")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(10)
    )


@register("region_rollup", """
SELECT r_name, n_name,
       COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def q_rollup(spark, sf_dir):
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        customer
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(F.count("*").alias("n_cust"),
             F.round(F.sum(F.col("c_acctbal").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_bal"))
    )


@register("order_rank_per_customer", """
WITH ranked AS (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders)
SELECT o_custkey, COUNT(*) AS n_top,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS top_revenue,
       MAX(o_orderkey) AS max_orderkey
FROM ranked WHERE rk <= 3 GROUP BY o_custkey
""")
def q_orderrank(spark, sf_dir):
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_top"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("top_revenue"),
             F.max("o_orderkey").alias("max_orderkey"))
    )


@register("supplier_part_volume", """
SELECT p_brand, s_name, COUNT(*) AS n_items,
       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS volume
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
GROUP BY p_brand, s_name
""")
def q_supppart(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(F.count("*").alias("n_items"),
             F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("volume"))
    )


@register("priority_set_ops", """
WITH unioned AS (
  SELECT * FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT * FROM orders WHERE o_orderpriority = '2-HIGH'
),
cancelled AS (
  SELECT * FROM orders
  WHERE o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '2-HIGH')
),
kept AS (SELECT * FROM unioned EXCEPT ALL SELECT * FROM cancelled)
SELECT o_orderpriority, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_cust
FROM kept GROUP BY o_orderpriority
""")
def q_setops(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    high = orders.where(F.col("o_orderpriority") == "2-HIGH")
    cancelled = orders.where(
        (F.col("o_orderstatus") == "F")
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    kept = urgent.unionByName(high).exceptAll(cancelled)
    return (
        kept.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.countDistinct("o_custkey").alias("n_cust"))
    )


@register("event_type_daily_matrix", """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY 1
""")
def q_eventmatrix(spark, sf_dir):
    return relational.event_type_daily_matrix(load_table(spark, sf_dir, "events"))


@register("events_tumbling_stats", """
SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, ts)) AS BIGINT) AS ws,
       event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(MIN(value), 6) AS min_v,
       ROUND(MAX(value), 6) AS max_v
FROM events GROUP BY 1, 2
""")
def q_eventstats(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.countDistinct("user_id").alias("n_users"),
             F.round(F.min("value"), 6).alias("min_v"),
             F.round(F.max("value"), 6).alias("max_v"))
        .select(F.unix_timestamp("w.start").alias("ws"), "event_type",
                "n_events", "n_users", "min_v", "max_v")
    )


@register("events_sessionization", """
WITH ordered AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS pts
  FROM events),
marked AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTES
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
sess AS (SELECT user_id, sid, COUNT(*) AS n_events FROM islands GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS total_events
FROM sess GROUP BY user_id
""")
def q_sessionize(spark, sf_dir):
    return windows.sessionize_events(load_table(spark, sf_dir, "events"))


# =====================================================================
# Dedup / similarity / text (training-data toolbox)
# =====================================================================

@register("cross_source_dup_matrix", """
WITH words AS (
  SELECT source, string_split(text, ' ') AS w FROM documents),
segs AS (
  SELECT source,
         unnest(list_transform(range(len(w) // 8),
                i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8),
                                     ' '))) AS seg
  FROM words WHERE len(w) >= 8),
s AS (SELECT DISTINCT source, seg FROM segs)
SELECT a.source AS source_a, b.source AS source_b,
       COUNT(*) AS n_shared_segments
FROM s a JOIN s b ON a.seg = b.seg AND a.source < b.source
GROUP BY 1, 2
""")
def q_cross_source_dups(spark, sf_dir):
    """Cross-source duplication matrix: distinct shared 8-word segments
    per source pair — the overlap report behind corpus-mix and
    licensing calls."""
    return dedup.cross_source_dup_matrix(
        load_table(spark, sf_dir, "documents"))


@register("normalized_dup_stats", """
WITH n AS (
  SELECT source, text,
         trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       COUNT(DISTINCT text) AS n_distinct_raw,
       COUNT(DISTINCT norm) AS n_distinct_norm,
       CAST(COUNT(DISTINCT text) - COUNT(DISTINCT norm) AS BIGINT)
         AS n_dup_norm_only
FROM n GROUP BY source
""")
def q_normalized_dup(spark, sf_dir):
    """Normalization-aware dedup: docs that become exact duplicates
    only after canonical text normalization (lowercase, non-alnum runs
    → single space, trim) — the preprocessing step before hash dedup."""
    return text.normalized_dup_stats(load_table(spark, sf_dir, "documents"))


@register("dedup_exact_stats", """
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_distinct,
       COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dupes
FROM documents
""")
def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dedup_stats(load_table(spark, sf_dir, "documents"))


# Shared minhash→bands SQL chain (mirrors dedup.minhash_band_buckets):
# per-row coefficients are the SAME power pairs the Spark side uses
# (dedup.minhash_coeffs — independent across rows, not linear in j),
# and the band bucket is the identical chained-mod mix.
_MINHASH_COEFF_VALUES = ", ".join(
    "({}, {}, {})".format(j, *dedup.minhash_coeffs(j))
    for j in range(dedup.MINHASH_K))

_MINHASH_BANDS_CTES = f"""
, shingles AS (
  SELECT DISTINCT doc_id, unnest(tokens) % {dedup.SHINGLE_MOD} AS sh
  FROM token_sequences),
coeffs(j, ca, cb) AS (VALUES {_MINHASH_COEFF_VALUES}),
hashes AS (
  SELECT s.doc_id, c.j, (c.ca * s.sh + c.cb) % {dedup.MINHASH_P} AS hv
  FROM shingles s CROSS JOIN coeffs c),
sigs AS (SELECT doc_id, j, MIN(hv) AS sig FROM hashes GROUP BY 1, 2),
rows4 AS (
  SELECT doc_id, CAST(j // 4 AS INT) AS band,
         MAX(CASE WHEN j % 4 = 0 THEN sig END) AS r0,
         MAX(CASE WHEN j % 4 = 1 THEN sig END) AS r1,
         MAX(CASE WHEN j % 4 = 2 THEN sig END) AS r2,
         MAX(CASE WHEN j % 4 = 3 THEN sig END) AS r3
  FROM sigs GROUP BY 1, 2),
bands AS (
  SELECT doc_id, band,
         (((((CAST(r0 AS BIGINT) * {dedup.BUCKET_MIX} + r1)
               % {dedup.BUCKET_Q})
             * {dedup.BUCKET_MIX} + r2) % {dedup.BUCKET_Q})
          * {dedup.BUCKET_MIX} + r3) % {dedup.BUCKET_Q} AS bucket
  FROM rows4)"""

_MINHASH_SQL = with_token_cte(_MINHASH_BANDS_CTES + """
, per_bucket AS (
  SELECT band, bucket, COUNT(*) AS n FROM bands GROUP BY 1, 2)
SELECT band, COUNT(*) AS n_colliding_buckets,
       CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS n_candidate_pairs
FROM per_bucket WHERE n > 1 GROUP BY band
""")


@register("minhash_lsh_stats", _MINHASH_SQL)
def q_minhash(spark, sf_dir):
    return dedup.minhash_lsh_stats(token_sequences(spark, sf_dir))


_JACCARD_SQL = with_token_cte(f"""
, sample_docs AS (SELECT * FROM token_sequences WHERE did % 25 = 0),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] % {dedup.JACCARD_MOD} AS BIGINT) * {dedup.JACCARD_MOD}
             + CAST(tokens[i + 2] % {dedup.JACCARD_MOD} AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM sample_docs),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, n_inter,
       sa.sz + sb.sz - n_inter AS n_union
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter * 100 >= sa.sz + sb.sz - n_inter
""")


@register("ngram_jaccard_pairs", _JACCARD_SQL)
def q_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(token_sequences(spark, sf_dir, keep_did=True))


_SIMHASH_SQL = with_token_cte(f"""
, shingles AS (
  SELECT DISTINCT doc_id, unnest(tokens) % {dedup.SHINGLE_MOD} AS sh
  FROM token_sequences WHERE did % 50 = 0),
bits AS (
  SELECT doc_id, unnest(range(0, {dedup.SIMHASH_BITS})) AS b,
         (sh * {dedup.SIMHASH_MULT}) % {1 << 32} AS hv
  FROM shingles),
votes AS (
  SELECT doc_id, b, SUM(((hv >> CAST(b AS INT)) % 2) * 2 - 1) AS s
  FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
""")


_CLUSTER_PREFIX = f"""
WITH RECURSIVE {{token_cte}},
sample_docs AS (SELECT * FROM token_sequences WHERE did % 25 = 0),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] % {dedup.JACCARD_MOD} AS BIGINT) * {dedup.JACCARD_MOD}
             + CAST(tokens[i + 2] % {dedup.JACCARD_MOD} AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM sample_docs),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_inter * 100 >= sa.sz + sb.sz - n_inter),
verts AS (SELECT DISTINCT doc_id, did FROM sample_docs),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
reach AS (
  SELECT doc_id AS doc, did AS label FROM verts
  UNION
  SELECT e.dst AS doc, r.label AS label FROM reach r JOIN edges e ON e.src = r.doc),
comp AS (SELECT doc, MIN(label) AS component FROM reach GROUP BY doc)
"""

_CLUSTER_SQL = _CLUSTER_PREFIX + """
SELECT component, COUNT(*) AS n_docs, MIN(doc) AS rep_doc
FROM comp GROUP BY component
"""


@register("dedup_cluster_components",
          _CLUSTER_SQL.format(token_cte=TOKEN_SEQ_DUCKDB_CTE))
def q_dup_clusters(spark, sf_dir):
    """Duplicate clusters: near-dup pairs → connected components via
    iterative min-label propagation (oracle: DuckDB recursive CTE). The
    cluster representative (min doc) is the keep-one decision of a
    dedup pipeline."""
    return dedup.dup_cluster_labels(
        token_sequences(spark, sf_dir, keep_did=True))


@register("cc_pointer_doubling",
          _CLUSTER_SQL.format(token_cte=TOKEN_SEQ_DUCKDB_CTE))
def q_cc_pointer_doubling(spark, sf_dir):
    """Connected components via POINTER DOUBLING (graph.py:
    connected_components, O(log d) rounds) over the same sampled
    near-dup candidate graph and the same recursive-CTE oracle as
    dedup_cluster_components — the two component algorithms
    cross-validate through one oracle."""
    from movement_spark.operators.graph import connected_components
    from movement_spark.sources.tokens import (
        did_from_doc_id, doc_id_from_did)
    toks = token_sequences(spark, sf_dir, keep_did=True)
    verts = (toks.where(F.col("did") % dedup.JACCARD_SAMPLE_MOD == 0)
             .select(F.col("did").alias("id")).distinct())
    pairs = dedup.ngram_jaccard_pairs(toks).select(
        did_from_doc_id("doc_a").alias("a"),
        did_from_doc_id("doc_b").alias("b"))
    comp = connected_components(verts, pairs)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("n_docs"),
             F.min(doc_id_from_did(F.col("id"))).alias("rep_doc"))
    )


def _leakage_split_sql() -> str:
    from movement_spark.operators.dataset import (
        SPLIT_A, SPLIT_B, SPLIT_P, TRAIN_PCT, VAL_PCT)
    case = ("CASE WHEN (({k} * %d + %d) %% %d) %% 100 < %d THEN 'train' "
            "WHEN (({k} * %d + %d) %% %d) %% 100 < %d THEN 'val' "
            "ELSE 'test' END") % (
        SPLIT_A, SPLIT_B, SPLIT_P, TRAIN_PCT,
        SPLIT_A, SPLIT_B, SPLIT_P, TRAIN_PCT + VAL_PCT)
    return _CLUSTER_PREFIX + f"""
, doc_tok AS (
  SELECT doc_id, did, CAST(SUM(n_tok) AS BIGINT) AS tok
  FROM sample_docs GROUP BY 1, 2),
assigned AS (
  SELECT d.tok, c.component AS label,
         {case.format(k='c.component')} AS split,
         {case.format(k='d.did')} AS naive_split
  FROM doc_tok d JOIN comp c ON c.doc = d.doc_id)
SELECT split, COUNT(*) AS n_docs,
       COUNT(DISTINCT label) AS n_clusters,
       CAST(SUM(tok) AS BIGINT) AS sum_tok,
       CAST(SUM(CASE WHEN naive_split <> split THEN 1 ELSE 0 END)
            AS BIGINT) AS would_leak_docs
FROM assigned GROUP BY split
"""


@register("leakage_safe_split_stats",
          _leakage_split_sql().format(token_cte=TOKEN_SEQ_DUCKDB_CTE))
def q_leakage_safe_split(spark, sf_dir):
    """Near-dup-aware train/val/test split: every doc takes its
    duplicate-CLUSTER representative's hash split, so near-duplicates
    can never straddle splits; would_leak_docs counts exactly the
    contamination a naive per-doc split would have caused."""
    from movement_spark.operators.dataset import leakage_safe_split_stats
    return leakage_safe_split_stats(
        token_sequences(spark, sf_dir, keep_did=True))


@register("span_ownership_stats", with_token_cte("""
, sample_docs AS (SELECT * FROM token_sequences WHERE did % 10 = 0),
grams AS (
  SELECT DISTINCT doc_id, did,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] AS BIGINT) * 50261
             + CAST(tokens[i + 2] AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM sample_docs),
owners AS (SELECT g, MIN(did) AS owner FROM grams GROUP BY g)
SELECT doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN owner < did THEN 1 ELSE 0 END) AS BIGINT)
         AS n_foreign,
       CAST((SUM(CASE WHEN owner < did THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS foreign_ppm
FROM grams JOIN owners USING (g) GROUP BY doc_id
"""))
def q_span_ownership(spark, sf_dir):
    """Substring-level dedup accounting: each exact bigram is owned by
    its earliest doc; later docs count the spans they'd lose — catches
    concatenation/quotation duplication no whole-doc pair test sees."""
    return dedup.span_ownership_stats(
        token_sequences(spark, sf_dir, keep_did=True))


@register("simhash_docs", _SIMHASH_SQL)
def q_simhash(spark, sf_dir):
    return dedup.simhash_docs(token_sequences(spark, sf_dir, keep_did=True))


_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
queries AS (SELECT vec_id AS query_id, qv AS query_v FROM q WHERE vec_id < 10),
scored AS (
  SELECT query_id, q.vec_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * queries.query_v[i])) AS BIGINT) AS dot
  FROM q CROSS JOIN queries WHERE q.vec_id <> queries.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("ann_brute_force_topk", _TOPK_SQL)
def q_ann_bf(spark, sf_dir):
    df = similarity.brute_force_topk(load_table(spark, sf_dir, "embeddings"))
    return df.withColumn("rank", F.col("rank").cast("int"))


_LSH_TOPK_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
b AS (SELECT vec_id, qv,
             {similarity.lsh_bucket_sql('qv', similarity.LSH_PLANES)} AS bucket
      FROM q),
queries AS (SELECT vec_id AS query_id, qv AS query_v, bucket
            FROM b WHERE vec_id < 10),
cand AS (
  SELECT query_id, b.vec_id,
         CAST(list_sum(list_transform(range(1, len(b.qv) + 1),
              i -> b.qv[i] * queries.query_v[i])) AS BIGINT) AS dot
  FROM b JOIN queries USING (bucket) WHERE b.vec_id <> queries.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM cand)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("ann_lsh_topk", _LSH_TOPK_SQL)
def q_ann_lsh(spark, sf_dir):
    """ANN scale path: sign-projection LSH buckets prune the corpus to
    one bucket per query before the exact top-k — the 100 TB variant of
    ann_brute_force_topk (shuffle key = bucket, not a cross join)."""
    df = similarity.lsh_bucketed_neighbors(load_table(spark, sf_dir, "embeddings"))
    return df.withColumn("rank", F.col("rank").cast("int"))


_NEARDUP_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
b AS (SELECT vec_id, qv,
             {similarity.lsh_bucket_sql('qv', similarity.NEARDUP_PLANES)} AS bucket,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
      FROM q),
pairs AS (
  SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * c.qv[i])) AS BIGINT) AS dot,
         a.n2 AS norm_a, c.n2 AS norm_b
  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
SELECT vec_a, vec_b, dot, norm_a, norm_b
FROM pairs
WHERE dot > 0 AND CAST(dot AS HUGEINT) * dot * 25 >= CAST(norm_a AS HUGEINT) * norm_b
"""


@register("embedding_cosine_neardup", _NEARDUP_SQL)
def q_neardup(spark, sf_dir):
    return similarity.cosine_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


@register("dangling_edge_audit", """
WITH vertices AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0)
SELECT o_orderstatus,
       COUNT(*) AS n_edges,
       CAST(SUM(CASE WHEN v.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dangling,
       CAST(SUM(CASE WHEN v.c_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM orders LEFT JOIN vertices v ON o_custkey = v.c_custkey
GROUP BY o_orderstatus
""")
def q_dangling(spark, sf_dir):
    return relational.dangling_edge_audit(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"))


@register("order_priority_semijoin", """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01'
  AND o_orderdate < TIMESTAMP '1995-10-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
""")
def q_semijoin(spark, sf_dir):
    return relational.order_priority_semijoin(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"))


@register("idle_rich_customers", """
WITH pos AS (
  SELECT c_custkey, c_mktsegment,
         CAST(c_acctbal AS DECIMAL(18,4)) AS bal
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,4)) > 0),
tot AS (SELECT SUM(bal) AS tot_bal, COUNT(*) AS n_pos FROM pos),
rich AS (
  SELECT pos.* FROM pos CROSS JOIN tot
  WHERE bal * n_pos > tot_bal)
SELECT c_mktsegment,
       COUNT(*) AS n_idle,
       CAST(ROUND(SUM(bal), 2) AS DOUBLE) AS idle_bal
FROM rich
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = rich.c_custkey)
GROUP BY c_mktsegment
""")
def q_idle_rich(spark, sf_dir):
    return relational.idle_rich_customers(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"))


@register("customer_order_distribution", """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey)
SELECT c_count, COUNT(*) AS custdist
FROM per_cust GROUP BY c_count
""")
def q_customer_order_distribution(spark, sf_dir):
    """TPC-H Q13 shape: distribution of customers by order count,
    INCLUDING zero-order customers (the left-join null group). Scale
    shape: aggregate orders FIRST (one shuffle over the fact keyed by
    custkey, map-side combined), then join the small per-customer
    counts to the dim — never the row-level fact-dim join Q13 is
    usually written as; the second agg runs over |customer| rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust_orders = orders.groupBy("o_custkey") \
        .agg(F.count("*").alias("n_orders"))
    per_cust = (
        customer.select("c_custkey")
        .join(per_cust_orders,
              customer.c_custkey == per_cust_orders.o_custkey, "left")
        .select(F.coalesce("n_orders", F.lit(0)).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@register("grouping_sets_volume", """
SELECT r_name, c_mktsegment, COUNT(*) AS n_cust,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
""")
def q_grouping_sets(spark, sf_dir):
    """GROUPING SETS (beyond rollup/cube): independent aggregation grains
    in one pass — Catalyst plans a single Expand + hash aggregate."""
    for t in ("customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"gs_{t}")
    return spark.sql("""
        SELECT r_name, c_mktsegment, COUNT(*) AS n_cust,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal
        FROM gs_customer
        JOIN gs_nation ON c_nationkey = n_nationkey
        JOIN gs_region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name), (c_mktsegment), ())
    """)


_CSV_ROUNDTRIP_DIRS: dict[str, str] = {}


def _cached_roundtrip_dir(cache: dict[str, str], sf_dir: str, prefix: str,
                          probe: str, write_fn) -> str:
    """Per-(process, sf_dir) staged-directory cache shared by the
    round-trip queries: repeated calls (e.g. the registry-wide plan
    sweep) must not re-write or leak temp dirs. ``probe`` is the
    path fragment whose existence marks the dir valid; ``write_fn(base)``
    stages it."""
    import os
    import tempfile

    base = cache.get(sf_dir)
    if base is None or not os.path.exists(os.path.join(base, probe)):
        base = tempfile.mkdtemp(prefix=prefix)
        write_fn(base)
        cache[sf_dir] = base
    return base


@register("csv_directory_roundtrip", """
SELECT c_mktsegment AS label, COUNT(*) AS io_ops,
       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_bal,
       MAX(c_custkey) AS max_id
FROM customer
GROUP BY c_mktsegment
""")
def q_csv_roundtrip(spark, sf_dir):
    """DirectoryOutput → Output.reader round trip (DirectoryOutput.java:
    110-124,144-154): write customers as the per-label CSV directory
    layout (label = mktsegment ≈ the reference's vertex label), read the
    directory back with the reverse reader, and aggregate — content
    parity with the source table proves the sink/reader pair lossless,
    the reference's Export-test contract
    (TestTinkerPopCallStepPlugin.java:268-276). The written directory is
    cached per (process, sf_dir) so repeated calls — e.g. the registry-
    wide plan sweep — don't re-write and leak temp dirs."""
    from movement_spark.sinks.directory import (
        read_directory_csv, write_directory_csv)

    def _stage(base):
        out = load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("id"),
            F.col("c_acctbal").alias("acctbal"),
            F.col("c_mktsegment").alias("label"))
        write_directory_csv(out, base, "vertices", "label")

    base = _cached_roundtrip_dir(_CSV_ROUNDTRIP_DIRS, sf_dir,
                                 "ms_csvdir_", "vertices", _stage)
    back = read_directory_csv(
        spark, base, "vertices", "id BIGINT, acctbal DOUBLE, label STRING")
    return (
        back.groupBy("label")
        .agg(F.count("*").alias("io_ops"),
             F.round(F.sum(F.col("acctbal").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_bal"),
             F.max("id").alias("max_id"))
    )


@register("text_tokenize_stats", """
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
       CAST(SUM(length(text)) AS BIGINT) AS sum_chars,
       CAST(MAX(len(string_split(text, ' '))) AS INT) AS max_words
FROM documents GROUP BY source
""")
def q_tokstats(spark, sf_dir):
    df = text.tokenize_stats(load_table(spark, sf_dir, "documents"))
    return df.withColumn("max_words", F.col("max_words").cast("int"))


_QUALITY_SQL = """
WITH feats AS (
  SELECT source,
         len(string_split(text, ' ')) AS n_words,
         length(text) AS len,
         (len(string_split(text, ' the ')) - 1)
         + (len(string_split(text, ' a ')) - 1)
         + (len(string_split(text, ' of ')) - 1)
         + (len(string_split(text, ' and ')) - 1)
         + (len(string_split(text, ' to ')) - 1) AS stop_hits
  FROM documents),
scored AS (
  SELECT source, stop_hits,
         CAST(floor((len - n_words + 1) * 1000.0 / n_words) AS BIGINT) AS mwl,
         CAST(least(floor(n_words / 20.0), 4) AS INT) AS quality_bucket
  FROM feats)
SELECT source, quality_bucket, COUNT(*) AS n_docs,
       CAST(SUM(stop_hits) AS BIGINT) AS sum_stop_hits,
       CAST(SUM(mwl) AS BIGINT) AS sum_mwl
FROM scored GROUP BY 1, 2
"""


@register("text_quality_scores", _QUALITY_SQL)
def q_quality(spark, sf_dir):
    return text.quality_scores(load_table(spark, sf_dir, "documents"))


@register("text_langid_heuristic", """
WITH scored AS (
  SELECT lang,
         len(string_split(text, ' the ')) - 1 AS en_hits,
         len(string_split(text, ' data ')) - 1 AS tech_hits,
         length(text) AS len
  FROM documents)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(en_hits) AS BIGINT) AS sum_en_hits,
       CAST(SUM(tech_hits) AS BIGINT) AS sum_tech_hits,
       CAST(SUM(CAST(floor(en_hits * 1000.0 / greatest(len, 1)) AS BIGINT)) AS BIGINT) AS sum_en_density
FROM scored GROUP BY lang
""")
def q_langid(spark, sf_dir):
    return text.langid_heuristic(load_table(spark, sf_dir, "documents"))


_FP_SQL = f"""
SELECT doc_id, lang, source,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, least(n_chars, {text.FP_LEN}) + 1),
                          i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % {text.FP_MOD}) AS fingerprint,
       CAST(least(n_chars, {text.FP_LEN}) AS INT) AS fp_len
FROM documents WHERE doc_id % 25 = 0
"""


@register("doc_fingerprints", _FP_SQL)
def q_fingerprint(spark, sf_dir):
    return text.doc_fingerprints(load_table(spark, sf_dir, "documents"))


@register("emitable_tree_expansion", with_token_cte("""
, exploded AS (
  SELECT source, doc_id, seq, unnest(tokens) AS t FROM token_sequences)
SELECT source,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(DISTINCT doc_id || '#' || CAST(seq AS VARCHAR)) AS n_shards,
       COUNT(*) AS n_tokens
FROM exploded GROUP BY source
"""))
def q_tree(spark, sf_dir):
    """Emitable 1→N tree walk (Emitable.java:33, walk at
    ParallelStreamProcessor.java:149-161): doc → shard → token expansion
    as chained explode, counted per level."""
    t = token_sequences(spark, sf_dir)
    exploded = t.select("source", "doc_id", "seq", F.explode("tokens").alias("t"))
    return (
        exploded.groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_docs"),
             F.countDistinct(F.concat("doc_id", F.lit("#"),
                                      F.col("seq").cast("string"))).alias("n_shards"),
             F.count("*").alias("n_tokens"))
    )


@register("token_topk", with_token_cte("""
, exploded AS (SELECT unnest(tokens) AS t FROM token_sequences)
SELECT t, COUNT(*) AS cnt FROM exploded
GROUP BY t ORDER BY cnt DESC, t ASC LIMIT 20
"""))
def q_token_topk(spark, sf_dir):
    """Heavy explode → count → top-k (the token-frequency primitive of
    corpus analysis). Map-side partial agg keeps the shuffle at
    |vocab| rows, and the limit plans as TakeOrderedAndProject."""
    t = token_sequences(spark, sf_dir)
    return (
        t.select(F.explode("tokens").alias("t"))
        .groupBy("t").agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("t"))
        .limit(20)
    )


@register("token_position_stats", with_token_cte("""
, positioned AS (
  SELECT doc_id, tokens, unnest(range(0, n_tok)) AS p
  FROM token_sequences)
SELECT CAST(p // 16 AS INT) AS pos_bucket,
       COUNT(*) AS n_tokens,
       CAST(SUM(tokens[CAST(p AS INT) + 1]) AS BIGINT) AS sum_tok_val
FROM positioned GROUP BY 1
"""))
def q_token_positions(spark, sf_dir):
    """posexplode: token value statistics by sequence position bucket
    (the positional profile a tokenizer-drift monitor watches)."""
    t = token_sequences(spark, sf_dir)
    return (
        t.select(F.posexplode("tokens").alias("p", "tok"))
        .groupBy(F.floor(F.col("p") / 16).cast("int").alias("pos_bucket"))
        .agg(F.count("*").alias("n_tokens"),
             F.sum("tok").cast("bigint").alias("sum_tok_val"))
    )


@register("asof_purchase_gap", """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'purchase' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase
  FROM events)
SELECT user_id,
       COUNT(*) AS n_clicks,
       CAST(SUM(CASE WHEN last_purchase IS NOT NULL
                     THEN CAST(floor(epoch(ts)) AS BIGINT)
                          - CAST(floor(epoch(last_purchase)) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS sum_gap_sec,
       CAST(SUM(CASE WHEN last_purchase IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_prior
FROM ordered WHERE event_type = 'click'
GROUP BY user_id
""")
def q_asof(spark, sf_dir):
    """As-of join (point-in-time correlate): for each click, the most
    recent preceding purchase of the same user — the window-function
    form that avoids a range-join explosion at scale."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lp = F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).over(w)
    clicks = (
        ev.withColumn("last_purchase", lp)
        .where(F.col("event_type") == "click")
    )
    gap = F.when(
        F.col("last_purchase").isNotNull(),
        F.unix_timestamp("ts") - F.unix_timestamp("last_purchase"),
    ).otherwise(F.lit(0))
    return (
        clicks.groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"),
             F.sum(gap).cast("bigint").alias("sum_gap_sec"),
             F.sum(F.col("last_purchase").isNotNull().cast("int"))
             .cast("bigint").alias("n_with_prior"))
    )


@register("orders_by_weekday", """
SELECT CAST(isodow(o_orderdate) - 1 AS INT) AS weekday,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders GROUP BY 1
""")
def q_weekday(spark, sf_dir):
    """Temporal extraction with cross-engine calendar normalization:
    Spark weekday() is 0=Monday, DuckDB isodow is 1=Monday — both sides
    normalize to the ISO 0-based index explicitly (never trust default
    day-numbering across engines)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.weekday("o_orderdate").cast("int").alias("weekday"))
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"))
    )


@register("orders_moving_revenue", """
WITH daily AS (
  SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) // 86400 AS day_no,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1)
SELECT day_no, revenue,
       CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,4)))
             OVER (ORDER BY day_no RANGE BETWEEN 6 PRECEDING AND CURRENT ROW),
            2) AS DOUBLE) AS rev_7d,
       CAST(COUNT(*) OVER (ORDER BY day_no
             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS days_in_window
FROM daily
""")
def q_moving_revenue(spark, sf_dir):
    """RANGE-frame window (vs the ROWS frames used elsewhere): 7-day
    moving revenue over the daily aggregate — the frame is bound by
    VALUE distance on the ordering key, so calendar gaps shrink the
    window instead of reaching further back. One shuffle for the daily
    agg; the window runs on the tiny aggregate, not the fact table."""
    from pyspark.sql.window import Window
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy((F.floor(F.unix_timestamp(
            F.date_trunc("day", F.col("o_orderdate"))) / 86400))
            .cast("bigint").alias("day_no"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"))
    )
    w = Window.orderBy("day_no").rangeBetween(-6, 0)
    return daily.select(
        "day_no", "revenue",
        F.round(F.sum(F.col("revenue").cast("decimal(18,4)")).over(w), 2)
        .cast("double").alias("rev_7d"),
        F.count("*").over(w).cast("bigint").alias("days_in_window"))


@register("repeat_customer_intersect", """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1995-01-01'
               AND o_orderdate < TIMESTAMP '1996-01-01'),
y96 AS (SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'),
both_years AS (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
SELECT c_mktsegment, COUNT(*) AS n_repeat
FROM both_years JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def q_intersect(spark, sf_dir):
    """INTERSECT (set-op coverage beyond UNION/EXCEPT): customers active
    in consecutive years, per segment."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")

    def year(y):
        return (orders.where(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp")))
            .select("o_custkey").distinct())

    both = year(1995).intersect(year(1996))
    return (
        both.join(customer, both.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_repeat"))
    )


@register("json_props_stats", """
SELECT event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(json_extract(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(MAX(CAST(json_extract(props, '$.k') AS INTEGER)) AS INT) AS max_k,
       CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) > 50
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_high
FROM events GROUP BY event_type
""")
def q_json_props(spark, sf_dir):
    """Semi-structured extraction: typed from_json over the JSON props
    column (schema-on-read done ONCE into a typed struct — the
    schema-probe step of the reference's emitters, GraphCSVDecoder-style,
    but per-expression). Stays JVM-side; no Python JSON parsing."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT").getField("k")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"),
             F.sum("k").cast("bigint").alias("sum_k"),
             F.max("k").cast("int").alias("max_k"),
             F.sum((F.col("k") > 50).cast("int")).cast("bigint").alias("n_high"))
    )


@register("validation_audit", with_token_cte("""
SELECT violation, COUNT(*) AS n_rows FROM (
  SELECT unnest(CASE WHEN did % 97 = 0 THEN ['n_tok_match']
                     ELSE CAST([NULL] AS VARCHAR[]) END) AS violation
  FROM token_sequences) GROUP BY violation
"""))
def q_validation(spark, sf_dir):
    """ErrorHandler/DLQ surface (ErrorHandler.java:20-35): per-row rule
    violations collected as data, not exceptions. A deterministic
    corruption (did % 97) breaks the n_tok invariant; the audit counts
    rows per violated rule (NULL bucket = valid rows)."""
    from movement_spark.operators.validate import violation_stats
    t = token_sequences(spark, sf_dir, keep_did=True)
    corrupted = t.withColumn(
        "n_tok",
        F.col("n_tok") + (F.col("did") % 97 == 0).cast("int"))
    return violation_stats(corrupted, {
        "n_tok_match": F.col("n_tok") == F.size("tokens"),
        "source_present": F.col("source").isNotNull(),
    })


@register("order_value_quantiles", """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       COUNT(*) AS n
FROM orders GROUP BY o_orderstatus
""")
def q_quantiles(spark, sf_dir):
    """Exact quantiles (selection + linear interpolation — deterministic
    across engines, unlike approx sketches). At 100 TB swap
    percentile() for percentile_approx(): same plan shape, bounded
    memory; the exact form here doubles as that path's accuracy
    oracle."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus")
        .agg(F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
             F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
             F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
             F.count("*").alias("n"))
    )


# Parity-critical KMV hash constants live in operators/sketches.py
# (single source of truth — kmv_set_algebra shares them); the
# multiplier-wrap rationale is documented there and pinned by
# tests/test_sketches.py::test_kmv_estimate_within_20pct.
from movement_spark.operators.sketches import (  # noqa: E402
    KMV_A, KMV_B, KMV_K, KMV_P)


@register("kmv_distinct_sketch", f"""
WITH hashes AS (
  SELECT DISTINCT ({KMV_A} * o_custkey + {KMV_B}) % {KMV_P} AS h
  FROM orders),
small AS (SELECT h FROM hashes ORDER BY h ASC LIMIT {KMV_K})
SELECT COUNT(*) AS k, MAX(h) AS kth_min,
       CAST(floor(CAST({KMV_K} - 1 AS BIGINT) * {KMV_P} * 1.0 / MAX(h)) AS BIGINT) AS est_distinct
FROM small
""")
def q_kmv(spark, sf_dir):
    """KMV (k-minimum-values) distinct-count sketch with a DETERMINISTIC
    hash (a*x+b mod p, injective for keys < p) so the sketch itself is
    oracle-exact — the bounded-memory cardinality path for 10^12-key
    streams where countDistinct's shuffle is unaffordable. est ≈
    (k-1)*p/h_k; mergeable across partitions by keeping the k smallest
    of a union (the partial-agg shape Spark already plans for min-k)."""
    orders = load_table(spark, sf_dir, "orders")
    hashes = (
        orders.select(
            ((F.lit(KMV_A) * F.col("o_custkey") + KMV_B) % KMV_P).alias("h"))
        .distinct()
    )
    small = hashes.orderBy(F.asc("h")).limit(KMV_K)
    return small.agg(
        F.count("*").alias("k"),
        F.max("h").alias("kth_min"),
        F.floor((KMV_K - 1) * F.lit(float(KMV_P)) / F.max("h"))
        .cast("bigint").alias("est_distinct"))


@register("user_interarrival_stats", """
WITH gaps AS (
  SELECT user_id,
         CAST(floor(epoch(lead(ts) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id))) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) AS gap_sec
  FROM events)
SELECT user_id,
       COUNT(*) AS n_gaps,
       CAST(SUM(gap_sec) AS BIGINT) AS sum_gap_sec,
       MAX(gap_sec) AS max_gap_sec
FROM gaps WHERE gap_sec IS NOT NULL
GROUP BY user_id
""")
def q_interarrival(spark, sf_dir):
    """lead() window coverage: per-user event inter-arrival gaps (the
    session-gap distribution that calibrates session_window gap
    parameters). Epochs floor'd to whole seconds on BOTH engines before
    subtracting — sub-second timestamps differ in float representation
    otherwise."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.floor(F.unix_timestamp(F.lead("ts").over(w))).cast("bigint")
           - F.floor(F.unix_timestamp("ts")).cast("bigint"))
    return (
        ev.withColumn("gap_sec", gap)
        .where(F.col("gap_sec").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("n_gaps"),
             F.sum("gap_sec").cast("bigint").alias("sum_gap_sec"),
             F.max("gap_sec").alias("max_gap_sec"))
    )


@register("funnel_detection", """
WITH w AS (
  SELECT user_id, ts, event_id, event_type,
         MAX(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_view
  FROM events),
w2 AS (
  SELECT *,
         MAX(CASE WHEN event_type = 'click' AND prior_view IS NOT NULL
                  THEN ts END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_vc
  FROM w),
per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS s1,
         MAX(CASE WHEN event_type = 'click' AND prior_view IS NOT NULL
                  THEN 1 ELSE 0 END) AS s2,
         MAX(CASE WHEN event_type = 'purchase' AND prior_vc IS NOT NULL
                  THEN 1 ELSE 0 END) AS s3
  FROM w2 GROUP BY user_id)
SELECT CAST(SUM(s1) AS BIGINT) AS n_viewed,
       CAST(SUM(s2) AS BIGINT) AS n_clicked_after_view,
       CAST(SUM(s3) AS BIGINT) AS n_full_funnel,
       COUNT(*) AS n_users
FROM per_user
""")
def q_funnel(spark, sf_dir):
    """CEP sequence-pattern detection (batch form): view → click →
    purchase strictly in event-time order per user, as chained window
    functions — each stage's marker is a running max over the PRECEDING
    frame, so the whole pattern match is two window passes + one
    aggregate (one shuffle on user_id), no self-joins, no fanout."""
    from pyspark.sql.window import Window
    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    staged = (
        ev.withColumn(
            "prior_view",
            F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w))
        .withColumn(
            "prior_vc",
            F.max(F.when((F.col("event_type") == "click")
                         & F.col("prior_view").isNotNull(),
                         F.col("ts"))).over(w))
    )
    per_user = (
        staged.groupBy("user_id")
        .agg(F.max((F.col("event_type") == "view").cast("int")).alias("s1"),
             F.max(((F.col("event_type") == "click")
                    & F.col("prior_view").isNotNull()).cast("int")).alias("s2"),
             F.max(((F.col("event_type") == "purchase")
                    & F.col("prior_vc").isNotNull()).cast("int")).alias("s3"))
    )
    return per_user.agg(
        F.sum("s1").cast("bigint").alias("n_viewed"),
        F.sum("s2").cast("bigint").alias("n_clicked_after_view"),
        F.sum("s3").cast("bigint").alias("n_full_funnel"),
        F.count("*").alias("n_users"))


@register("orders_cube", """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_cube(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("revenue"))
    )


@register("output_id_allocation", with_token_cte("""
, ids AS (
  SELECT row_number() OVER (ORDER BY doc_id, seq) AS out_id,
         n_tok
  FROM token_sequences)
SELECT CAST(out_id % 10 AS INT) AS bucket,
       COUNT(*) AS n,
       MIN(out_id) AS min_id,
       MAX(out_id) AS max_id,
       COUNT(DISTINCT out_id) AS n_distinct
FROM ids GROUP BY 1
"""))
def q_output_ids(spark, sf_dir):
    """OutputIdDriver analog (RangedOutputIdDriver.java:57-62):
    deterministic, gap-free, unique output id allocation in a total
    order — via the two-phase range-partitioned allocator (a global
    `row_number() OVER (ORDER BY ...)` would funnel 10^12 rows through
    one task; a shared atomic counter would serialize the cluster).
    Bucketed stats prove coverage and uniqueness as scalars."""
    from movement_spark.operators.chunking import allocate_output_ids
    t = token_sequences(spark, sf_dir)
    ids = allocate_output_ids(t, ["doc_id", "seq"], partitions=16)
    return (
        ids.withColumn("bucket", (F.col("out_id") % 10).cast("int"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"),
             F.min("out_id").alias("min_id"),
             F.max("out_id").alias("max_id"),
             F.countDistinct("out_id").alias("n_distinct"))
    )


# =====================================================================
# Streaming pipelines — the engine itself, oracle-gated.
# Each runs a real Structured Streaming query (file-stream source,
# watermark, stateful stage, exactly-once keyed sink, availableNow) and
# returns the FINAL sink contents, which must equal the batch oracle.
# =====================================================================

@register("streaming_drift_monitor", with_token_cte("""
, tok AS (
  SELECT source,
         CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         unnest(tokens) % 64 AS bucket
  FROM token_sequences),
hist AS (SELECT source, ws, bucket, COUNT(*) AS cnt
         FROM tok GROUP BY 1, 2, 3),
tot AS (SELECT source, ws, CAST(SUM(cnt) AS BIGINT) AS n
        FROM hist GROUP BY 1, 2),
c AS (SELECT source, ws, bucket, cnt AS c_cur FROM hist),
p AS (SELECT source, ws + 300 AS ws, bucket, cnt AS c_prev FROM hist),
pairs AS (
  SELECT COALESCE(c.source, p.source) AS source,
         COALESCE(c.ws, p.ws) AS ws,
         COALESCE(c.bucket, p.bucket) AS bucket,
         COALESCE(c_cur, 0) AS c_cur, COALESCE(c_prev, 0) AS c_prev
  FROM c FULL JOIN p
    ON c.source = p.source AND c.ws = p.ws AND c.bucket = p.bucket),
agg AS (
  SELECT pr.source, pr.ws, nc.n AS n_cur, np.n AS n_prev,
         SUM(abs(CAST(c_cur AS HUGEINT) * np.n
                 - CAST(c_prev AS HUGEINT) * nc.n)) AS num
  FROM pairs pr
  JOIN tot nc ON nc.source = pr.source AND nc.ws = pr.ws
  JOIN tot np ON np.source = pr.source AND np.ws = pr.ws - 300
  GROUP BY 1, 2, 3, 4)
SELECT source, ws AS window_start, n_cur AS n_tokens,
       n_prev AS n_tokens_prev,
       CAST((num * 1000000) // (CAST(2 AS HUGEINT) * n_cur * n_prev)
            AS BIGINT) AS tvd_ppm
FROM agg
"""))
def q_streaming_drift(spark, sf_dir):
    """Streaming drift monitor: bucketed per-window token histograms
    through the exactly-once sink, folded at read into consecutive-
    window exact integer TVD per source."""
    from movement_spark.streaming.pipeline import run_streaming_drift_monitor
    return run_streaming_drift_monitor(spark, sf_dir)


@register("streaming_quantile_monitor", with_token_cte("""
, hist AS (
  SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         source, LEAST(n_tok // 2, 63) AS bucket, COUNT(*) AS cnt
  FROM token_sequences GROUP BY 1, 2, 3),
cum AS (
  SELECT ws, source, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY ws, source ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY ws, source) AS n
  FROM hist)
SELECT ws, source, CAST(MAX(n) AS BIGINT) AS n_seq,
       CAST(MIN(CASE WHEN cum >= (50 * n + 99) // 100
                     THEN bucket * 2 END) AS BIGINT) AS p50_lo,
       CAST(MIN(CASE WHEN cum >= (90 * n + 99) // 100
                     THEN bucket * 2 END) AS BIGINT) AS p90_lo,
       CAST(MIN(CASE WHEN cum >= (99 * n + 99) // 100
                     THEN bucket * 2 END) AS BIGINT) AS p99_lo
FROM cum GROUP BY 1, 2
"""))
def q_streaming_quantile(spark, sf_dir):
    """Streaming per-window p50/p90/p99 sequence-length monitor: the
    histogram quantile sketch's streaming form — additive counter grid
    as stream state (windows × sources × 64 rows), quantile fold at
    sink read."""
    from movement_spark.streaming.pipeline import (
        run_streaming_quantile_monitor)
    return run_streaming_quantile_monitor(spark, sf_dir)


_CMS_WATCH_SQL = ", ".join(str(t) for t in sketches.CMS_WATCH)


@register("streaming_cms_monitor", with_token_cte(f"""
, tok AS (
  SELECT source,
         CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         CAST(unnest(tokens) AS BIGINT) AS k
  FROM token_sequences),
cnts AS (SELECT source, ws, k, COUNT(*) AS cnt FROM tok GROUP BY 1, 2, 3),
js AS (SELECT unnest(range(0, {sketches.CMS_D})) AS j),
grid AS (
  SELECT source, ws, j, {sketches.cms_cell_sql("k")} AS cell,
         CAST(SUM(cnt) AS BIGINT) AS cnt
  FROM cnts CROSS JOIN js GROUP BY 1, 2, 3, 4),
wins AS (SELECT DISTINCT source, ws FROM grid),
watch AS (SELECT CAST(unnest([{_CMS_WATCH_SQL}]) AS BIGINT) AS k),
probe AS (
  SELECT w.source, w.ws, wt.k, js.j, {sketches.cms_cell_sql("wt.k")} AS cell
  FROM wins w CROSS JOIN watch wt CROSS JOIN js)
SELECT p.ws, p.source, CAST(p.k AS BIGINT) AS token,
       CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS cms_est
FROM probe p LEFT JOIN grid g
  ON g.source = p.source AND g.ws = p.ws AND g.j = p.j AND g.cell = p.cell
GROUP BY 1, 2, 3
"""))
def q_streaming_cms(spark, sf_dir):
    """Streaming CMS frequency monitor: per-(window, source) d×w
    count-min grids as stream state (bounded in DISTINCT-token count,
    the property a raw per-token count can't have at 10^12 sequences),
    folded at sink read into watchlist-token frequency estimates —
    min_j over the additive cells, absent cell = exact 0. The
    watchlist is a read-time choice: the sink keeps the grid, so any
    later token question replays against windows × d × w rows, not
    the stream."""
    from movement_spark.streaming.pipeline import run_streaming_cms_monitor
    return run_streaming_cms_monitor(spark, sf_dir)


@register("streaming_loglog_monitor", with_token_cte(f"""
, tok AS (
  SELECT source,
         CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         CAST(unnest(tokens) AS BIGINT) AS k
  FROM token_sequences),
h AS (SELECT source, ws,
             ((1103515245 * k + 12345) % 2147483647) AS hv FROM tok),
r AS (SELECT source, ws, hv % {sketches.LL_M} AS reg,
             length(bin(hv // {sketches.LL_M})) AS bl FROM h),
g AS (SELECT source, ws, reg, MAX(bl) AS max_bl FROM r GROUP BY 1, 2, 3)
SELECT ws, source,
       COUNT(*) AS registers_used,
       CAST(SUM(max_bl) AS BIGINT) AS sum_max_bitlen,
       CAST(MAX(max_bl) AS BIGINT) AS max_bitlen,
       CAST(CAST({sketches.LL_M} AS BIGINT)
            << CAST(SUM(max_bl) // {sketches.LL_M} AS INT) AS BIGINT)
         AS sketch_estimate
FROM g GROUP BY 1, 2
"""))
def q_streaming_loglog(spark, sf_dir):
    """Streaming per-window distinct-token monitor: LogLog register
    grids as stream state (windows × sources × 64 rows — a windowed
    COUNT(DISTINCT token) would key state by token, unbounded at 10^12
    sequences), MAX-merged so duplicates, at-least-once replays, and
    checkpoint resume are all absorbed by idempotence; integral sketch
    estimate folded at sink read."""
    from movement_spark.streaming.pipeline import (
        run_streaming_loglog_monitor)
    return run_streaming_loglog_monitor(spark, sf_dir)


@register("streaming_tumbling_pipeline", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_tumbling(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_tumbling
    return run_streaming_tumbling(spark, sf_dir)


@register("streaming_backfill_handoff", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_backfill(spark, sf_dir):
    """Kappa-style batch→stream handoff: history windows backfilled by
    ONE batch aggregate into epoch -1 of the exactly-once sink, the
    stream serving only windows at/after the cut (window-column
    predicate, above the watermark), deliberately overlapping by one
    window — the sink's highest-epoch-wins merge resolves the seam, so
    the read is one continuous table equal to the full batch oracle.
    The bootstrap a deployed pipeline runs instead of replaying a year
    of history through stream state."""
    from movement_spark.streaming.pipeline import (
        run_streaming_backfill_handoff)
    return run_streaming_backfill_handoff(spark, sf_dir)


@register("streaming_late_repair", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_late_repair(spark, sf_dir):
    """Lambda-style late-data repair: the stream correctly DROPS rows
    arriving after the watermark passed their window (a straggler file
    delivered after the whole timeline), then a batch repair job
    recomputes only the damaged windows from the table and upserts
    them as a later epoch — the sink read equals the full oracle, with
    the pre-repair shortfall pinned by its own test. The operational
    complement of the backfill handoff: epoch -1 bootstraps history,
    the repair epoch patches lateness, one keyed MERGE contract."""
    from movement_spark.streaming.pipeline import run_streaming_late_repair
    return run_streaming_late_repair(spark, sf_dir)


@register("streaming_ordered_merge", with_token_cte("""
, merged AS (
  SELECT doc_id,
         COUNT(*) AS n_shard,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         flatten(list(tokens ORDER BY seq)) AS m
  FROM token_sequences GROUP BY doc_id)
SELECT doc_id, CAST(n_shard AS INT) AS n_shard, total_tok,
       CAST(list_sum(list_transform(m, x -> CAST(x AS BIGINT))) AS BIGINT) AS tok_sum,
       CAST(list_sum(list_transform(m, (x, i) -> CAST(x AS BIGINT) * i)) AS BIGINT) AS poly_hash
FROM merged
"""))
def q_streaming_merge(spark, sf_dir):
    """PHASE ONE→TWO barrier through the DEFAULT (bulk-ingest) path:
    mode='jvm' session-window assembler — 17-65× the stateful-Python
    path (BENCH/BASELINE.md CEP table). The Python emit-on-complete
    latency path stays oracle-pinned by mode='python' pytest cases
    (tests/test_streaming.py resume/RocksDB) and its own registered
    audit pipeline (streaming_incomplete_audit)."""
    from movement_spark.streaming.pipeline import run_streaming_ordered_merge
    return run_streaming_ordered_merge(spark, sf_dir)


@register("streaming_ordered_merge_jvm", with_token_cte("""
, merged AS (
  SELECT doc_id,
         COUNT(*) AS n_shard,
         CAST(SUM(n_tok) AS BIGINT) AS total_tok,
         flatten(list(tokens ORDER BY seq)) AS m
  FROM token_sequences GROUP BY doc_id)
SELECT doc_id, CAST(n_shard AS INT) AS n_shard, total_tok,
       CAST(list_sum(list_transform(m, x -> CAST(x AS BIGINT))) AS BIGINT) AS tok_sum,
       CAST(list_sum(list_transform(m, (x, i) -> CAST(x AS BIGINT) * i)) AS BIGINT) AS poly_hash
FROM merged
"""))
def q_streaming_merge_jvm(spark, sf_dir):
    """The PHASE barrier with ZERO Python: session-window streaming
    aggregate (sort_array/collect_list/flatten in the native state
    store) — same order-sensitive digest oracle as the stateful-Python
    assembler, proving the throughput and latency paths interchangeable
    (see ordered_doc_assembler_jvm)."""
    from movement_spark.streaming.pipeline import (
        run_streaming_ordered_merge_jvm)
    return run_streaming_ordered_merge_jvm(spark, sf_dir)


@register("streaming_dedup", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_dedup(spark, sf_dir):
    """Exactly-once restoration under at-least-once delivery: every
    input chunk arrives TWICE; dropDuplicatesWithinWatermark on the
    natural key must make the duplicated stream hash-equal to the
    batch oracle over the clean table."""
    from movement_spark.streaming.pipeline import run_streaming_dedup
    return run_streaming_dedup(spark, sf_dir)


@register("streaming_shard_join", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b FROM token_sequences WHERE seq % 2 = 1)
SELECT e.doc_id AS doc_id, COUNT(*) AS n_pairs,
       CAST(SUM(e.n_tok_a + o.n_tok_b) AS BIGINT) AS pair_tok
FROM even e JOIN odd o ON e.doc_id = o.doc_id
WHERE abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY e.doc_id
"""))
def q_streaming_join(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_shard_join
    return run_streaming_shard_join(spark, sf_dir)


@register("streaming_left_join", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b FROM token_sequences WHERE seq % 2 = 1)
SELECT e.doc_id AS doc_id, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN o.n_tok_b IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN o.n_tok_b IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lonely,
       CAST(SUM(e.n_tok_a + COALESCE(o.n_tok_b, 0)) AS BIGINT) AS pair_tok
FROM even e LEFT JOIN odd o
  ON e.doc_id = o.doc_id AND abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY e.doc_id
"""))
def q_streaming_left_join(spark, sf_dir):
    """Stream-stream LEFT OUTER join: unmatched even shards emit with
    nulls only after the watermark proves no partner can arrive; the
    batch LEFT JOIN oracle checks matched AND lonely rows exactly."""
    from movement_spark.streaming.pipeline import run_streaming_left_join
    return run_streaming_left_join(spark, sf_dir)


@register("streaming_leaderboard", with_token_cte("""
, totals AS (
  SELECT source, COUNT(*) AS n_seq, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
  FROM token_sequences GROUP BY source),
ranked AS (
  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY sum_tok DESC, source ASC)
                 AS INT) AS lb_rank
  FROM totals)
SELECT source, CAST(n_seq AS BIGINT) AS n_seq, sum_tok, lb_rank
FROM ranked WHERE lb_rank <= 3
"""))
def q_streaming_leaderboard(spark, sf_dir):
    """Update-mode running leaderboard: global per-source totals upsert
    each trigger (one state row per key, no watermark/sentinel); final
    top-3 must equal the batch totals."""
    from movement_spark.streaming.pipeline import run_streaming_leaderboard
    return run_streaming_leaderboard(spark, sf_dir)


@register("streaming_sliding_pipeline", with_token_cte("""
, offs AS (SELECT unnest([0, 1]) AS o)
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) - o * 300 AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences CROSS JOIN offs
GROUP BY 1, 2
"""))
def q_streaming_sliding(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_sliding
    return run_streaming_sliding(spark, sf_dir)


@register("streaming_union_pipeline", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_union(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_union
    return run_streaming_union(spark, sf_dir)


@register("streaming_events_daily", """
SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, ts)) AS BIGINT) AS ws,
       event_type,
       COUNT(*) AS n_events,
       ROUND(MIN(value), 6) AS min_v,
       ROUND(MAX(value), 6) AS max_v
FROM events GROUP BY 1, 2
""")
def q_streaming_events(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_events
    return run_streaming_events(spark, sf_dir)


@register("streaming_update_mode", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences
GROUP BY 1, 2
"""))
def q_streaming_update(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_update_mode
    return run_streaming_update_mode(spark, sf_dir)


@register("streaming_enriched_pipeline", with_token_cte("""
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
       d.lang AS lang,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences t JOIN documents d ON t.did = d.doc_id
GROUP BY 1, 2
"""))
def q_streaming_enriched(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_enriched
    return run_streaming_enriched(spark, sf_dir)


@register("lineage_partition_audit", """
SELECT 'documents.parquet' AS src_file, COUNT(*) AS n_rows,
       COUNT(DISTINCT doc_id) AS n_keys
FROM documents
""")
def q_lineage(spark, sf_dir):
    """Per-partition lineage surface (north rule): every scanned row
    carries (_metadata.file_path, spark_partition_id) — the WorkChunk
    UUID analog (WorkChunk.java:19). Aggregated per source file the
    counts are deterministic and oracle-checkable; the partition ids are
    execution lineage, summarized as a distinct count per file (not
    hashed — layout is engine-specific)."""
    from movement_spark.streaming.metrics import with_lineage
    docs = with_lineage(load_table(spark, sf_dir, "documents"))
    return (
        docs.withColumn(
            "src_file",
            F.element_at(F.split(F.col("_source_file"), "/"), -1))
        .groupBy("src_file")
        .agg(F.count("*").alias("n_rows"),
             F.countDistinct("doc_id").alias("n_keys"))
    )


@register("streaming_session_windows", with_token_cte("""
, ordered AS (
  SELECT doc_id, ts, n_tok,
         lag(ts) OVER (PARTITION BY doc_id ORDER BY ts) AS pts
  FROM token_sequences),
marked AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 90 SECONDS
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY doc_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT doc_id,
       CAST(epoch(MIN(ts)) AS BIGINT) AS session_start,
       CAST(epoch(MAX(ts)) AS BIGINT) + 90 AS session_end,
       COUNT(*) AS n_shard,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM islands GROUP BY doc_id, sid
"""))
def q_streaming_session(spark, sf_dir):
    from movement_spark.streaming.pipeline import run_streaming_session
    return run_streaming_session(spark, sf_dir)


@register("multimodal_frame_sample", f"""
WITH sampled AS (
  SELECT doc_id, text, CAST(n_chars // {multimodal.N_FRAMES} AS INT) AS fs
  FROM documents WHERE doc_id % 25 = 0 AND text IS NOT NULL),
frames AS (
  SELECT doc_id, unnest(range(0, {multimodal.N_FRAMES})) AS frame_idx, fs, text
  FROM sampled WHERE fs > 0)
SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx, fs AS frame_bytes,
       CAST(list_sum(list_transform(
             range(CAST(frame_idx * fs AS BIGINT) + 1,
                   CAST((frame_idx + 1) * fs AS BIGINT) + 1),
             p -> ascii(substring(text, CAST(p AS INT), 1)))) AS BIGINT) AS checksum
FROM frames
""")
def q_frame_sample(spark, sf_dir):
    return multimodal.media_frame_sample(load_table(spark, sf_dir, "documents"))


@register("skew_safe_source_agg", with_token_cte("""
SELECT source,
       COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM token_sequences GROUP BY source
"""))
def q_skew_agg(spark, sf_dir):
    """Skew-mitigated aggregation on a LOW-cardinality hot key (source —
    a handful of values over the whole corpus): two_phase_agg does the
    heavy partial aggregation on (key, salt) so every task combines, then
    a final tiny shuffle on the real key — the WorkChunkDriver salted
    layout (SURVEY.md §2.2) as a reusable operator."""
    from movement_spark.operators.chunking import two_phase_agg
    t = token_sequences(spark, sf_dir)
    return two_phase_agg(
        t, "source",
        {"n_seq": F.count("*"),
         "sum_tok": F.sum("n_tok").cast("bigint")},
    ).select("source", F.col("n_seq").cast("bigint").alias("n_seq"),
             F.col("sum_tok").cast("bigint").alias("sum_tok"))


@register("multimodal_resize", f"""
SELECT doc_id,
       CAST(n_chars AS INT) AS orig_bytes,
       CAST((n_chars + {multimodal.RESIZE_STRIDE} - 1) // {multimodal.RESIZE_STRIDE} AS INT)
         AS resized_bytes,
       CAST(list_sum(list_transform(
             range(0, (n_chars + {multimodal.RESIZE_STRIDE} - 1) // {multimodal.RESIZE_STRIDE}),
             i -> ascii(substring(text, CAST(i * {multimodal.RESIZE_STRIDE} AS INT) + 1, 1))))
         AS BIGINT) AS resized_checksum
FROM documents WHERE doc_id % 25 = 0 AND text IS NOT NULL
""")
def q_resize(spark, sf_dir):
    return multimodal.media_resize(load_table(spark, sf_dir, "documents"))


@register("multimodal_feature_stats", """
WITH feats AS (
  SELECT doc_id,
         octet_length(encode(text)) AS n_bytes,
         CASE WHEN length(text) = 0 THEN -1
              ELSE ascii(substring(text, 1, 1)) END AS first_byte,
         CAST(COALESCE(list_sum(list_transform(range(1, length(text) + 1),
              i -> ascii(substring(text, CAST(i AS INT), 1)))), 0)
           AS BIGINT) AS byte_sum
  FROM documents WHERE text IS NOT NULL)
SELECT first_byte, COUNT(*) AS n_docs,
       CAST(SUM(n_bytes) AS BIGINT) AS sum_bytes,
       CAST(SUM(byte_sum) AS BIGINT) AS sum_byte_sum
FROM feats GROUP BY first_byte
""")
def q_multimodal(spark, sf_dir):
    return multimodal.media_feature_stats(load_table(spark, sf_dir, "documents"))


@register("multimodal_binary_ingest", f"""
SELECT doc_id,
       CAST(octet_length(encode(text || chr(10))) AS BIGINT) AS n_bytes,
       md5(text || chr(10)) AS content_md5
FROM documents
WHERE doc_id % {multimodal.BINARY_INGEST_MOD} = 0 AND text IS NOT NULL
""")
def q_multimodal_ingest(spark, sf_dir):
    """Raw-file ingest through Spark's binaryFile source: a sampled doc
    subset is staged as one file per doc (distributed text write), read
    back as binary rows, and digest-checked against the table the files
    came from. This is the real media-lake entry point the mapInPandas
    decoders consume; md5 is the one hash that is bit-identical across
    engines, so the read path itself is oracle-gated."""
    import os
    docs = load_table(spark, sf_dir, "documents")
    # keyed by corpus CONTENT, not path: a regenerated table at the
    # same sf_dir must never hit a stale staged copy
    stage = os.path.join(
        "/tmp", "movement_spark_binstage",
        f"{os.path.basename(os.path.normpath(sf_dir))}-"
        f"{multimodal.corpus_stage_key(docs)}")
    return multimodal.binary_file_ingest(spark, docs, stage)


@register("dataset_split_stats", f"""
SELECT source,
       CASE WHEN ((doc_id * 1103515245 + 12345) % {(1 << 31) - 1}) % 100 < 80 THEN 'train'
            WHEN ((doc_id * 1103515245 + 12345) % {(1 << 31) - 1}) % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents GROUP BY 1, 2
""")
def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment by pure-arithmetic hash
    bucket (a*x+b mod p — stable across engines and re-runs, so a doc
    can never leak between splits when the pipeline is re-executed):
    the split-manifest step of a pretraining data pipeline."""
    from movement_spark.operators.dataset import dataset_split_stats
    return dataset_split_stats(load_table(spark, sf_dir, "documents"))


@register("sequence_packing_stats", with_token_cte("""
, per_doc AS (
  SELECT source, doc_id, CAST(SUM(n_tok) AS BIGINT) AS doc_tok
  FROM token_sequences GROUP BY 1, 2),
placed AS (
  SELECT source, doc_tok,
         SUM(doc_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum_end
  FROM per_doc),
p2 AS (
  SELECT source, doc_tok, cum_end, cum_end - doc_tok AS cum_start
  FROM placed),
agg AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(doc_tok) AS BIGINT) AS total_tok,
         CAST(SUM(CASE WHEN cum_start // 2048 <> (cum_end - 1) // 2048
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_boundary_docs
  FROM p2 GROUP BY source)
SELECT source, n_docs, total_tok,
       CAST((total_tok + 2047) // 2048 AS BIGINT) AS n_windows,
       n_boundary_docs,
       CAST((total_tok + 2047) // 2048 * 2048 - total_tok AS BIGINT)
         AS tail_waste_tok
FROM agg
"""))
def q_packing(spark, sf_dir):
    """Sequence packing plan (concatenate-then-chunk into 2048-token
    context windows — the GPT-style training layout): per-source window
    count, boundary-crossing docs (attention-mask seams), tail waste.
    Prefix sums run INSIDE each source partition — no global order."""
    from movement_spark.operators.dataset import sequence_packing_stats
    return sequence_packing_stats(token_sequences(spark, sf_dir))


@register("token_bigram_pmi", with_token_cte(f"""
, bi AS (
  SELECT unnest(CASE WHEN n_tok >= 2 THEN
    list_transform(range(0, n_tok - 1), i ->
      CAST(tokens[i + 1] AS BIGINT) * {TOK_MOD} + CAST(tokens[i + 2] AS BIGINT))
    ELSE CAST([] AS BIGINT[]) END) AS bg
  FROM token_sequences),
bc AS (SELECT bg, COUNT(*) AS c_bigram FROM bi GROUP BY bg),
uni AS (SELECT unnest(tokens) AS t FROM token_sequences),
uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
tot AS (SELECT COUNT(*) AS n FROM bi),
top AS (SELECT bg, c_bigram FROM bc
        ORDER BY c_bigram DESC, bg ASC LIMIT 20)
SELECT CAST(bg // {TOK_MOD} AS INT) AS tok_a,
       CAST(bg % {TOK_MOD} AS INT) AS tok_b,
       c_bigram, ua.c AS c_a, ub.c AS c_b,
       CAST((c_bigram * n * 1000000) // (ua.c * ub.c) AS BIGINT) AS pmi_scaled
FROM top CROSS JOIN tot
JOIN uc ua ON ua.t = bg // {TOK_MOD}
JOIN uc ub ON ub.t = bg % {TOK_MOD}
"""))
def q_bigram_pmi(spark, sf_dir):
    """Top-20 token bigrams with integer-scaled PMI (floor(c_ab * N *
    1e6 / (c_a * c_b)) — no float log, oracle-exact): the co-occurrence
    profile a tokenizer/corpus-drift monitor watches."""
    return text.token_bigram_stats(token_sequences(spark, sf_dir),
                                   tok_mod=TOK_MOD)


@register("source_drift_tvd", with_token_cte("""
, tok AS (SELECT source, unnest(tokens) AS t FROM token_sequences),
sc AS (SELECT source, t, COUNT(*) AS c_s FROM tok GROUP BY 1, 2),
gc AS (SELECT t, CAST(SUM(c_s) AS BIGINT) AS c_g FROM sc GROUP BY 1),
tots AS (SELECT source, CAST(SUM(c_s) AS BIGINT) AS n_s
         FROM sc GROUP BY 1),
g AS (SELECT CAST(SUM(c_g) AS BIGINT) AS n_g FROM gc),
agg AS (
  SELECT sc.source, n_s, n_g,
         SUM(abs(CAST(c_s AS HUGEINT) * n_g
                 - CAST(c_g AS HUGEINT) * n_s)) AS sum_inner,
         CAST(SUM(c_g) AS BIGINT) AS cg_seen
  FROM sc JOIN gc USING (t) JOIN tots USING (source) CROSS JOIN g
  GROUP BY 1, 2, 3)
SELECT source, n_s AS n_tokens_source, n_g AS n_tokens_corpus,
       CAST(((sum_inner + CAST(n_g - cg_seen AS HUGEINT) * n_s)
             * 1000000)
            // (CAST(2 AS HUGEINT) * n_s * n_g) AS BIGINT) AS tvd_ppm
FROM agg
"""))
def q_source_drift(spark, sf_dir):
    """Per-source token-distribution drift vs the corpus: exact
    integer total-variation distance in ppm — the pre-mixing
    off-distribution check."""
    return dataset.source_drift_tvd(token_sequences(spark, sf_dir))


@register("lm_fluency_scores", with_token_cte(f"""
, bi AS (
  SELECT source, doc_id, unnest(CASE WHEN n_tok >= 2 THEN
    list_transform(range(0, n_tok - 1), i ->
      CAST(tokens[i + 1] AS BIGINT) * {TOK_MOD} + CAST(tokens[i + 2] AS BIGINT))
    ELSE CAST([] AS BIGINT[]) END) AS bg
  FROM token_sequences),
bc AS (SELECT bg, COUNT(*) AS c_bigram FROM bi GROUP BY bg),
pc AS (SELECT bg // {TOK_MOD} AS p, COUNT(*) AS c_prefix
       FROM bi GROUP BY 1),
docs AS (
  SELECT source, doc_id,
         CAST((SUM(c_bigram) * 1000000) // SUM(c_prefix) AS BIGINT)
           AS fluency_ppm
  FROM bi JOIN bc USING (bg) JOIN pc ON pc.p = bi.bg // {TOK_MOD}
  GROUP BY source, doc_id)
SELECT source, COUNT(*) AS n_docs, MIN(fluency_ppm) AS min_ppm,
       MAX(fluency_ppm) AS max_ppm,
       CAST(SUM(fluency_ppm) AS BIGINT) AS sum_ppm
FROM docs GROUP BY source
"""))
def q_lm_fluency(spark, sf_dir):
    """Bigram-LM corpus-fit score per doc (integer ratio-of-sums — the
    LM quality filter without float logs), profiled per source."""
    return text.lm_fluency_scores(token_sequences(spark, sf_dir),
                                  tok_mod=TOK_MOD)


def _bpe_ctes(n_merges: int, passes: int = text.BPE_PASSES) -> str:
    """Unrolled DuckDB mirror of the BPE training loop (text.py:
    _bpe_merge_list): per round, pair counts over the symbolized
    vocabulary, arg-max pair (count DESC, pair ASC), then the same
    sentinel-padded leftmost-non-overlapping replace iterated `passes`
    times. COALESCE(chr(1)) keeps later rounds alive if a round runs
    out of pairs (mirrors the Spark loop's break)."""
    parts = ["""WITH wc AS MATERIALIZED (
  SELECT word, COUNT(*) AS n_occ FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
  WHERE word <> '' GROUP BY 1),
v0 AS MATERIALIZED (
  SELECT word, n_occ,
         array_to_string(list_transform(range(1, length(word) + 1),
                         i -> word[i]), ' ') AS syms
  FROM wc)"""]
    for r in range(1, n_merges + 1):
        rep = "' ' || syms || ' '"
        for _ in range(passes):
            rep = (
                f"replace({rep}, COALESCE((SELECT ' ' || l || ' ' || r "
                f"|| ' ' FROM t{r}), chr(1)), "
                f"COALESCE((SELECT ' ' || merged || ' ' FROM t{r}), chr(1)))")
        parts.append(f""",
s{r} AS (SELECT n_occ, string_split(syms, ' ') AS s FROM v{r - 1}),
i{r} AS (SELECT n_occ, s, unnest(range(1, len(s))) AS i FROM s{r}),
p{r} AS (SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(n_occ) AS BIGINT) AS n
         FROM i{r} GROUP BY 1, 2),
t{r} AS MATERIALIZED (SELECT l, r, l || r AS merged, n FROM p{r}
         ORDER BY n DESC, l ASC, r ASC LIMIT 1),
v{r} AS MATERIALIZED (SELECT word, n_occ, trim({rep}) AS syms FROM v{r - 1})""")
    return "".join(parts)


_BPE_TRAIN_SQL = _bpe_ctes(text.BPE_MERGES) + "\n" + "\nUNION ALL ".join(
    f"SELECT {r} AS rank, l AS left_sym, r AS right_sym, merged, "
    f"n AS n_occ FROM t{r}" for r in range(1, text.BPE_MERGES + 1))

_BPE_ENCODE_SQL = _bpe_ctes(text.BPE_MERGES) + f""",
vt AS (SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS n_tok,
              CAST(length(word) AS BIGINT) AS n_chr
       FROM v{text.BPE_MERGES}),
w AS (SELECT source, unnest(string_split(text, ' ')) AS word
      FROM documents)
SELECT source, COUNT(*) AS n_words,
       CAST(SUM(n_chr) AS BIGINT) AS n_chars,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       (CAST(SUM(n_tok) AS BIGINT) * 10000)
         // CAST(SUM(n_chr) AS BIGINT) AS compression_bps
FROM w JOIN vt USING (word)
WHERE word <> ''
GROUP BY source
"""


@register("bpe_merge_table", _BPE_TRAIN_SQL)
def q_bpe_train(spark, sf_dir):
    """BPE tokenizer training: the 8 highest-frequency symbol-pair
    merges learned from the corpus — one corpus word-count shuffle,
    then every round runs on the Heaps'-bounded vocabulary table."""
    return text.bpe_train(load_table(spark, sf_dir, "documents"))


@register("bpe_encode_stats", _BPE_ENCODE_SQL)
def q_bpe_encode(spark, sf_dir):
    """Trained BPE merges applied back to the corpus: per-source
    chars-vs-tokens compression in exact integer basis points."""
    return text.bpe_encode_stats(load_table(spark, sf_dir, "documents"))


@register("stratified_sample_stats", f"""
WITH q AS (
  SELECT source, doc_id, n_chars,
         CAST(100 + 45 * (CAST(substring(source, 4) AS INT) % 20) AS INT)
           AS quota_permille,
         ((doc_id * 1103515245 + 12345) % {(1 << 31) - 1}) % 1000 AS bucket
  FROM documents)
SELECT source,
       MAX(quota_permille) AS quota_permille,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN bucket < quota_permille THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sampled,
       CAST(SUM(CASE WHEN bucket < quota_permille THEN n_chars ELSE 0 END) AS BIGINT)
         AS sampled_chars
FROM q GROUP BY source
""")
def q_stratified(spark, sf_dir):
    """Corpus mixing: per-source quota sampling by deterministic hash
    threshold; nested subsets as quotas grow (mixture sweeps only ADD
    docs). The sampling decision is pure arithmetic — reproducible in
    any engine and across re-runs."""
    from movement_spark.operators.dataset import stratified_sample_stats
    return stratified_sample_stats(load_table(spark, sf_dir, "documents"))


@register("benchmark_contamination", with_token_cte(f"""
, probes AS (
  SELECT ((j * 2654435761 + 13) % {TOK_MOD}) * {TOK_MOD}
         + (((j * 2654435761 + 13) % {TOK_MOD})
            + CASE WHEN j % 2 = 0 THEN 97 ELSE 98 END) % {TOK_MOD} AS g
  FROM (SELECT unnest(range(0, 64)) AS j)),
bg AS (
  SELECT source, doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] AS BIGINT) * {TOK_MOD} + CAST(tokens[i + 2] AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM token_sequences),
hits AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_contaminated,
         COUNT(*) AS n_hits
  FROM bg JOIN probes USING (g) GROUP BY source),
totals AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs
  FROM token_sequences GROUP BY source)
SELECT t.source AS source, t.n_docs AS n_docs,
       CAST(COALESCE(h.n_contaminated, 0) AS BIGINT) AS n_contaminated,
       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits
FROM totals t LEFT JOIN hits h ON t.source = h.source
"""))
def q_contamination(spark, sf_dir):
    """Eval-set decontamination scan: docs whose bigrams intersect a
    broadcast probe set (even probes follow the corpus bigram structure
    and hit; odd probes are off-pattern and provably miss)."""
    from movement_spark.operators.dataset import benchmark_contamination
    return benchmark_contamination(token_sequences(spark, sf_dir),
                                   tok_mod=TOK_MOD)


@register("intra_doc_repetition", with_token_cte(f"""
, bg AS (
  SELECT source, doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] AS BIGINT) * {TOK_MOD} + CAST(tokens[i + 2] AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM token_sequences),
per_doc AS (
  SELECT source, doc_id, COUNT(*) AS total, COUNT(DISTINCT g) AS n_distinct,
         ((COUNT(*) - COUNT(DISTINCT g)) * 1000) // COUNT(*) AS rep_x1000
  FROM bg GROUP BY 1, 2)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rep_x1000 >= 200 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(rep_x1000) AS BIGINT) AS sum_rep_x1000
FROM per_doc GROUP BY source
"""))
def q_repetition(spark, sf_dir):
    """Intra-document repetition quality filter (duplicate-bigram
    fraction per doc, exact integer permille): the Gopher-style
    repetition signal over the merged shard stream."""
    return text.intra_doc_repetition(token_sequences(spark, sf_dir),
                                     tok_mod=TOK_MOD)


@register("top_ngram_fraction", with_token_cte(f"""
, bg AS (
  SELECT source, doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] AS BIGINT) * {TOK_MOD} + CAST(tokens[i + 2] AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM token_sequences),
top AS (
  SELECT source, doc_id, MAX(c) AS top_c FROM (
    SELECT source, doc_id, g, COUNT(*) AS c FROM bg GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
tot AS (
  SELECT source, doc_id, CAST(SUM(n_tok) AS BIGINT) AS n_tok_doc
  FROM token_sequences GROUP BY 1, 2),
per_doc AS (
  SELECT t.source, t.doc_id, (top_c * 2 * 1000) // n_tok_doc AS frac_x1000
  FROM top t JOIN tot USING (source, doc_id))
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN frac_x1000 >= 150 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(frac_x1000) AS BIGINT) AS sum_frac_x1000,
       CAST(MAX(frac_x1000) AS BIGINT) AS max_frac_x1000
FROM per_doc GROUP BY source
"""))
def q_top_ngram_fraction(spark, sf_dir):
    """Top-n-gram fraction filter (text.py top_ngram_fraction): the
    share of a doc its single most frequent bigram occupies — Gopher's
    second repetition rule, the max-frequency complement to
    intra_doc_repetition's distinct-ratio. Exact integer permille; no
    argmax tie-break needed because only the max COUNT is used."""
    return text.top_ngram_fraction(token_sequences(spark, sf_dir),
                                   tok_mod=TOK_MOD)


_SIMHASH_PAIRS_SQL = with_token_cte(f"""
, shingles AS (
  SELECT DISTINCT doc_id, unnest(tokens) % {dedup.SHINGLE_MOD} AS sh
  FROM token_sequences WHERE did % 10 = 0),
bits AS (
  SELECT doc_id, unnest(range(0, {dedup.SIMHASH_BITS})) AS b,
         (sh * {dedup.SIMHASH_MULT}) % {1 << 32} AS hv
  FROM shingles),
votes AS (
  SELECT doc_id, b, SUM(((hv >> CAST(b AS INT)) % 2) * 2 - 1) AS s
  FROM bits GROUP BY 1, 2),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id),
banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> CAST(band * 8 AS INT)) % 256 AS bv
  FROM (SELECT doc_id, simhash, unnest(range(0, {dedup.SIMHASH_BANDS})) AS band
        FROM sims)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 8
""")


@register("simhash_neardup_pairs", _SIMHASH_PAIRS_SQL)
def q_simhash_pairs(spark, sf_dir):
    """SimHash hash → banded candidates → exact hamming verify: the
    pipeline completion of simhash_docs (which only emits hashes).
    Candidates come from byte-band buckets, never all-pairs."""
    return dedup.simhash_neardup_pairs(
        token_sequences(spark, sf_dir, keep_did=True))


_IVF_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
scored AS (
  SELECT q.vec_id, q.qv, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
assigned AS (
  SELECT vec_id, qv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM scored) WHERE rn = 1),
queries AS (SELECT vec_id AS query_id, qv AS query_v, cent_id AS q_cent
            FROM assigned WHERE vec_id < 10),
cand AS (
  SELECT query_id, a.vec_id,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * queries.query_v[i])) AS BIGINT) AS dot
  FROM assigned a JOIN queries ON a.cent_id = queries.q_cent
  WHERE a.vec_id <> queries.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM cand)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("ann_ivf_topk", _IVF_SQL)
def q_ann_ivf(spark, sf_dir):
    """IVF ANN (nprobe=1): inverted-file coarse quantization — the third
    ANN layout next to brute-force (re-rank path) and sign-LSH buckets;
    shuffle key = centroid id."""
    df = similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"))
    return df.withColumn("rank", F.col("rank").cast("int"))


# Shared PQ oracle algebra — ONE definition of quantize / codebook /
# sub-slice / encode (mirrors similarity.pq_codebook + pq_encode);
# _PQ_LUT_CTE mirrors similarity._pq_lut_expr for the 10 fixture
# queries and _PQ_SCORES_CTE the ADC accumulation of pq_search.
_PQ_BASE_CTES = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
subs AS (SELECT unnest(range(0, {similarity.PQ_M})) AS m),
cb AS (
  SELECT q.vec_id AS code, subs.m,
         q.qv[subs.m * {similarity.PQ_SUB} + 1 :
              subs.m * {similarity.PQ_SUB} + {similarity.PQ_SUB}] AS cw
  FROM q CROSS JOIN subs WHERE q.vec_id < {similarity.PQ_KSUB}),
vecsub AS (
  SELECT q.vec_id, subs.m,
         q.qv[subs.m * {similarity.PQ_SUB} + 1 :
              subs.m * {similarity.PQ_SUB} + {similarity.PQ_SUB}] AS sv
  FROM q CROSS JOIN subs),
dists AS (
  SELECT v.vec_id, v.m, cb.code,
         CAST(list_sum(list_transform(range(1, {similarity.PQ_SUB} + 1),
           i -> (v.sv[i] - cb.cw[i]) * (v.sv[i] - cb.cw[i]))) AS BIGINT) AS d
  FROM vecsub v JOIN cb ON v.m = cb.m),
enc AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, code ASC) AS rn
    FROM dists) WHERE rn = 1)"""

_PQ_LUT_CTE = f""",
lut AS (
  SELECT v.vec_id AS query_id, v.m, cb.code,
         CAST(list_sum(list_transform(range(1, {similarity.PQ_SUB} + 1),
           i -> v.sv[i] * cb.cw[i])) AS BIGINT) AS pdot
  FROM vecsub v JOIN cb ON v.m = cb.m
  WHERE v.vec_id < 10)"""

_PQ_SCORES_CTE = """,
scores AS (
  SELECT l.query_id, e.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS approx_dot
  FROM enc e JOIN lut l ON e.m = l.m AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)"""

_PQ_RANKED_TAIL = """,
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY approx_dot DESC, vec_id ASC) AS rank
  FROM scores)
SELECT query_id, vec_id, approx_dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

_PQ_SQL = _PQ_BASE_CTES + _PQ_LUT_CTE + _PQ_SCORES_CTE + _PQ_RANKED_TAIL


# ADC pool (pool=20) + exact re-rank: the shared PQ chain up to
# `scores`, then the pooled candidates are re-scored by the TRUE
# quantized dot and re-ranked — the deployed PQ composition (measured
# at 1M vectors in BENCH/ann_scale.json: ADC-alone recall 0.17, pooled
# re-rank 0.82).
# pool the top-20 ADC candidates, re-score by the TRUE quantized dot,
# re-rank — shared by the PQ and IVF-PQ re-rank forms.
_PQ_POOL_RERANK_TAIL = """,
pooled AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY approx_dot DESC, vec_id ASC) AS prank
    FROM scores) WHERE prank <= 20),
exact AS (
  SELECT p.query_id, p.vec_id,
         CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
              i -> v.qv[i] * qq.qv[i])) AS BIGINT) AS dot
  FROM pooled p
  JOIN q v ON v.vec_id = p.vec_id
  JOIN q qq ON qq.vec_id = p.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM exact)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""

_PQ_RERANK_SQL = _PQ_BASE_CTES + _PQ_LUT_CTE + _PQ_SCORES_CTE \
    + _PQ_POOL_RERANK_TAIL


@register("ann_pq_rerank_topk", _PQ_RERANK_SQL)
def q_ann_pq_rerank(spark, sf_dir):
    """PQ as deployed: ADC proposes a pool of 20 candidates per query,
    an exact integer dot re-ranks the pool to top-5 — quantization
    bounds WHICH candidates surface, the re-rank restores ordering."""
    return similarity.pq_rerank_topk(load_table(spark, sf_dir, "embeddings"))


@register("ann_pq_topk", _PQ_SQL)
def q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (ADC): the fourth ANN layout — vectors
    compressed to PQ_M codes, queries scored by LUT lookups. The corpus
    pass reads 4 ints per vector instead of 64; the memory trade that
    fits billion-vector indexes in cluster RAM (composable with IVF
    lists as IVF-PQ)."""
    return similarity.pq_topk(load_table(spark, sf_dir, "embeddings"))


# PQ with a TRAINED codebook: the shared chain IS round-0 (seed
# codebook + encode); one Lloyd round re-estimates codewords from the
# round-0 assignment (cb1 falls back to the seed for empty codes),
# re-encodes, and scores through the retrained LUT.
_PQ_TRAINED_SQL = _PQ_BASE_CTES + f""",
memdims AS (
  SELECT e.m, e.code, unnest(v.sv) AS val,
         CAST(generate_subscripts(v.sv, 1) AS INT) AS dim
  FROM enc e JOIN vecsub v ON v.vec_id = e.vec_id AND v.m = e.m),
means AS (
  SELECT m, code, dim,
         CAST(floor(SUM(val) / COUNT(*)) AS BIGINT) AS cv
  FROM memdims GROUP BY m, code, dim),
cw1 AS (SELECT m, code, list(cv ORDER BY dim) AS cw
        FROM means GROUP BY m, code),
cb1 AS (
  SELECT g.m, g.code, COALESCE(c.cw, g.cw) AS cw
  FROM cb g LEFT JOIN cw1 c ON g.m = c.m AND g.code = c.code),
d1 AS (
  SELECT v.vec_id, v.m, cb1.code,
         CAST(list_sum(list_transform(range(1, {similarity.PQ_SUB} + 1),
           i -> (v.sv[i] - cb1.cw[i]) * (v.sv[i] - cb1.cw[i]))) AS BIGINT) AS d
  FROM vecsub v JOIN cb1 ON v.m = cb1.m),
enc1 AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY d ASC, code ASC) AS rn
    FROM d1) WHERE rn = 1),
lut AS (
  SELECT v.vec_id AS query_id, v.m, cb1.code,
         CAST(list_sum(list_transform(range(1, {similarity.PQ_SUB} + 1),
           i -> v.sv[i] * cb1.cw[i])) AS BIGINT) AS pdot
  FROM vecsub v JOIN cb1 ON v.m = cb1.m
  WHERE v.vec_id < 10),
scores AS (
  SELECT l.query_id, e.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS approx_dot
  FROM enc1 e JOIN lut l ON e.m = l.m AND e.code = l.code
  WHERE e.vec_id <> l.query_id
  GROUP BY 1, 2)""" + _PQ_RANKED_TAIL


# IVF-PQ: the shared encode chain plus coarse-centroid assignment;
# candidates are restricted to the probed inverted lists before the
# same ADC accumulation.
_IVFPQ_SCORES_CTES = _PQ_BASE_CTES + f""",
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
cscored AS (
  SELECT q.vec_id, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
cassigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM cscored) WHERE rn = 1),
probes AS (SELECT vec_id AS query_id, cent_id AS q_cent
           FROM cassigned WHERE vec_id < 10)""" + _PQ_LUT_CTE + """,
cand AS (
  SELECT p.query_id, e.vec_id, e.m, e.code
  FROM cassigned a
  JOIN probes p ON a.cent_id = p.q_cent
  JOIN enc e ON e.vec_id = a.vec_id
  WHERE a.vec_id <> p.query_id),
scores AS (
  SELECT c.query_id, c.vec_id, CAST(SUM(l.pdot) AS BIGINT) AS approx_dot
  FROM cand c JOIN lut l
    ON l.query_id = c.query_id AND l.m = c.m AND l.code = c.code
  GROUP BY 1, 2)"""

_IVFPQ_SQL = _IVFPQ_SCORES_CTES + _PQ_RANKED_TAIL
# the full production stack: IVF bounds candidates, PQ bounds bytes,
# the exact re-rank restores ordering over the pooled top-20
_IVFPQ_RERANK_SQL = _IVFPQ_SCORES_CTES + _PQ_POOL_RERANK_TAIL


@register("ann_ivfpq_rerank_topk", _IVFPQ_RERANK_SQL)
def q_ann_ivfpq_rerank(spark, sf_dir):
    """The full production ANN stack: IVF bounds WHICH vectors a query
    touches, PQ/ADC bounds the bytes per touched vector to propose a
    pool of 20, the exact integer re-rank restores the true top-5."""
    return similarity.ivfpq_rerank_topk(
        load_table(spark, sf_dir, "embeddings"))


@register("ann_ivfpq_topk", _IVFPQ_SQL)
def q_ann_ivfpq(spark, sf_dir):
    """IVF-PQ (nprobe=1): inverted lists bound WHICH vectors a query
    touches, PQ codes bound HOW MUCH is read per vector — the composed
    layout billion-vector deployments use."""
    return similarity.ivfpq_topk(load_table(spark, sf_dir, "embeddings"))


@register("ann_pq_trained_topk", _PQ_TRAINED_SQL)
def q_ann_pq_trained(spark, sf_dir):
    """PQ with a TRAINED codebook (one Lloyd round per subspace):
    ADC search over codes from the refined quantizer — the full
    production PQ lifecycle (train → encode → search), recall measured
    against brute force in test_pq_recall_floor_vs_brute_force."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook_trained(emb)
    return similarity.pq_search(similarity.pq_encode(emb, cb), emb, cb)


# Shared CTE chain for the LSH-candidate exact-verification paths
# (mirrors dedup._lsh_pair_overlap): minhash → bands → candidate pairs →
# gram sets → per-pair intersection counts + per-doc gram sizes.
_LSH_OVERLAP_CTES = _MINHASH_BANDS_CTES + f"""
, cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] % {dedup.JACCARD_MOD} AS BIGINT) * {dedup.JACCARD_MOD}
             + CAST(tokens[i + 2] % {dedup.JACCARD_MOD} AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM token_sequences
  WHERE doc_id IN (SELECT doc_a FROM cands UNION SELECT doc_b FROM cands)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cands c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b AND gb.g = ga.g
  GROUP BY 1, 2)
"""

_LSH_JACCARD_SQL = with_token_cte(_LSH_OVERLAP_CTES + """
SELECT doc_a, doc_b, n_inter,
       sa.sz + sb.sz - n_inter AS n_union
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter * 2 >= sa.sz + sb.sz - n_inter
""")

_LSH_CONTAIN_SQL = with_token_cte(_LSH_OVERLAP_CTES + """
SELECT doc_a, doc_b, n_inter,
       least(sa.sz, sb.sz) AS sz_small,
       CAST((n_inter * 1000) // least(sa.sz, sb.sz) AS BIGINT)
         AS containment_pmil
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter * 2 >= least(sa.sz, sb.sz)
""")


@register("lsh_candidate_jaccard", _LSH_JACCARD_SQL)
def q_lsh_jaccard(spark, sf_dir):
    """The production dedup wiring end-to-end, sample-free: MinHash band
    buckets propose candidates, exact n-gram Jaccard verifies only those
    pairs (keep at jaccard >= 0.5). Every pair-producing join is keyed
    by (band, bucket) or (doc, gram) — never all-pairs (closes the
    sampled-input TODO from round 1, dedup.py)."""
    return dedup.lsh_verified_neardups(token_sequences(spark, sf_dir))


@register("cyclic_replay_odometer", """
WITH wheel AS (
  SELECT n_nationkey,
         row_number() OVER (ORDER BY n_nationkey) - 1 AS pos
  FROM nation),
sz AS (SELECT COUNT(*) AS size FROM nation),
ticks AS (SELECT unnest(range(0, 62)) AS tick),
taken AS (
  SELECT CAST(tick // size AS INT) AS rot, CAST(tick % size AS INT) AS pos
  FROM ticks CROSS JOIN sz)
SELECT rot,
       COUNT(*) AS n_in_rot,
       CAST(SUM(n_nationkey) AS BIGINT) AS sum_key,
       CAST(MAX(pos) AS INT) AS max_pos,
       CAST((SELECT (62 - 1) // size FROM sz) AS INT) AS completed_rotations
FROM taken JOIN wheel USING (pos)
GROUP BY rot
""")
def q_cyclic(spark, sf_dir):
    """CyclicStream as a first-class operator with rotation odometers
    (CyclicStream.java:15,28,46-58; odometer law pinned by
    CyclicStreamTest.java:22-50 goldens in tests/test_mechanics.py):
    replay the nation wheel for 62 ticks, report per-rotation stats plus
    the completedRotations scalar — the observable half of the paper's
    gear algebra."""
    from movement_spark.operators.mechanics import CyclicReplay
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey")
    rep = CyclicReplay(nation, "n_nationkey")
    return (
        rep.take(62)
        .groupBy("rot")
        .agg(F.count("*").alias("n_in_rot"),
             F.sum("n_nationkey").cast("bigint").alias("sum_key"),
             F.max("pos").cast("int").alias("max_pos"))
        .withColumn("completed_rotations",
                    F.lit(rep.completed_rotations(62)).cast("int"))
    )


@register("tfidf_top_terms", """
WITH words AS (
  SELECT doc_id, source, unnest(string_split(text, ' ')) AS term
  FROM documents),
tf AS (SELECT source, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM words GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT source, tf.term, tf, df,
         tf * ((n_docs * 1000000) // df) AS score
  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY score DESC, term ASC) AS rnk
  FROM scored)
SELECT source, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       CAST(score AS BIGINT) AS score, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 5
""")
def q_tfidf(spark, sf_dir):
    """Per-source characteristic-vocabulary profile: top-5 terms by
    integer-scaled TF-IDF (log-free floor(N*1e6/df) — exact in both
    engines). One corpus explode, two map-side-combined aggregates, the
    small vocabulary broadcast back."""
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"))


@register("corpus_temperature_mix", """
WITH per_src AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS n_chars_src
  FROM documents GROUP BY source),
sq AS (
  SELECT source, n_docs, n_chars_src,
         CASE WHEN s * s > n_chars_src THEN s - 1
              WHEN (s + 1) * (s + 1) <= n_chars_src THEN s + 1
              ELSE s END AS sqrt_chars
  FROM (SELECT *, CAST(FLOOR(SQRT(n_chars_src)) AS BIGINT) AS s
        FROM per_src)),
tot AS (SELECT CAST(SUM(sqrt_chars) AS BIGINT) AS sum_sqrt,
               CAST(SUM(n_chars_src) AS BIGINT) AS total_chars FROM sq),
w AS (
  SELECT source, n_docs, n_chars_src, sqrt_chars,
         (sqrt_chars * 1000000) // sum_sqrt AS weight_ppm, total_chars
  FROM sq CROSS JOIN tot),
t AS (
  SELECT *, (weight_ppm * total_chars) // 1000000 AS target_chars FROM w)
SELECT source, n_docs, n_chars_src,
       CAST(sqrt_chars AS BIGINT) AS sqrt_chars,
       CAST(weight_ppm AS BIGINT) AS weight_ppm,
       CAST(target_chars AS BIGINT) AS target_chars,
       CAST((target_chars * 1000) // n_chars_src AS BIGINT) AS epochs_x1000
FROM t
""")
def q_temperature_mix(spark, sf_dir):
    """Temperature-scaled (τ=0.5) corpus-mixing manifest: per-source
    sampling weight ∝ isqrt(chars), char targets and effective epochs —
    exact integer math so planner and sampler can never drift. One
    scan, one tiny aggregate, scalar broadcast normalization."""
    from movement_spark.operators.dataset import temperature_mix_stats
    return temperature_mix_stats(load_table(spark, sf_dir, "documents"))


# Generated from sketches.CMS_AB (cms_cell_sql) so the oracle can
# never drift from the Spark grid builder's constants.
_CMS_CASE_CELL = sketches.cms_cell_sql("k")


@register("cms_heavy_hitters", f"""
WITH counts AS (
  SELECT o_custkey AS k, COUNT(*) AS cnt FROM orders GROUP BY 1),
js AS (SELECT unnest(range(0, 4)) AS j),
hashed AS (
  SELECT k, cnt, j, {_CMS_CASE_CELL} AS cell
  FROM counts CROSS JOIN js),
cells AS (
  SELECT j, cell, CAST(SUM(cnt) AS BIGINT) AS cell_cnt
  FROM hashed GROUP BY 1, 2),
top AS (SELECT k, cnt FROM counts ORDER BY cnt DESC, k ASC LIMIT 10),
est AS (
  SELECT h.k, h.cnt, MIN(c.cell_cnt) AS cms_est
  FROM hashed h JOIN top USING (k) JOIN cells c USING (j, cell)
  GROUP BY 1, 2)
SELECT k AS key, CAST(cnt AS BIGINT) AS exact_cnt,
       CAST(cms_est AS BIGINT) AS cms_est,
       CAST(cms_est - cnt AS BIGINT) AS overestimate
FROM est
""")
def q_cms(spark, sf_dir):
    """Count-min-sketch accuracy audit for the exact top-10 customers
    by order count: the sketch's d×w additive counter grid is built with
    deterministic a*x+b mod p hashes, so estimate and overestimate are
    oracle-exact. The grid stays d*w rows however many keys stream
    through — the bounded-memory frequency path at 10^12 keys."""
    from movement_spark.operators.sketches import cms_heavy_hitters
    return cms_heavy_hitters(load_table(spark, sf_dir, "orders"),
                             "o_custkey")


_BLOOM_CASE_POS = """CASE j
  WHEN 0 THEN ((1103515245 * k + 17) % 2147483647) % 4096
  WHEN 1 THEN ((2027485571 * k + 8191) % 2147483647) % 4096
  ELSE ((1337888347 * k + 524287) % 2147483647) % 4096 END"""


@register("bloom_join_prune", f"""
WITH build AS (
  SELECT DISTINCT c_custkey AS bk FROM customer
  WHERE c_mktsegment = 'BUILDING'),
js AS (SELECT unnest(range(0, 3)) AS j),
bits AS (
  SELECT DISTINCT {_BLOOM_CASE_POS} AS pos
  FROM (SELECT bk AS k FROM build) CROSS JOIN js),
ph AS (
  SELECT o_orderkey, o_custkey, {_BLOOM_CASE_POS} AS pos
  FROM (SELECT o_orderkey, o_custkey, o_custkey AS k FROM orders)
  CROSS JOIN js),
hits AS (
  SELECT o_orderkey, MIN(CASE WHEN b.pos IS NULL THEN 0 ELSE 1 END)
         AS all_hit
  FROM ph LEFT JOIN bits b USING (pos) GROUP BY o_orderkey),
flags AS (
  SELECT h.all_hit,
         CASE WHEN bu.bk IS NULL THEN 0 ELSE 1 END AS is_true
  FROM hits h JOIN orders o USING (o_orderkey)
  LEFT JOIN build bu ON o.o_custkey = bu.bk)
SELECT COUNT(*) AS n_probe,
       CAST(SUM(all_hit) AS BIGINT) AS n_passed,
       CAST(SUM(is_true) AS BIGINT) AS n_true,
       CAST(SUM(CASE WHEN all_hit = 1 AND is_true = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_pos,
       CAST(SUM(CASE WHEN is_true = 1 AND all_hit = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_neg,
       (SELECT COUNT(*) FROM build) AS n_build
FROM flags
""")
def q_bloom_prune(spark, sf_dir):
    """Bloom-filter join-pruning audit (manual runtime filter): a
    4096-bit filter over BUILDING-segment customers ships as an in-plan
    bitmap literal; every order is tested with shifts+mask (zero added
    shuffle) and scored against the exact semi join — pass rate, false
    positives, and the structural n_false_neg = 0 guarantee."""
    from movement_spark.operators.sketches import bloom_prune_stats
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING")
    return bloom_prune_stats(load_table(spark, sf_dir, "orders"),
                             "o_custkey", cust, "c_custkey")


@register("events_gap_fill_daily", """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS day_value
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
         FROM daily GROUP BY 1),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span)
SELECT g.user_id,
       CAST(g.day - DATE '1970-01-01' AS INT) AS day_no,
       COALESCE(d.n_events, 0) AS n_events,
       CAST(CAST(COALESCE(d.day_value, 0) AS DECIMAL(18,2)) AS DOUBLE)
         AS day_value,
       CASE WHEN d.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
""")
def q_gap_fill(spark, sf_dir):
    """Per-user daily resample with explicit zero rows for inactive days
    (sequence+explode day grid bounded per user, co-partitioned fill
    join) — the regularization pass before rolling-window features."""
    return windows.gap_fill_daily(load_table(spark, sf_dir, "events"))


@register("revenue_deciles", """
WITH rev AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS revenue
  FROM orders GROUP BY 1),
tiled AS (
  SELECT *, CAST(ntile(10) OVER (ORDER BY revenue DESC, o_custkey ASC)
                 AS INT) AS decile
  FROM rev)
SELECT decile, COUNT(*) AS n_cust,
       CAST(CAST(SUM(revenue) AS DECIMAL(18,2)) AS DOUBLE) AS decile_revenue,
       CAST(MIN(revenue) AS DOUBLE) AS min_revenue,
       CAST(MAX(revenue) AS DOUBLE) AS max_revenue
FROM tiled GROUP BY decile
""")
def q_revenue_deciles(spark, sf_dir):
    """Revenue-concentration profile: deterministic ntile(10) over the
    per-customer revenue aggregate, DECIMAL money throughout."""
    return relational.revenue_deciles(load_table(spark, sf_dir, "orders"))


@register("incident_attribution", """
WITH err AS (
  SELECT event_id AS incident_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS w_start,
         CAST(floor(epoch(ts)) AS BIGINT) + 120 AS w_end
  FROM events WHERE event_type = 'error'),
probe AS (
  SELECT event_id, user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS ets
  FROM events)
SELECT incident_id, COUNT(*) AS n_attributed,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_value
FROM err JOIN probe ON ets >= w_start AND ets < w_end
GROUP BY incident_id
""")
def q_incident_attribution(spark, sf_dir):
    """Interval-containment join rewritten as a bin join: error events
    open [ts, ts+120s) incident windows, every event inside a window is
    attributed. Intervals explode to their ≤2 bins, probes carry one bin,
    exact predicate after the equi-join — O(rows) shuffle, no theta join.
    The oracle IS the naive theta join, proving the rewrite exact."""
    return joins.incident_attribution(load_table(spark, sf_dir, "events"))


@register("segment_dedup_stats", """
WITH words AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
eligible AS (SELECT * FROM words WHERE len(w) >= 8),
segs AS (
  SELECT doc_id, source,
         unnest(list_transform(range(len(w) // 8),
                i -> array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8),
                                     ' '))) AS seg
  FROM eligible),
sc AS (SELECT seg, COUNT(*) AS n_occ FROM segs GROUP BY 1)
SELECT source, COUNT(*) AS n_segs,
       CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_occ,
       COUNT(DISTINCT seg) AS n_distinct_segs,
       (CAST(SUM(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
         // COUNT(*) AS dup_permille
FROM segs JOIN sc USING (seg)
GROUP BY source
""")
def q_segment_dedup(spark, sf_dir):
    """Sub-document boilerplate profile: fixed 8-word segments, corpus-
    global duplicate detection, per-source permille rate."""
    return dedup.segment_dedup_stats(load_table(spark, sf_dir, "documents"))


@register("pii_scrub_audit", """
WITH scored AS (
  SELECT event_type,
         len(regexp_extract_all(props, '[0-9]+')) AS n_runs,
         length(props) AS len_raw,
         length(regexp_replace(props, '[0-9]+', '#', 'g')) AS len_red
  FROM events)
SELECT event_type, COUNT(*) AS n_records,
       CAST(SUM(CASE WHEN n_runs > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_flagged,
       CAST(SUM(n_runs) AS BIGINT) AS total_runs,
       CAST(SUM(len_raw) AS BIGINT) AS bytes_raw,
       CAST(SUM(len_red) AS BIGINT) AS bytes_redacted
FROM scored GROUP BY event_type
""")
def q_pii_scrub(spark, sf_dir):
    """Redaction audit: digit-run scrub over the raw props payload, all
    JVM regexp column work, one map-side-combined rollup."""
    return text.scrub_audit(load_table(spark, sf_dir, "events"))


@register("loglog_distinct_sketch", """
WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
h AS (SELECT ((1103515245 * k + 12345) % 2147483647) AS hv FROM keys),
r AS (SELECT hv % 64 AS reg, length(bin(hv // 64)) AS bl FROM h),
g AS (SELECT reg, MAX(bl) AS max_bl FROM r GROUP BY 1),
s AS (SELECT COUNT(*) AS registers_used,
             CAST(SUM(max_bl) AS BIGINT) AS sum_max_bitlen,
             CAST(MAX(max_bl) AS BIGINT) AS max_bitlen FROM g),
n AS (SELECT COUNT(*) AS exact_distinct FROM keys)
SELECT registers_used, sum_max_bitlen, max_bitlen, exact_distinct,
       CAST(CAST(64 AS BIGINT) << CAST(sum_max_bitlen // 64 AS INT)
            AS BIGINT) AS sketch_estimate
FROM s CROSS JOIN n
""")
def q_loglog(spark, sf_dir):
    """Register-grid (LogLog/HLL-family) distinct sketch with integer
    bit-length registers — fixed-size grid, map-side-combined build,
    estimate audited against the exact distinct count."""
    from movement_spark.operators.sketches import loglog_register_profile
    return loglog_register_profile(load_table(spark, sf_dir, "orders"),
                                   "o_custkey")


@register("scd2_status_intervals", """
SELECT o_custkey, o_orderkey, o_orderstatus AS status,
       CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS INT)
         AS valid_from,
       CAST(COALESCE(
         lead(CAST(o_orderdate AS DATE) - DATE '1970-01-01')
           OVER (PARTITION BY o_custkey
                 ORDER BY CAST(o_orderdate AS DATE) ASC, o_orderkey ASC),
         9999999) AS INT) AS valid_to,
       CASE WHEN lead(o_orderkey)
                 OVER (PARTITION BY o_custkey
                       ORDER BY CAST(o_orderdate AS DATE) ASC,
                                o_orderkey ASC) IS NULL
            THEN 1 ELSE 0 END AS is_current
FROM orders
""")
def q_scd2(spark, sf_dir):
    """SCD Type-2 validity intervals per customer from the order stream:
    lead() over (customer, date, key); open tail = is_current."""
    return relational.order_status_intervals(
        load_table(spark, sf_dir, "orders"))


@register("corpus_filter_manifest", """
WITH keepers AS (
  SELECT text, MIN(doc_id) AS keeper_id FROM documents GROUP BY 1),
feats AS (
  SELECT d.source, d.doc_id, d.lang, d.n_chars, k.keeper_id,
         string_split(d.text, ' ') AS w
  FROM documents d JOIN keepers k USING (text)),
f2 AS (
  SELECT source, doc_id, lang, n_chars, keeper_id, len(w) AS nw,
         CASE WHEN len(w) >= 2 THEN
           len(list_distinct(list_transform(range(len(w) - 1),
               i -> w[i + 1] || ' ' || w[i + 2])))
         ELSE 0 END AS n_distinct_bg
  FROM feats),
v AS (
  SELECT source, n_chars,
         CASE WHEN doc_id <> keeper_id THEN 'exact_dup'
              WHEN lang <> 'en' THEN 'bad_lang'
              WHEN n_chars < 120 THEN 'too_short'
              WHEN nw >= 2
                   AND (n_distinct_bg * 1000) // greatest(nw - 1, 1) < 600
                THEN 'repetitive'
              ELSE 'keep' END AS verdict
  FROM f2)
SELECT source, verdict, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM v GROUP BY 1, 2
""")
def q_corpus_filter(spark, sf_dir):
    """The composed corpus-filter funnel: one deterministic verdict per
    doc (exact_dup → bad_lang → too_short → repetitive → keep), rolled
    into the per-source drop manifest a pretraining pipeline ships."""
    from movement_spark.operators.dataset import corpus_filter_manifest
    return corpus_filter_manifest(load_table(spark, sf_dir, "documents"))


@register("pagerank_token_graph", with_token_cte("""
, bg AS (
  SELECT unnest(list_transform(range(n_tok - 1),
         i -> CAST(tokens[i + 1] AS BIGINT) * 50261
              + CAST(tokens[i + 2] AS BIGINT))) AS bg
  FROM token_sequences WHERE n_tok >= 2),
edges AS (SELECT bg // 50261 AS u, bg % 50261 AS v, COUNT(*) AS w
          FROM bg GROUP BY 1, 2),
outw AS (SELECT u, SUM(w) AS out_w FROM edges GROUP BY 1),
e2 AS (SELECT e.u, e.v, e.w, o.out_w FROM edges e JOIN outw o USING (u)),
nodes AS (SELECT u AS tok FROM edges UNION SELECT v FROM edges),
params AS (SELECT COUNT(*) AS n FROM nodes),
r0 AS (SELECT tok, (1000000000000 // n) AS pr
       FROM nodes CROSS JOIN params),
c1 AS (SELECT e.v AS tok, SUM((r.pr * e.w) // e.out_w) AS sc
       FROM e2 e JOIN r0 r ON e.u = r.tok GROUP BY 1),
r1 AS (SELECT n.tok, ((150000000000 // p.n)
                      + (85 * COALESCE(c.sc, 0)) // 100) AS pr
       FROM nodes n LEFT JOIN c1 c USING (tok) CROSS JOIN params p),
c2 AS (SELECT e.v AS tok, SUM((r.pr * e.w) // e.out_w) AS sc
       FROM e2 e JOIN r1 r ON e.u = r.tok GROUP BY 1),
r2 AS (SELECT n.tok, ((150000000000 // p.n)
                      + (85 * COALESCE(c.sc, 0)) // 100) AS pr
       FROM nodes n LEFT JOIN c2 c USING (tok) CROSS JOIN params p),
c3 AS (SELECT e.v AS tok, SUM((r.pr * e.w) // e.out_w) AS sc
       FROM e2 e JOIN r2 r ON e.u = r.tok GROUP BY 1),
r3 AS (SELECT n.tok, ((150000000000 // p.n)
                      + (85 * COALESCE(c.sc, 0)) // 100) AS pr
       FROM nodes n LEFT JOIN c3 c USING (tok) CROSS JOIN params p)
SELECT CAST(tok AS INT) AS tok, CAST(pr AS BIGINT) AS pr_final
FROM r3 ORDER BY pr DESC, tok ASC LIMIT 20
"""))
def q_pagerank(spark, sf_dir):
    """Fixed-iteration (3-round) integer PageRank on the token-
    transition graph: bounded join+agg loop, edges persisted once, one
    dest-keyed shuffle per round; the oracle unrolls the same rounds as
    CTEs, proving the distributed loop bit-exact."""
    from movement_spark.operators.graph import pagerank_top_tokens
    return pagerank_top_tokens(token_sequences(spark, sf_dir))


@register("streaming_incomplete_audit", with_token_cte("""
SELECT 'd' || CAST(did AS VARCHAR) AS doc_id,
       CAST(did % 4 AS INT) AS n_received,
       CAST(1 + did % 4 AS INT) AS expected
FROM (SELECT DISTINCT did FROM token_sequences)
WHERE did % 5 = 0 AND 1 + did % 4 >= 2
"""))
def q_streaming_incomplete(spark, sf_dir):
    """Event-time-timeout eviction made observable: over a lossy drop
    (every 5th doc loses shard seq=1) the stateful assembler emits one
    audit row per doc the watermark timed out, with received vs expected
    shard counts — the drop-and-COUNT half of the dangling policy. The
    oracle derives the incomplete set arithmetically from the drop rule."""
    from movement_spark.streaming.pipeline import (
        run_streaming_incomplete_audit)
    return run_streaming_incomplete_audit(spark, sf_dir)


@register("streaming_dedup_sessions", with_token_cte("""
, ordered AS (
  SELECT doc_id, ts, n_tok,
         lag(ts) OVER (PARTITION BY doc_id ORDER BY ts) AS pts
  FROM token_sequences),
marked AS (
  SELECT *, CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 90 SECONDS
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY doc_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked)
SELECT doc_id,
       CAST(epoch(MIN(ts)) AS BIGINT) AS session_start,
       CAST(epoch(MAX(ts)) AS BIGINT) + 90 AS session_end,
       COUNT(*) AS n_shard,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok
FROM islands GROUP BY doc_id, sid
"""))
def q_streaming_dedup_sessions(spark, sf_dir):
    """Two chained stateful operators in one streaming DAG: exactly-once
    restoration (dropDuplicatesWithinWatermark over the doubled drop)
    feeding session windows — must equal the session oracle over the
    CLEAN table."""
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_sessions)
    return run_streaming_dedup_sessions(spark, sf_dir)


from movement_spark.operators.layout import duckdb_zvalue as _ddb_zv  # noqa: E402

@register("zorder_layout_stats", f"""
WITH base AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
           AS day_no
  FROM orders),
z AS (SELECT o_custkey, day_no,
             {_ddb_zv('(o_custkey % 4096)', '(day_no % 4096)')} AS zv
      FROM base),
b AS (SELECT *, CAST(zv // 262144 AS INT) AS bucket FROM z)
SELECT bucket, COUNT(*) AS n_rows,
       CAST(MIN(o_custkey) AS BIGINT) AS min_cust,
       CAST(MAX(o_custkey) AS BIGINT) AS max_cust,
       CAST(MIN(day_no) AS INT) AS min_day,
       CAST(MAX(day_no) AS INT) AS max_day,
       CAST(MAX(o_custkey) - MIN(o_custkey) AS BIGINT) AS cust_span,
       CAST(MAX(day_no) - MIN(day_no) AS INT) AS day_span
FROM b GROUP BY bucket
""")
def q_zorder(spark, sf_dir):
    """Z-order (bit-interleaved) clustering statistics for
    (customer, order-day): per z-bucket min/max spans of BOTH dims —
    the file-footer numbers a reader prunes on after an OPTIMIZE ZORDER
    rewrite. Pure integer bit arithmetic, identical in both engines."""
    from movement_spark.operators.layout import zorder_layout_stats
    return zorder_layout_stats(load_table(spark, sf_dir, "orders"))


@register("token_rate_anomalies", with_token_cte("""
, agg AS (
  SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         source, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
  FROM token_sequences GROUP BY 1, 2),
t AS (
  SELECT *,
         SUM(sum_tok) OVER (PARTITION BY source ORDER BY ws
                            ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
           AS trail_sum,
         COUNT(sum_tok) OVER (PARTITION BY source ORDER BY ws
                              ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
           AS trail_cnt
  FROM agg),
d AS (
  SELECT ws, source, sum_tok,
         CAST(COALESCE(trail_sum, 0) AS BIGINT) AS trail_sum,
         CAST(COALESCE(trail_cnt, 0) AS BIGINT) AS trail_cnt,
         CAST(CASE WHEN trail_cnt > 0 AND trail_sum > 0
                   THEN (sum_tok * 1000 * trail_cnt) // trail_sum
                   WHEN trail_cnt > 0
                   THEN CASE WHEN sum_tok > 0 THEN 2000 ELSE 1000 END
                   ELSE 1000 END AS BIGINT) AS dev_permille
  FROM t)
SELECT *, CASE WHEN dev_permille > 1500 OR dev_permille < 500
               THEN 1 ELSE 0 END AS is_anomaly
FROM d
"""))
def q_rate_anomalies(spark, sf_dir):
    """Self-baselined throughput anomaly scan: per-source trailing-mean
    deviation in integer permille over the windowed aggregate."""
    return windows.token_rate_anomalies(token_sequences(spark, sf_dir))


@register("cohort_retention", """
WITH weeks AS (
  SELECT DISTINCT user_id,
         CAST(floor((CAST(ts AS DATE) - DATE '1970-01-01') / 7) AS BIGINT)
           AS week
  FROM events),
f AS (SELECT user_id, MIN(week) AS cohort FROM weeks GROUP BY 1)
SELECT cohort, w.week - cohort AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM weeks w JOIN f USING (user_id)
GROUP BY 1, 2
""")
def q_cohort_retention(spark, sf_dir):
    """Weekly cohort-retention matrix: first-activity week × weeks-
    later activity, distinct users per cell."""
    return relational.cohort_retention(load_table(spark, sf_dir, "events"))


@register("embedding_label_centroids", """
WITH q AS (
  SELECT label,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings),
dims AS (
  SELECT label, unnest(qv) AS v,
         CAST(generate_subscripts(qv, 1) - 1 AS INT) AS dim
  FROM q)
SELECT label, dim,
       CAST(floor(SUM(v) / COUNT(*)) AS BIGINT) AS centroid_q,
       COUNT(*) AS n_vecs
FROM dims GROUP BY label, dim
""")
def q_label_centroids(spark, sf_dir):
    """Per-label fixed-point centroids (the k-means/IVF re-estimation
    aggregate): posexplode to (label, dim), one map-side-combined sum,
    explicit floor() mean (div/// disagree on negatives)."""
    from movement_spark.operators.similarity import label_centroids
    return label_centroids(load_table(spark, sf_dir, "embeddings"))


@register("rolling_user_features", """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS day_value
  FROM events GROUP BY 1, 2),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
         FROM daily GROUP BY 1),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span),
filled AS (
  SELECT g.user_id,
         CAST(g.day - DATE '1970-01-01' AS INT) AS day_no,
         COALESCE(d.n_events, 0) AS n_events,
         CAST(COALESCE(d.day_value, 0) AS DECIMAL(18,2)) AS day_value
  FROM grid g LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day)
SELECT user_id, day_no, n_events,
       CAST(SUM(n_events) OVER w AS BIGINT) AS roll_events,
       CAST(CAST(SUM(day_value) OVER w AS DECIMAL(18,2)) AS DOUBLE)
         AS roll_value,
       CAST(SUM(CASE WHEN n_events > 0 THEN 1 ELSE 0 END) OVER w AS INT)
         AS active_days
FROM filled
WINDOW w AS (PARTITION BY user_id ORDER BY day_no
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
""")
def q_rolling_features(spark, sf_dir):
    """Trailing-7-calendar-day features over the gap-filled series:
    ROWS frames equal calendar days only AFTER the resample makes
    missing days explicit zeros."""
    return windows.rolling_user_features(load_table(spark, sf_dir, "events"))


@register("approx_distinct_audit", """
SELECT lang, COUNT(DISTINCT doc_id) AS exact_docs,
       1 AS within_5pct
FROM documents GROUP BY lang
""")
def q_approx_audit(spark, sf_dir):
    """Native-sketch accuracy audit: Spark's approx_count_distinct
    (HLL++, rsd=0.02) per lang must land within 5% of the exact count —
    the CHECKED value is the boolean (deterministic for fixed data; the
    sketch itself is engine-specific and never hashed). The calibration
    a deployment runs before trusting approx rollups at 10^12 keys."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(F.countDistinct("doc_id").alias("exact_docs"),
             F.approx_count_distinct("doc_id", 0.02).alias("approx"))
        .select("lang", "exact_docs",
                (F.abs(F.col("approx") - F.col("exact_docs")) * 100
                 <= F.col("exact_docs") * 5).cast("int").alias("within_5pct"))
    )


@register("kmeans_training_loop", """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings),
d AS (SELECT vec_id, unnest(qv) AS v,
             CAST(generate_subscripts(qv, 1) - 1 AS INT) AS dim
      FROM q),
c0 AS (SELECT vec_id AS cluster, qv AS cv FROM q WHERE vec_id < 4),
s1 AS (
  SELECT q.vec_id, c.cluster,
         list_sum(list_transform(range(len(q.qv)),
           i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1]))) AS dist
  FROM q CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist, cluster) AS rn FROM s1) WHERE rn = 1),
e1 AS (
  SELECT a.cluster, d.dim,
         CAST(floor(SUM(d.v) / COUNT(*)) AS BIGINT) AS cq
  FROM a1 a JOIN d USING (vec_id) GROUP BY 1, 2),
c1 AS (SELECT cluster, list(cq ORDER BY dim) AS cv FROM e1 GROUP BY 1),
s2 AS (
  SELECT q.vec_id, c.cluster,
         list_sum(list_transform(range(len(q.qv)),
           i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1]))) AS dist
  FROM q CROSS JOIN c1 c),
a2 AS (SELECT vec_id, cluster FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist, cluster) AS rn FROM s2) WHERE rn = 1),
e2 AS (
  SELECT a.cluster, d.dim,
         CAST(floor(SUM(d.v) / COUNT(*)) AS BIGINT) AS cq
  FROM a2 a JOIN d USING (vec_id) GROUP BY 1, 2),
sizes AS (SELECT cluster, COUNT(*) AS n_assigned FROM a2 GROUP BY 1)
SELECT e2.cluster, e2.dim, e2.cq AS centroid_q, sizes.n_assigned
FROM e2 JOIN sizes USING (cluster)
""")
def q_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means, 2 fixed rounds: broadcast-assign
    (centroids never shuffle the corpus) + map-side-combined
    re-estimation; integer L2, deterministic seeds and tie-breaks; the
    oracle unrolls both rounds as CTEs."""
    from movement_spark.operators.similarity import kmeans_centroids
    return kmeans_centroids(load_table(spark, sf_dir, "embeddings"))


@register("segment_priority_mode", """
WITH counts AS (
  SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2),
r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        ORDER BY n DESC, o_orderpriority ASC) AS rn FROM counts)
SELECT c_mktsegment AS segment, o_orderpriority AS modal_priority,
       n AS n_orders
FROM r WHERE rn = 1
""")
def q_priority_mode(spark, sf_dir):
    """Per-segment modal order priority: broadcast dim join, tiny
    aggregate, deterministic argmax (ties to the smallest priority)."""
    return relational.segment_priority_mode(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"))


@register("unpivot_event_matrix", """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS day_epoch,
       event_type, COUNT(*) AS n
FROM events GROUP BY 1, 2
""")
def q_unpivot(spark, sf_dir):
    """Pivot → UNPIVOT round trip: the wide daily matrix melts back to
    long form with stack() (non-zero cells only) and must equal the
    original per-(day, type) counts — proving the two reshapes are
    exact inverses."""
    m = relational.event_type_daily_matrix(load_table(spark, sf_dir,
                                                      "events"))
    return m.selectExpr(
        "day_epoch",
        "stack(5, 'click', n_click, 'view', n_view, "
        "'purchase', n_purchase, 'signup', n_signup, "
        "'error', n_error) as (event_type, n)",
    ).where(F.col("n") > 0)


@register("funnel_conversion", """
WITH v AS (
  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS v_ts
  FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS c_ts
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) > v.v_ts
    AND CAST(floor(epoch(e.ts)) AS BIGINT) <= v.v_ts + 259200
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS p_ts
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase'
    AND CAST(floor(epoch(e.ts)) AS BIGINT) > c.c_ts
    AND CAST(floor(epoch(e.ts)) AS BIGINT) <= c.c_ts + 259200
  GROUP BY e.user_id),
staged AS (
  SELECT v.user_id,
         1 + CASE WHEN c.c_ts IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN p.p_ts IS NOT NULL THEN 1 ELSE 0 END AS stage,
         p.p_ts - v.v_ts AS convert_sec
  FROM v LEFT JOIN c ON v.user_id = c.user_id
         LEFT JOIN p ON v.user_id = p.user_id)
SELECT CAST(stage AS INT) AS stage, COUNT(*) AS n_users,
       CAST(SUM(convert_sec) AS BIGINT) AS sum_convert_sec
FROM staged GROUP BY 1
""")
def q_funnel_conversion(spark, sf_dir):
    """Ordered time-bounded funnel view→click→purchase (3-day step
    window): chained conditional min-aggregates, one user_id shuffle
    key end to end."""
    return relational.funnel_conversion(load_table(spark, sf_dir, "events"))


@register("ushape_attribution", """
WITH ordered AS (
  SELECT user_id, event_id, event_type, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets
  FROM events),
marked AS (
  SELECT *, CASE WHEN lag(ets) OVER w IS NULL
                 OR ets - lag(ets) OVER w >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
pos AS (
  SELECT *, row_number() OVER ws AS rn,
         COUNT(*) OVER (PARTITION BY user_id, sid) AS n
  FROM islands
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id)),
credited AS (
  SELECT event_type,
         CASE WHEN n = 1 THEN 10000
              WHEN n = 2 THEN 5000
              WHEN rn = 1 THEN 4000
              WHEN rn = n THEN 4000
              ELSE CAST(floor(2000.0 / (n - 2)) AS BIGINT)
                   + CASE WHEN rn = 2 THEN
                       2000 - (n - 2) * CAST(floor(2000.0 / (n - 2)) AS BIGINT)
                     ELSE 0 END
         END AS bps
  FROM pos)
SELECT event_type, COUNT(*) AS touches,
       CAST(SUM(bps) AS BIGINT) AS credit_bps
FROM credited GROUP BY event_type
""")
def q_ushape_attribution(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: 40/20/40
    integer basis points per session (remainder to the first middle),
    rolled up per event type — exact by integer construction."""
    return relational.ushape_attribution(load_table(spark, sf_dir, "events"))


@register("session_touch_attribution", """
WITH ordered AS (
  SELECT user_id, event_id, event_type, value, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets
  FROM events),
marked AS (
  SELECT *, CASE WHEN lag(ets) OVER w IS NULL
                 OR ets - lag(ets) OVER w >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
touched AS (
  SELECT *, first_value(event_type) OVER ws AS first_touch,
         last_value(event_type) OVER (
           PARTITION BY user_id, sid ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS last_touch
  FROM islands
  WINDOW ws AS (PARTITION BY user_id, sid ORDER BY ts, event_id)),
per_session AS (
  SELECT user_id, sid, first_touch, last_touch, COUNT(*) AS n_events,
         SUM(CAST(value AS DECIMAL(18,2))) AS sv
  FROM touched GROUP BY 1, 2, 3, 4)
SELECT first_touch, last_touch, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(CAST(SUM(sv) AS DECIMAL(18,2)) AS DOUBLE) AS sum_value
FROM per_session GROUP BY 1, 2
""")
def q_touch_attribution(spark, sf_dir):
    """First-touch / last-touch attribution over 30-min gap sessions:
    gaps-and-islands per user, one row per session, rollup per
    (first, last) pair with DECIMAL money."""
    return relational.session_touch_attribution(
        load_table(spark, sf_dir, "events"))


_JSONL_DIRS: dict[str, str] = {}


@register("jsonl_roundtrip", """
SELECT event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_value,
       MAX(event_id) AS max_id
FROM events GROUP BY event_type
""")
def q_jsonl_roundtrip(spark, sf_dir):
    """JSON-lines source/sink round trip: write events as JSONL, read
    back with an explicit schema (never inference at scale — one pass,
    stable types), aggregate — parity with the source table proves the
    serialization lossless, incl. double → JSON → double. Directory
    cached per (process, sf_dir) like the CSV round trip."""
    def _stage(base):
        (load_table(spark, sf_dir, "events")
         .select("event_id", "event_type", "value")
         .write.mode("overwrite").json(base))

    base = _cached_roundtrip_dir(_JSONL_DIRS, sf_dir,
                                 "ms_jsonl_", "_SUCCESS", _stage)
    back = spark.read.schema(
        "event_id BIGINT, event_type STRING, value DOUBLE").json(base)
    return (
        back.groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)"))
             .cast("decimal(18,2)").cast("double").alias("sum_value"),
             F.max("event_id").alias("max_id"))
    )


@register("order_value_histogram", """
WITH b AS (
  SELECT CAST(FLOOR(o_totalprice / 25000) AS INT) AS bin,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p
  FROM orders)
SELECT bin, COUNT(*) AS n,
       CAST(MIN(p) AS DOUBLE) AS min_price,
       CAST(MAX(p) AS DOUBLE) AS max_price,
       CAST(CAST(SUM(p) AS DECIMAL(18,2)) AS DOUBLE) AS sum_price
FROM b GROUP BY bin
""")
def q_order_histogram(spark, sf_dir):
    """Equi-width histogram of order value (25k-wide bins): one
    map-side-combined aggregate; the bin id is floor() so both engines
    cut identically. The profile pass behind any 'distribution looks
    right' check."""
    orders = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    return (
        orders.select(
            F.floor(F.col("o_totalprice") / 25000).cast("int").alias("bin"),
            p.alias("p"))
        .groupBy("bin")
        .agg(F.count("*").alias("n"),
             F.min("p").cast("double").alias("min_price"),
             F.max("p").cast("double").alias("max_price"),
             F.sum("p").cast("decimal(18,2)").cast("double")
             .alias("sum_price"))
    )


@register("orders_column_profile", """
WITH s AS (SELECT COUNT(*) AS n_rows FROM orders)
SELECT 'o_custkey' AS col, n_rows,
       (SELECT COUNT(o_custkey) FROM orders) AS n_nonnull,
       (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS n_distinct
FROM s
UNION ALL
SELECT 'o_orderstatus', n_rows,
       (SELECT COUNT(o_orderstatus) FROM orders),
       (SELECT COUNT(DISTINCT o_orderstatus) FROM orders)
FROM s
UNION ALL
SELECT 'o_orderpriority', n_rows,
       (SELECT COUNT(o_orderpriority) FROM orders),
       (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
FROM s
""")
def q_column_profile(spark, sf_dir):
    """Data-profiling pass (the expectations-library shape): per-column
    row/non-null/distinct counts in ONE scan — the aggregates compute
    side by side in a single hash-aggregate job, then unpivot to one
    row per column; never one job per column at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [F.count("*").alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    wide = orders.agg(*aggs)
    stack = ", ".join(f"'{c}', nn_{c}, nd_{c}" for c in cols)
    return wide.selectExpr(
        f"stack({len(cols)}, {stack}) as (col, n_nonnull, n_distinct)",
        "n_rows",
    ).select("col", "n_rows", "n_nonnull", "n_distinct")


@register("source_silence_audit", with_token_cte("""
, agg AS (
  SELECT source,
         CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) // 300
           AS wno
  FROM token_sequences GROUP BY 1, 2),
span AS (SELECT source, MIN(wno) AS w0, MAX(wno) AS w1
         FROM agg GROUP BY 1),
grid AS (SELECT source, unnest(range(w0, w1 + 1)) AS wno FROM span),
marked AS (
  SELECT g.source, g.wno,
         CASE WHEN a.wno IS NULL THEN 1 ELSE 0 END AS silent
  FROM grid g LEFT JOIN agg a ON g.source = a.source AND g.wno = a.wno),
runs AS (
  SELECT *, wno - ROW_NUMBER() OVER (PARTITION BY source, silent
                                     ORDER BY wno) AS grp
  FROM marked),
streaks AS (
  SELECT source, COUNT(*) AS len FROM runs
  WHERE silent = 1 GROUP BY source, grp)
SELECT m.source,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(m.silent) AS BIGINT) AS n_silent,
       CAST(COALESCE((SELECT MAX(len) FROM streaks s
                      WHERE s.source = m.source), 0) AS BIGINT)
         AS max_silent_streak
FROM marked m GROUP BY m.source
"""))
def q_source_silence(spark, sf_dir):
    """Absence detection: per source, the 5-minute windows between its
    first and last activity in which it emitted NOTHING, plus the
    longest silent streak (gaps-and-islands over the per-source window
    grid). The heartbeat-monitor question — 'which feeds went dark, for
    how long' — as one bounded sequence+explode per key, never a global
    calendar cross join."""
    from pyspark.sql.window import Window

    t = token_sequences(spark, sf_dir)
    agg = (t.groupBy("source",
                     (F.unix_timestamp(F.window("ts", "5 minutes")
                                       .start) / 300).cast("bigint")
                     .alias("wno"))
           .agg(F.count("*").alias("n")))
    span = agg.groupBy("source").agg(F.min("wno").alias("w0"),
                                     F.max("wno").alias("w1"))
    grid = span.select(
        "source", F.explode(F.sequence("w0", "w1")).alias("wno"))
    marked = (grid.join(agg, ["source", "wno"], "left")
              .select("source", "wno",
                      F.col("n").isNull().cast("int").alias("silent")))
    grp = (F.col("wno")
           - F.row_number().over(Window.partitionBy("source", "silent")
                                 .orderBy("wno")))
    streaks = (marked.where(F.col("silent") == 1)
               .withColumn("grp", grp)
               .groupBy("source", "grp").agg(F.count("*").alias("len"))
               .groupBy("source").agg(F.max("len").alias("max_streak")))
    return (
        marked.groupBy("source")
        .agg(F.count("*").alias("n_windows"),
             F.sum("silent").cast("bigint").alias("n_silent"))
        .join(streaks, "source", "left")
        .select("source", "n_windows", "n_silent",
                F.coalesce("max_streak", F.lit(0)).cast("bigint")
                .alias("max_silent_streak"))
    )


@register("window_share_of_total", with_token_cte("""
, agg AS (
  SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, ts)) AS BIGINT) AS ws,
         source, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
  FROM token_sequences GROUP BY 1, 2)
SELECT ws, source, sum_tok,
       CAST((sum_tok * 1000000) // SUM(sum_tok) OVER (PARTITION BY ws)
            AS BIGINT) AS share_ppm
FROM agg
"""))
def q_window_share(spark, sf_dir):
    """Contribution analysis: each source's integer-ppm share of its
    window's token volume — a window-function pass over the ALREADY
    windowed aggregate (partition key = window, tiny frames), never
    over raw rows."""
    from pyspark.sql.window import Window

    agg = (token_sequences(spark, sf_dir)
           .groupBy(F.window("ts", "5 minutes").alias("w"), "source")
           .agg(F.sum("n_tok").cast("bigint").alias("sum_tok"))
           .select(F.unix_timestamp("w.start").alias("ws"), "source",
                   "sum_tok"))
    total = F.sum("sum_tok").over(Window.partitionBy("ws"))
    return (agg.withColumn("_total", total)
            .withColumn("share_ppm",
                        F.expr("(sum_tok * 1000000L) div _total")
                        .cast("bigint"))
            .drop("_total"))


@register("daily_bounce_rate", """
WITH ordered AS (
  SELECT user_id, event_id, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS ets
  FROM events),
marked AS (
  SELECT *, CASE WHEN lag(ets) OVER w IS NULL
                 OR ets - lag(ets) OVER w >= 1800 THEN 1 ELSE 0 END AS new_s
  FROM ordered
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
sessions AS (
  SELECT user_id, sid,
         MIN(ets) AS s_start, MAX(ets) AS s_end, COUNT(*) AS n_events
  FROM islands GROUP BY 1, 2),
daily AS (
  SELECT CAST(s_start // 86400 AS BIGINT) AS day_no,
         CASE WHEN n_events = 1 THEN 1 ELSE 0 END AS bounce,
         s_end - s_start AS dur
  FROM sessions)
SELECT day_no, COUNT(*) AS n_sessions,
       CAST(SUM(bounce) AS BIGINT) AS n_bounce,
       (CAST(SUM(bounce) AS BIGINT) * 1000) // COUNT(*) AS bounce_permille,
       CAST(SUM(dur) AS BIGINT) AS total_dur_sec,
       CAST(MAX(dur) AS BIGINT) AS max_dur_sec
FROM daily GROUP BY day_no
""")
def q_bounce_rate(spark, sf_dir):
    """Web-analytics daily summary over 30-min-gap sessions: bounce
    rate (single-event sessions, integer permille), session duration
    totals — sessions attributed to their start day. Session
    boundaries come from the shared ``gap_session_ids`` (one
    definition with session_touch_attribution), then two tiny
    rollups."""
    from movement_spark.operators.relational import gap_session_ids

    events = load_table(spark, sf_dir, "events")
    sessions = (
        gap_session_ids(events)
        .groupBy("user_id", "sid")
        .agg(F.min("ets").alias("s_start"), F.max("ets").alias("s_end"),
             F.count("*").alias("n_events"))
    )
    daily = sessions.select(
        F.expr("s_start div 86400").alias("day_no"),
        (F.col("n_events") == 1).cast("int").alias("bounce"),
        (F.col("s_end") - F.col("s_start")).alias("dur"))
    return (
        daily.groupBy("day_no")
        .agg(F.count("*").alias("n_sessions"),
             F.sum("bounce").cast("bigint").alias("n_bounce"),
             F.expr("(cast(sum(bounce) as bigint) * 1000) div count(*)")
             .alias("bounce_permille"),
             F.sum("dur").cast("bigint").alias("total_dur_sec"),
             F.max("dur").cast("bigint").alias("max_dur_sec"))
    )


@register("triangle_count_token_graph", with_token_cte("""
, pairs AS (
  SELECT unnest(list_transform(range(n_tok - 1),
    i -> CAST(tokens[i+1] AS BIGINT) * 50261 + CAST(tokens[i+2] AS BIGINT))) AS p
  FROM token_sequences WHERE n_tok >= 2
  UNION ALL
  SELECT unnest(list_transform(range(n_tok - 2),
    i -> CAST(tokens[i+1] AS BIGINT) * 50261 + CAST(tokens[i+3] AS BIGINT))) AS p
  FROM token_sequences WHERE n_tok >= 3),
e AS (SELECT DISTINCT LEAST(p // 50261, p % 50261) AS a,
             GREATEST(p // 50261, p % 50261) AS b
      FROM pairs WHERE p // 50261 <> p % 50261),
deg AS (SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e)
        GROUP BY 1),
o AS (SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN a ELSE b END AS s,
             CASE WHEN (da.d < db.d) OR (da.d = db.d AND a < b)
                  THEN b ELSE a END AS t
      FROM e JOIN deg da ON da.v = e.a JOIN deg db ON db.v = e.b),
wedge AS (SELECT o1.s AS x, o2.t AS z FROM o o1 JOIN o o2 ON o1.t = o2.s),
closed AS (
  SELECT COUNT(*) AS n_wedges,
         CAST(SUM(CASE WHEN c.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_triangles
  FROM wedge LEFT JOIN o c ON c.s = wedge.x AND c.t = wedge.z)
SELECT (SELECT COUNT(*) FROM deg) AS n_vertices,
       (SELECT COUNT(*) FROM e) AS n_edges,
       (SELECT CAST(MAX(d) AS INT) FROM deg) AS max_degree,
       n_wedges, n_triangles
FROM closed
"""))
def q_triangles(spark, sf_dir):
    """Exact triangle count of the window-2 skip-gram co-occurrence
    graph by degree-ordered orientation: every out-neighborhood is
    O(sqrt(E)) even at hubs, the orientation's total order makes the
    closure probe a pure equi-join, and each triangle counts once. The
    oracle replays the identical orientation relationally."""
    from movement_spark.operators.graph import triangle_count_stats
    return triangle_count_stats(token_sequences(spark, sf_dir))


_MANIFEST_SQL = f"""
WITH RECURSIVE {{token_cte}},
sample_docs AS (SELECT * FROM token_sequences WHERE did % 25 = 0),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN n_tok >= 2 THEN
           list_transform(range(0, n_tok - 1), i ->
             CAST(tokens[i + 1] % {dedup.JACCARD_MOD} AS BIGINT) * {dedup.JACCARD_MOD}
             + CAST(tokens[i + 2] % {dedup.JACCARD_MOD} AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM sample_docs),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
match_pairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE n_inter * 100 >= sa.sz + sb.sz - n_inter),
verts AS (SELECT DISTINCT doc_id, did FROM sample_docs),
doc_tok AS (SELECT doc_id, did, CAST(SUM(n_tok) AS BIGINT) AS tok
            FROM sample_docs GROUP BY 1, 2),
edges AS (SELECT doc_a AS src, doc_b AS dst FROM match_pairs
          UNION ALL SELECT doc_b, doc_a FROM match_pairs),
reach AS (
  SELECT doc_id AS doc, did AS label FROM verts
  UNION
  SELECT e.dst AS doc, r.label AS label
  FROM reach r JOIN edges e ON e.src = r.doc),
comp AS (SELECT doc, MIN(label) AS component FROM reach GROUP BY doc),
member AS (
  SELECT c.component, d.doc_id, d.did, d.tok
  FROM comp c JOIN doc_tok d ON d.doc_id = c.doc),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY tok DESC, did ASC) AS rk
  FROM member)
SELECT component, COUNT(*) AS n_docs,
       MAX(CASE WHEN rk = 1 THEN doc_id END) AS canonical_doc,
       CAST(MAX(CASE WHEN rk = 1 THEN tok END) AS BIGINT) AS canon_tok,
       CAST(SUM(tok) - MAX(CASE WHEN rk = 1 THEN tok END) AS BIGINT)
       AS dropped_tok
FROM ranked GROUP BY component
"""


@register("dedup_canonical_manifest",
          _MANIFEST_SQL.format(token_cte=TOKEN_SEQ_DUCKDB_CTE))
def q_dedup_manifest(spark, sf_dir):
    """The dedup pipeline's keep/drop decision end-to-end: clusters →
    per-cluster canonical election (most tokens, ties to the smallest
    doc id) → retention manifest with token volume saved. Canonical
    election is a per-component argmax — components are near-dup
    clusters, so the window key is never skewed."""
    return dedup.dedup_canonical_manifest(
        token_sequences(spark, sf_dir, keep_did=True))


@register("doc_chunking_stats", with_token_cte(f"""
, chunk_grid AS (
  SELECT source, n_tok,
         unnest(range(0, CASE WHEN n_tok <= {32} THEN 1
                        ELSE 1 + (n_tok - {32} + {24} - 1) // {24} END)) AS j
  FROM token_sequences),
chunk_rows AS (
  SELECT source, LEAST({32}, n_tok - j * {24}) AS len FROM chunk_grid),
per_chunk AS (
  SELECT source, COUNT(*) AS n_chunks,
         CAST(SUM(len) AS BIGINT) AS sum_chunk_tok,
         CAST(SUM(CASE WHEN len < {32} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_ragged
  FROM chunk_rows GROUP BY 1),
base AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS total_tok
         FROM token_sequences GROUP BY 1)
SELECT p.source, p.n_chunks, p.sum_chunk_tok, p.n_ragged,
       CAST(p.sum_chunk_tok - b.total_tok AS BIGINT) AS overlap_tok
FROM per_chunk p JOIN base b ON b.source = p.source
"""))
def q_doc_chunking(spark, sf_dir):
    """Overlapping fixed-window chunking manifest (RAG layout): window
    32 / stride 24 per sequence, per-source chunk counts, ragged tails,
    and the token volume duplicated by overlap. One JVM explode, two
    map-side-combined rollups."""
    from movement_spark.operators.dataset import doc_chunking_stats
    return doc_chunking_stats(token_sequences(spark, sf_dir))


@register("multires_rollup_chain", """
SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS ws,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_value,
       COUNT(DISTINCT date_trunc('minute', ts)) AS n_active_minutes,
       COUNT(DISTINCT date_trunc('hour', ts)) AS n_active_hours
FROM events GROUP BY 1
""")
def q_multires_rollup(spark, sf_dir):
    """Minute→hour→day continuous-aggregate chain; the day level is
    computed ONLY from the hour level (and hour from minute), while the
    oracle aggregates raw events directly — parity proves the algebraic
    re-aggregation (counts of counts, DECIMAL sums of sums, bucket
    counts) loses nothing."""
    return windows.multires_rollup_chain(load_table(spark, sf_dir, "events"))


@register("session_dynamic_gap", """
WITH gapped AS (
  SELECT user_id, ts, event_id,
         ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 1 HOUR
                   ELSE INTERVAL 30 MINUTES END AS w_end
  FROM events),
ordered AS (
  SELECT *, MAX(w_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS prev_end
  FROM gapped),
marked AS (
  SELECT *, CASE WHEN prev_end IS NULL OR ts >= prev_end
                 THEN 1 ELSE 0 END AS new_s
  FROM ordered),
islands AS (
  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked),
sess AS (
  SELECT user_id, sid, COUNT(*) AS n_events,
         CAST(floor(epoch(MIN(ts))) AS BIGINT) AS s_start,
         CAST(floor(epoch(MAX(w_end))) AS BIGINT) AS s_end
  FROM islands GROUP BY 1, 2)
SELECT user_id, COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS total_events,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(SUM(s_end - s_start) AS BIGINT) AS total_dur_sec
FROM sess GROUP BY user_id
""")
def q_dynamic_gap(spark, sf_dir):
    """Dynamic-gap sessionization: the inactivity gap is a per-event
    expression (1 h after a purchase, 30 min otherwise). Spark's native
    session_window merges the per-row [ts, ts+gap) windows; the oracle
    replays the merge as gaps-and-islands over a running max of window
    ends — parity pins the half-open merge boundary exactly."""
    return windows.dynamic_gap_sessions(load_table(spark, sf_dir, "events"))


@register("kmv_set_algebra", f"""
WITH ha AS (
  SELECT DISTINCT ({sketches.KMV_A} * user_id + {sketches.KMV_B})
         % {sketches.KMV_P} AS h
  FROM events WHERE event_type = 'click'),
hb AS (
  SELECT DISTINCT ({sketches.KMV_A} * user_id + {sketches.KMV_B})
         % {sketches.KMV_P} AS h
  FROM events WHERE event_type = 'purchase'),
sa AS (SELECT h FROM ha ORDER BY h ASC LIMIT {sketches.KMV_K}),
sb AS (SELECT h FROM hb ORDER BY h ASC LIMIT {sketches.KMV_K}),
merged AS (
  SELECT DISTINCT h FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
  ORDER BY h ASC LIMIT {sketches.KMV_K}),
est AS (
  SELECT
    (SELECT CASE WHEN COUNT(*) < {sketches.KMV_K} THEN COUNT(*)
            ELSE CAST(floor(CAST({sketches.KMV_K} - 1 AS BIGINT) * {sketches.KMV_P}
                            * 1.0 / MAX(h)) AS BIGINT) END FROM sa) AS est_a,
    (SELECT CASE WHEN COUNT(*) < {sketches.KMV_K} THEN COUNT(*)
            ELSE CAST(floor(CAST({sketches.KMV_K} - 1 AS BIGINT) * {sketches.KMV_P}
                            * 1.0 / MAX(h)) AS BIGINT) END FROM sb) AS est_b,
    (SELECT CASE WHEN COUNT(*) < {sketches.KMV_K} THEN COUNT(*)
            ELSE CAST(floor(CAST({sketches.KMV_K} - 1 AS BIGINT) * {sketches.KMV_P}
                            * 1.0 / MAX(h)) AS BIGINT) END
     FROM merged) AS est_union,
    (SELECT COUNT(*) FROM merged) AS k_merged,
    (SELECT COUNT(*) FROM merged
     WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)) AS k_both)
SELECT est_a, est_b, est_union, k_merged, CAST(k_both AS BIGINT) AS k_both,
       CAST((k_both * est_union) // k_merged AS BIGINT) AS est_intersect
FROM est
""")
def q_kmv_algebra(spark, sf_dir):
    """Mergeable-sketch set algebra: KMV sketches of two user sets are
    merged (min-k of the union IS the union's sketch) to estimate
    |A∪B| and |A∩B| without revisiting raw data — the per-segment
    sketch-merge pattern that replaces giant distinct shuffles. All
    arithmetic deterministic; sub-k sets degrade to exact counts."""
    return sketches.kmv_set_algebra(load_table(spark, sf_dir, "events"))


@register("event_transition_matrix", """
WITH seq AS (
  SELECT event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS next_type
  FROM events),
c AS (
  SELECT event_type, next_type, COUNT(*) AS n_trans
  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
SELECT event_type, next_type, n_trans,
       CAST((n_trans * 1000) // SUM(n_trans) OVER (PARTITION BY event_type)
            AS BIGINT) AS share_pmil
FROM c
""")
def q_transition_matrix(spark, sf_dir):
    """Markov next-event transition matrix: per-user lead() pairs →
    per-(from, to) counts + integer-permille transition probability.
    The sequence-statistics pass a CEP/recommendation pipeline starts
    from (the batch mirror of the funnel detector's ordered scan)."""
    return relational.event_transition_matrix(
        load_table(spark, sf_dir, "events"))


@register("event_path_trigrams", """
WITH seq AS (
  SELECT event_type,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n_paths
FROM seq WHERE e3 IS NOT NULL GROUP BY 1
""")
def q_path_trigrams(spark, sf_dir):
    """Sequential path mining: per-user 3-step event-type paths with
    corpus-wide counts — output bounded by |types|³ however large the
    input."""
    return relational.event_path_trigrams(load_table(spark, sf_dir, "events"))


@register("event_copresence_lift", """
WITH baskets AS (
  SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         event_type
  FROM events),
totals AS (SELECT event_type, COUNT(*) AS n_type FROM baskets GROUP BY 1),
nb AS (SELECT COUNT(*) AS n_baskets
       FROM (SELECT DISTINCT user_id, day FROM baskets)),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_ab
  FROM baskets a JOIN baskets b
    ON a.user_id = b.user_id AND a.day = b.day
   AND a.event_type < b.event_type
  GROUP BY 1, 2)
SELECT type_a, type_b, n_ab, ta.n_type AS n_a, tb.n_type AS n_b,
       CAST((n_ab * n_baskets * 1000000) // (ta.n_type * tb.n_type)
            AS BIGINT) AS lift_ppm
FROM pairs
JOIN totals ta ON ta.event_type = type_a
JOIN totals tb ON tb.event_type = type_b
CROSS JOIN nb
""")
def q_copresence_lift(spark, sf_dir):
    """Market-basket association: per (user, day) basket, unordered
    event-type pairs with exact integer-ppm lift. Pair join keyed by
    basket (O(rows) shuffle); totals and the basket-count scalar
    broadcast."""
    return relational.event_copresence_lift(
        load_table(spark, sf_dir, "events"))


@register("event_type_daily_trend", """
WITH daily AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         COUNT(*) AS y
  FROM events GROUP BY 1, 2),
centered AS (
  SELECT event_type, day - MIN(day) OVER (PARTITION BY event_type) AS x, y
  FROM daily),
s AS (
  SELECT event_type, COUNT(*) AS n_days,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM centered GROUP BY 1),
nd AS (
  SELECT event_type, n_days, sy,
         n_days * sxy - sx * sy AS num,
         n_days * sxx - sx * sx AS den
  FROM s)
SELECT event_type, n_days, sy AS total_events,
       CASE WHEN den = 0 THEN NULL
            WHEN num >= 0 THEN CAST((num * 1000) // den AS BIGINT)
            ELSE CAST(-(((-num) * 1000 + den - 1) // den) AS BIGINT)
       END AS slope_milli
FROM nd
""")
def q_daily_trend(spark, sf_dir):
    """Exact closed-form least-squares slope of daily volume per event
    type (integer ×1000): trend detection without floats — the
    regression analog of token_rate_anomalies' self-baseline."""
    return windows.event_type_daily_trend(load_table(spark, sf_dir, "events"))


@register("lsh_containment_pairs", _LSH_CONTAIN_SQL)
def q_lsh_containment(spark, sf_dir):
    """Asymmetric shingle containment |A∩B| / min(|A|,|B|) over the LSH
    candidate set — catches the short-doc-embedded-in-long-doc
    duplication that symmetric Jaccard under-scores. Shares the
    _lsh_pair_overlap plan with lsh_candidate_jaccard."""
    return dedup.lsh_containment_pairs(token_sequences(spark, sf_dir))


@register("incremental_ingest_dedup", f"""
WITH fp AS (
  SELECT doc_id, source,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             list_transform(range(1, least(n_chars, {text.FP_LEN}) + 1),
               i -> CAST(ascii(substring(text, CAST(i AS INT), 1)) AS BIGINT))),
           (acc, c) -> (acc * 31 + c) % {text.FP_MOD}) AS fingerprint
  FROM documents),
corpus AS (SELECT DISTINCT fingerprint FROM fp WHERE doc_id % 5 != 0),
batch AS (SELECT * FROM fp WHERE doc_id % 5 = 0)
SELECT source, COUNT(*) AS n_batch,
       CAST(SUM(CASE WHEN fingerprint IN (SELECT fingerprint FROM corpus)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_vs_corpus,
       CAST(SUM(CASE WHEN fingerprint IN (SELECT fingerprint FROM corpus)
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_novel
FROM batch GROUP BY source
""")
def q_incremental_ingest(spark, sf_dir):
    """Incremental-ingestion dedup: screen a new document batch against
    the already-ingested corpus' fingerprint manifest (ONE join keyed by
    content fingerprint; bucketed-manifest co-location at scale)."""
    return dedup.incremental_ingest_dedup(
        load_table(spark, sf_dir, "documents"))


@register("part_best_supplier", """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS cost_d,
         COUNT(*) AS n_lines
  FROM lineitem GROUP BY 1, 2),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY l_partkey
                               ORDER BY cost_d ASC, l_suppkey ASC) AS rk
  FROM cost)
SELECT l_partkey AS p_partkey, l_suppkey AS best_suppkey,
       s_name AS supplier_name,
       CAST(ROUND(cost_d, 2) AS DOUBLE) AS best_cost, n_lines
FROM ranked JOIN supplier ON s_suppkey = l_suppkey
WHERE rk = 1
""")
def q_best_supplier(spark, sf_dir):
    """TPC-H Q2 shape: argmin-per-group (cheapest supplier per part,
    DECIMAL-exact ordering, suppkey tiebreak), supplier dim broadcast."""
    return relational.part_best_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"))


@register("brand_value_concentration", """
WITH rev AS (
  SELECT p_brand,
         CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        (1 - CAST(l_discount AS DECIMAL(18,4)))) * 100, 0)
              AS BIGINT) AS value_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY 1)
SELECT p_brand, value_cents,
       CAST(floor((value_cents * 1000000) / SUM(value_cents) OVER ())
            AS BIGINT) AS share_ppm
FROM rev
QUALIFY share_ppm >= 20000
""")
def q_brand_concentration(spark, sf_dir):
    """TPC-H Q11 shape: HAVING against a global scalar — per-brand
    discounted revenue kept where its integer-ppm share of the corpus
    total clears the threshold. Money → exact cents before the share
    arithmetic; the global window runs over the ~25-brand aggregate."""
    return relational.brand_value_concentration(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"))


@register("top_supplier_quarter", """
WITH rev AS (
  SELECT CAST(year(l_shipdate) AS VARCHAR) || 'Q' ||
         CAST(quarter(l_shipdate) AS VARCHAR) AS quarter,
         l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev_d
  FROM lineitem GROUP BY 1, 2)
SELECT quarter, l_suppkey AS top_suppkey,
       CAST(ROUND(rev_d, 2) AS DOUBLE) AS top_revenue
FROM (SELECT *, MAX(rev_d) OVER (PARTITION BY quarter) AS mx FROM rev)
WHERE rev_d = mx
""")
def q_top_supplier_quarter(spark, sf_dir):
    """TPC-H Q15 shape: max view with ties KEPT — per quarter, the
    supplier(s) at the exact DECIMAL revenue maximum."""
    return relational.top_supplier_quarter(load_table(spark, sf_dir, "lineitem"))


@register("sole_fault_suppliers", """
WITH finished AS (
  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
faults AS (
  SELECT DISTINCT l.l_orderkey, l.l_suppkey
  FROM lineitem l JOIN finished ON l.l_orderkey = finished.o_orderkey
  WHERE l.l_returnflag = 'R'),
allsup AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s.s_suppkey AS suppkey, s.s_name, n.n_name, COUNT(*) AS numwait
FROM faults f
JOIN supplier s ON s.s_suppkey = f.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE EXISTS (SELECT 1 FROM allsup o
              WHERE o.l_orderkey = f.l_orderkey
                AND o.l_suppkey <> f.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM faults f2
                  WHERE f2.l_orderkey = f.l_orderkey
                    AND f2.l_suppkey <> f.l_suppkey)
GROUP BY 1, 2, 3
""")
def q_sole_fault_suppliers(spark, sf_dir):
    """TPC-H Q21 shape: EXISTS + NOT EXISTS correlated self-joins as
    semi/anti joins sharing one l_orderkey shuffle key."""
    return relational.sole_fault_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"))


_PARTITIONED_DIRS: dict[str, str] = {}


@register("partitioned_layout_prune", """
SELECT event_type,
       CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS epoch_day,
       COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_value
FROM events
WHERE event_type IN ('view', 'click')
GROUP BY event_type, CAST(ts AS DATE)
""")
def q_partitioned_prune(spark, sf_dir):
    """Hive-partitioned layout + partition pruning — the #1 scan lever
    at 100 TB: events written ``partitionBy(event_type)`` (the
    reference's DirectoryOutput per-label directories, at warehouse
    scale), read back with a partition-column predicate so Catalyst
    prunes entire directories before listing a single row group
    (asserted by tests/test_plans.py::test_partitioned_read_prunes).
    Parity with the unpartitioned source proves the layout lossless.
    Directory cached per (process, sf_dir) like the CSV round trip."""
    def _stage(base):
        (load_table(spark, sf_dir, "events")
         .select("event_id", "ts", "value", "event_type")
         .write.mode("overwrite").partitionBy("event_type").parquet(base))

    base = _cached_roundtrip_dir(_PARTITIONED_DIRS, sf_dir,
                                 "ms_hivepart_", "_SUCCESS", _stage)
    back = spark.read.parquet(base)
    return (
        back.where(F.col("event_type").isin("view", "click"))
        .groupBy("event_type",
                 F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
                 .alias("epoch_day"))
        .agg(F.count("*").alias("n"),
             F.sum(F.col("value").cast("decimal(18,2)"))
             .cast("decimal(18,2)").cast("double").alias("sum_value"))
    )


_ORC_DIRS: dict[str, str] = {}


@register("orc_roundtrip", """
SELECT o_orderstatus, COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS sum_price,
       MAX(o_orderkey) AS max_key
FROM orders GROUP BY o_orderstatus
""")
def q_orc_roundtrip(spark, sf_dir):
    """ORC source/sink round trip (second columnar format beside
    parquet; the reference's Encoder/Decoder pairs are format-pluggable
    — SURVEY.md §2.3). Read back with an explicit schema (never
    inference at scale), aggregate; parity with the parquet source
    proves the ser/de lossless including double precision. Spark's
    native ORC reader supports the same pushdown/pruning surface as
    parquet, so the scan contract is unchanged."""
    def _stage(base):
        (load_table(spark, sf_dir, "orders")
         .select("o_orderkey", "o_orderstatus", "o_totalprice")
         .write.mode("overwrite").orc(base))

    base = _cached_roundtrip_dir(_ORC_DIRS, sf_dir,
                                 "ms_orc_", "_SUCCESS", _stage)
    back = spark.read.schema(
        "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE"
    ).orc(base)
    return (
        back.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"),
             F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
             .cast("double").alias("sum_price"),
             F.max("o_orderkey").alias("max_key"))
    )


@register("merge_upsert_orders", """
WITH upd AS (
  SELECT o_orderkey, 'U' AS o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,4)) + 5 AS price_dec
  FROM orders WHERE o_orderkey % 7 = 0),
ins AS (
  SELECT o_orderkey + 100000000 AS o_orderkey, 'N' AS o_orderstatus,
         CAST(o_totalprice AS DECIMAL(18,4)) AS price_dec
  FROM orders WHERE o_orderkey % 7 = 3),
src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins),
tgt AS (SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(18,4)) AS price_dec
        FROM orders),
merged AS (
  SELECT t.* FROM tgt t
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
  UNION ALL SELECT * FROM src)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(ROUND(SUM(price_dec), 2) AS DOUBLE) AS sum_price,
       MAX(o_orderkey) AS max_key
FROM merged GROUP BY o_orderstatus
""")
def q_merge_upsert(spark, sf_dir):
    """Batch MERGE (upsert) semantics — the batch twin of the streaming
    sink's epoch MERGE contract (sinks/idempotent.py): a CDC batch of
    updates (price bump, status 'U') and inserts (new keys, status 'N')
    is merged into the orders snapshot via relational.merge_upsert —
    source rows win by key, target rows survive only where unmatched
    (the WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT halves of ANSI
    MERGE). The anti-join shuffles both sides once on the merge key; at
    100 TB the target would be bucketed by key so only the (small) CDC
    batch moves."""
    orders = load_table(spark, sf_dir, "orders")
    price_dec = F.col("o_totalprice").cast("decimal(18,4)")
    tgt = orders.select("o_orderkey", "o_orderstatus",
                        price_dec.alias("price_dec"))
    upd = (orders.where(F.col("o_orderkey") % 7 == 0)
           .select("o_orderkey", F.lit("U").alias("o_orderstatus"),
                   (price_dec + F.lit(5)).alias("price_dec")))
    ins = (orders.where(F.col("o_orderkey") % 7 == 3)
           .select((F.col("o_orderkey") + 100_000_000).alias("o_orderkey"),
                   F.lit("N").alias("o_orderstatus"),
                   price_dec.alias("price_dec")))
    merged = relational.merge_upsert(tgt, upd.unionByName(ins),
                                     ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_rows"),
             F.round(F.sum("price_dec"), 2).cast("double").alias("sum_price"),
             F.max("o_orderkey").alias("max_key"))
    )


@register("bfs_token_reachability", with_token_cte("""
, bg AS (
  SELECT unnest(list_transform(range(n_tok - 1),
         i -> CAST(tokens[i + 1] AS BIGINT) * 50261
              + CAST(tokens[i + 2] AS BIGINT))) AS bg
  FROM token_sequences WHERE n_tok >= 2),
ed AS (SELECT DISTINCT bg // 50261 AS u, bg % 50261 AS v FROM bg),
nodes AS (SELECT u AS t FROM ed UNION SELECT v FROM ed),
d0 AS (SELECT t AS vtx FROM nodes WHERE t % 29 = 0),
r1 AS (SELECT DISTINCT e.v AS vtx FROM ed e JOIN d0 ON e.u = d0.vtx
       WHERE e.v NOT IN (SELECT vtx FROM d0)),
r2 AS (SELECT DISTINCT e.v AS vtx FROM ed e JOIN r1 ON e.u = r1.vtx
       WHERE e.v NOT IN (SELECT vtx FROM d0 UNION ALL
                         SELECT vtx FROM r1)),
r3 AS (SELECT DISTINCT e.v AS vtx FROM ed e JOIN r2 ON e.u = r2.vtx
       WHERE e.v NOT IN (SELECT vtx FROM d0 UNION ALL
                         SELECT vtx FROM r1 UNION ALL
                         SELECT vtx FROM r2)),
prof AS (
  SELECT CAST(0 AS INT) AS depth, vtx FROM d0
  UNION ALL SELECT CAST(1 AS INT), vtx FROM r1
  UNION ALL SELECT CAST(2 AS INT), vtx FROM r2
  UNION ALL SELECT CAST(3 AS INT), vtx FROM r3)
SELECT depth, COUNT(*) AS n_vertices,
       CAST(MIN(vtx) AS INT) AS min_tok, CAST(MAX(vtx) AS INT) AS max_tok
FROM prof GROUP BY depth
"""))
def q_bfs_reachability(spark, sf_dir):
    """Fixed-round BFS (min-hop distance from a seed set) on the token-
    transition graph — the third fixed-point algorithm beside PageRank
    and label propagation; the oracle unrolls the same 3 rounds as CTEs
    with NOT-IN visited guards, proving the distributed frontier loop
    exact."""
    from movement_spark.operators.graph import bfs_depth_profile
    return bfs_depth_profile(token_sequences(spark, sf_dir))


@register("fuzzy_blocked_matches", """
WITH blocked AS (
  SELECT p_partkey AS pk, p_name AS name,
         split_part(p_name, ' ', 2) AS noun, p_size AS size
  FROM part),
pairs AS (
  SELECT a.noun, levenshtein(a.name, b.name) AS lev
  FROM blocked a JOIN blocked b
    ON a.noun = b.noun AND a.size = b.size AND a.pk < b.pk
  WHERE levenshtein(a.name, b.name) <= 4)
SELECT noun, COUNT(*) AS n_pairs, MIN(lev) AS min_lev,
       CAST(SUM(lev) AS BIGINT) AS sum_lev
FROM pairs GROUP BY noun
""")
def q_fuzzy_matches(spark, sf_dir):
    """Blocked fuzzy record linkage: equality blocks (noun, size)
    propose candidates, edit distance verifies inside the block — the
    string-matching twin of LSH banding; the cross-pair space never
    materializes."""
    return dedup.fuzzy_blocked_matches(load_table(spark, sf_dir, "part"))


@register("approx_quantile_audit", """
SELECT COUNT(*) AS n,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
       1 AS p50_within, 1 AS p90_within
FROM orders
""")
def q_approx_quantile_audit(spark, sf_dir):
    """Native approx-percentile calibration audit (companion to
    approx_distinct_audit): Spark's approx_percentile (Greenwald-Khanna,
    accuracy 10000) must land within its published rank guarantee of the
    exact quantile — the CHECKED values are the exact quantiles plus the
    within-bound booleans (rank error ≤ n/accuracy, +2 slack for
    boundary ties). The sketch output itself is engine-specific and
    never hashed. This is the sign-off a deployment runs before swapping
    percentile() for the bounded-memory sketch at 10^12 rows."""
    orders = load_table(spark, sf_dir, "orders").select("o_totalprice")
    agg = orders.agg(
        F.count("*").alias("n"),
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 4)
        .alias("p50_exact"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 4)
        .alias("p90_exact"),
        F.expr("approx_percentile(o_totalprice, 0.5, 10000)").alias("a50"),
        F.expr("approx_percentile(o_totalprice, 0.9, 10000)").alias("a90"))
    ranked = (
        orders.crossJoin(F.broadcast(agg))
        .agg(F.max("n").alias("n"),
             F.max("p50_exact").alias("p50_exact"),
             F.max("p90_exact").alias("p90_exact"),
             F.sum((F.col("o_totalprice") <= F.col("a50")).cast("long"))
             .alias("r50"),
             F.sum((F.col("o_totalprice") <= F.col("a90")).cast("long"))
             .alias("r90"))
    )
    slack = F.col("n") / 10000 + 2
    return ranked.select(
        "n", "p50_exact", "p90_exact",
        (F.abs(F.col("r50") - F.col("n") * 0.5) <= slack)
        .cast("int").alias("p50_within"),
        (F.abs(F.col("r90") - F.col("n") * 0.9) <= slack)
        .cast("int").alias("p90_within"))


@register("weighted_sample_manifest", """
WITH w AS (
  SELECT doc_id, source, n_chars,
         CAST(n_chars AS BIGINT) // 100 + 1 AS w,
         ((doc_id * 1103515245 + 12345) % 2147483647)
           // (CAST(n_chars AS BIGINT) // 100 + 1) AS prio
  FROM documents),
r AS (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY prio ASC, doc_id ASC) AS rk
  FROM w)
SELECT source, COUNT(*) AS n_selected,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(w) AS BIGINT) AS sum_weight,
       CAST(MAX(prio) AS BIGINT) AS cutoff_prio
FROM r WHERE rk <= 40 GROUP BY source
""")
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (integer
    Efraimidis–Spirakis analog): longer/heavier docs divide their hash
    priority down and win more slots; the per-source top-k is one
    window rank, the selected manifest bit-identical across engines and
    re-runs."""
    from movement_spark.operators.dataset import weighted_sample_manifest
    return weighted_sample_manifest(load_table(spark, sf_dir, "documents"))


@register("training_set_manifest", """
WITH keepers AS (
  SELECT text, MIN(doc_id) AS keeper_id FROM documents GROUP BY 1),
feats AS (
  SELECT d.doc_id, d.lang, d.n_chars, k.keeper_id,
         string_split(d.text, ' ') AS w
  FROM documents d JOIN keepers k USING (text)),
f2 AS (
  SELECT doc_id, lang, n_chars, keeper_id, len(w) AS nw,
         CASE WHEN len(w) >= 2 THEN
           len(list_distinct(list_transform(range(len(w) - 1),
               i -> w[i + 1] || ' ' || w[i + 2])))
         ELSE 0 END AS n_distinct_bg
  FROM feats),
kept AS (
  SELECT doc_id, n_chars FROM f2
  WHERE NOT (doc_id <> keeper_id)
    AND NOT (lang <> 'en')
    AND NOT (n_chars < 120)
    AND NOT (nw >= 2 AND (n_distinct_bg * 1000) // (nw - 1) < 600)),
s AS (
  SELECT CASE
           WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 100 < 80
             THEN 'train'
           WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 100 < 90
             THEN 'val'
           ELSE 'test' END AS split,
         n_chars, CAST(n_chars AS BIGINT) // 5 AS est_tok
  FROM kept)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(est_tok) AS BIGINT) AS est_tokens,
       CAST(SUM(est_tok) // 2048 AS BIGINT) AS n_windows,
       CAST(SUM(est_tok) % 2048 AS BIGINT) AS tail_tokens
FROM s GROUP BY split
""")
def q_training_set_manifest(spark, sf_dir):
    """Capstone end-to-end composition: filter funnel → keep survivors
    → deterministic splits → per-split token/window budget. The whole
    corpus→training-set pipeline as ONE declarative plan (no new
    shuffle beyond the funnel's own dedup groupBy), byte-identical
    across engines and re-runs."""
    from movement_spark.operators.dataset import training_set_manifest
    return training_set_manifest(load_table(spark, sf_dir, "documents"))


@register("locf_imputation", """
WITH daily AS (
  SELECT user_id,
         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS d,
         SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(value AS DECIMAL(18,2)) END) AS pv
  FROM events GROUP BY 1, 2),
f AS (
  SELECT user_id, pv,
         last_value(pv IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY d
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf
  FROM daily)
SELECT user_id, COUNT(*) AS n_days,
       CAST(SUM(CASE WHEN pv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_missing,
       CAST(CAST(SUM(COALESCE(locf, 0)) AS DECIMAL(18,2)) AS DOUBLE)
           AS sum_locf
FROM f GROUP BY user_id
""")
def q_locf_imputation(spark, sf_dir):
    """Last-observation-carried-forward imputation — the standard
    time-series cleaning step (the NULL-filling complement of the
    zero-filling gap-fill resample): per user, days without a purchase
    inherit the most recent purchase value via last(ignorenulls) over a
    running ROWS frame. DECIMAL money end-to-end so the filled series
    sums exactly. One shuffle on user_id covers both the daily rollup
    and the ordered fill (same-key window rides the groupBy's
    partitioning)."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(
            "user_id",
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("d"))
        .agg(F.sum(F.when(F.col("event_type") == "purchase",
                          F.col("value").cast("decimal(18,2)")))
             .alias("pv"))
    )
    w = (Window.partitionBy("user_id").orderBy("d")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = daily.withColumn("locf", F.last("pv", ignorenulls=True).over(w))
    return (
        filled.groupBy("user_id")
        .agg(F.count("*").alias("n_days"),
             F.sum(F.col("pv").isNull().cast("int")).cast("bigint")
             .alias("n_missing"),
             F.sum(F.coalesce(F.col("locf"), F.lit(0)))
             .cast("decimal(18,2)").cast("double").alias("sum_locf"))
    )


@register("set_ops_bag_semantics", """
WITH a AS (SELECT o_custkey, o_orderpriority AS pri FROM orders
           WHERE year(o_orderdate) = 1996),
b AS (SELECT o_custkey, o_orderpriority AS pri FROM orders
      WHERE year(o_orderdate) = 1997),
ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b)
SELECT 'intersect_all' AS op, pri, COUNT(*) AS n FROM ia GROUP BY pri
UNION ALL
SELECT 'except_all' AS op, pri, COUNT(*) AS n FROM ea GROUP BY pri
""")
def q_set_ops_bag(spark, sf_dir):
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL —
    multiplicity-preserving, the SQL corner the DISTINCT forms miss):
    a (custkey, priority) multiset from 1996 against 1997. Catalyst
    plans both as a single aggregate computing per-row min/difference
    of multiplicities — one shuffle each, no join explosion."""
    orders = load_table(spark, sf_dir, "orders")
    pri = orders.select(
        "o_custkey", F.col("o_orderpriority").alias("pri"),
        F.year("o_orderdate").alias("y"))
    a = pri.where(F.col("y") == 1996).drop("y")
    b = pri.where(F.col("y") == 1997).drop("y")
    ia = (a.intersectAll(b).groupBy("pri").agg(F.count("*").alias("n"))
          .withColumn("op", F.lit("intersect_all")))
    ea = (a.exceptAll(b).groupBy("pri").agg(F.count("*").alias("n"))
          .withColumn("op", F.lit("except_all")))
    return ia.unionByName(ea).select("op", "pri", "n")


@register("streaming_fanout_counters", with_token_cte("""
SELECT source, COUNT(*) AS n_seq,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
       COUNT(*) AS n_archived
FROM token_sequences GROUP BY source
"""))
def q_streaming_fanout(spark, sf_dir):
    """One streaming pass, two exactly-once outputs: raw epoch archive
    + ADDITIVE counter sink (per-batch partials, zero stream state —
    the counter-upsert pattern). The result self-checks: additive
    totals must equal the archive's physical row counts AND the batch
    oracle."""
    from movement_spark.streaming.pipeline import run_streaming_fanout
    return run_streaming_fanout(spark, sf_dir)


@register("streaming_full_outer_join", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a
           FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b
         FROM token_sequences WHERE seq % 2 = 1)
SELECT COALESCE(e.doc_id, o.doc_id) AS doc_id, COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN e.n_tok_a IS NOT NULL AND o.n_tok_b IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       CAST(SUM(CASE WHEN o.n_tok_b IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lonely_left,
       CAST(SUM(CASE WHEN e.n_tok_a IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_lonely_right,
       CAST(SUM(COALESCE(e.n_tok_a, 0) + COALESCE(o.n_tok_b, 0))
            AS BIGINT) AS pair_tok
FROM even e FULL JOIN odd o
  ON e.doc_id = o.doc_id AND abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY COALESCE(e.doc_id, o.doc_id)
"""))
def q_streaming_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER join — both lonely sides emit with null
    counterparts once both watermarks pass; completes the join family
    (inner/left/full). Checked against the batch FULL JOIN oracle."""
    from movement_spark.streaming.pipeline import run_streaming_full_outer_join
    return run_streaming_full_outer_join(spark, sf_dir)


@register("streaming_join_then_window", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a
           FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b
         FROM token_sequences WHERE seq % 2 = 1)
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, e.ts_a)) AS BIGINT) AS ws,
       COUNT(*) AS n_pairs,
       CAST(SUM(e.n_tok_a + o.n_tok_b) AS BIGINT) AS pair_tok
FROM even e JOIN odd o
  ON e.doc_id = o.doc_id AND abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY 1
"""))
def q_streaming_join_then_window(spark, sf_dir):
    """TWO stateful operators chained in ONE streaming query: interval
    join state feeding tumbling-window aggregation state (no
    intermediate sink). Checked against the batch join+GROUP BY
    time_bucket oracle."""
    from movement_spark.streaming.pipeline import (
        run_streaming_join_then_window)
    return run_streaming_join_then_window(spark, sf_dir)


_PATTERN_MATCH_SQL = """
WITH s AS (
  SELECT user_id, COUNT(*) AS n_events,
         string_agg(substr(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS seq
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
  GROUP BY user_id),
m AS (SELECT user_id, n_events,
             regexp_extract_all(seq, 'v+cp') AS ms FROM s)
SELECT user_id, n_events,
       CAST(len(ms) AS INT) AS n_matches,
       CAST(COALESCE(list_sum(list_transform(ms, x -> length(x))), 0)
            AS INT) AS sum_match_len,
       CAST(COALESCE(list_max(list_transform(ms, x -> length(x))), 0)
            AS INT) AS max_match_len
FROM m
"""


@register("streaming_window_rollup", with_token_cte("""
, fine AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w5, source,
         COUNT(*) AS n_seq, CAST(SUM(n_tok) AS BIGINT) AS sum_tok
  FROM token_sequences GROUP BY 1, 2)
SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, w5)) AS BIGINT) AS ws,
       source,
       COUNT(*) AS n_fine,
       CAST(SUM(n_seq) AS BIGINT) AS n_seq,
       CAST(SUM(sum_tok) AS BIGINT) AS sum_tok
FROM fine GROUP BY 1, 2
"""))
def q_streaming_window_rollup(spark, sf_dir):
    """Chained window aggregations in ONE streaming query: 5-minute
    per-source partials re-windowed into 1-hour totals (multiple
    stateful operators, shape #2 beside join→window). Oracle: the same
    two-level rollup in SQL."""
    from movement_spark.streaming.pipeline import run_streaming_window_rollup
    return run_streaming_window_rollup(spark, sf_dir)


_NEARDUP_MON_SQL = with_token_cte(f"""
, shard AS (
  SELECT time_bucket(INTERVAL 5 MINUTES, ts) AS w5, source,
         {dedup.shard_signature_expr('duckdb')} AS sig
  FROM token_sequences),
per_sig AS (
  SELECT w5, source, sig, COUNT(*) AS n FROM shard GROUP BY 1, 2, 3)
SELECT CAST(epoch(w5) AS BIGINT) AS ws, source,
       CAST(SUM(n) AS BIGINT) AS n_seq,
       CAST(COUNT(*) AS BIGINT) AS n_distinct_sig,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup_seq
FROM per_sig GROUP BY 1, 2
""")


@register("streaming_neardup_monitor", _NEARDUP_MON_SQL)
def q_streaming_neardup_monitor(spark, sf_dir):
    """Streaming near-dup-rate monitor: in-row per-shard MinHash
    signature (dedup.shard_signature_expr, both dialects from one
    coefficient loop) feeding two chained windowed aggregates — the
    exact-distinct-per-window form a single streaming agg cannot
    express. Oracle: the same two-level fold in SQL."""
    from movement_spark.streaming.pipeline import run_streaming_neardup_monitor
    return run_streaming_neardup_monitor(spark, sf_dir)


@register("streaming_dedup_join_window", with_token_cte("""
, even AS (SELECT doc_id, ts AS ts_a, n_tok AS n_tok_a
           FROM token_sequences WHERE seq % 2 = 0),
odd  AS (SELECT doc_id, ts AS ts_b, n_tok AS n_tok_b
         FROM token_sequences WHERE seq % 2 = 1)
SELECT CAST(epoch(time_bucket(INTERVAL 5 MINUTES, e.ts_a)) AS BIGINT) AS ws,
       COUNT(*) AS n_pairs,
       CAST(SUM(e.n_tok_a + o.n_tok_b) AS BIGINT) AS pair_tok
FROM even e JOIN odd o
  ON e.doc_id = o.doc_id AND abs(epoch(e.ts_a) - epoch(o.ts_b)) <= 60
GROUP BY 1
"""))
def q_streaming_dedup_join_window(spark, sf_dir):
    """THREE stateful operators in one streaming query under
    at-least-once delivery (every chunk staged twice): per-side
    dropDuplicatesWithinWatermark → interval join → tumbling window.
    The oracle is the CLEAN batch join+rollup — duplicates must leave
    no trace anywhere in the chain."""
    from movement_spark.streaming.pipeline import (
        run_streaming_dedup_join_window)
    return run_streaming_dedup_join_window(spark, sf_dir)


@register("pattern_match_stats", _PATTERN_MATCH_SQL)
def q_pattern_match(spark, sf_dir):
    """MATCH_RECOGNIZE-lite CEP: per-user ordered event stream encoded
    as a char sequence, pattern v+cp (views → click → purchase) scanned
    with leftmost non-overlapping semantics — SQL:2016 row-pattern
    matching as a pure column expression."""
    return relational.pattern_match_stats(load_table(spark, sf_dir, "events"))


@register("streaming_pattern_match", _PATTERN_MATCH_SQL)
def q_streaming_pattern_match(spark, sf_dir):
    """The STREAMING half of the CEP matcher: applyInPandasWithState
    buffers each user's events and emits the pattern stats when the
    watermark closes the activity episode (operators/patterns.py) —
    same oracle as the batch pattern_match_stats, so the stateful and
    columnar implementations cross-validate."""
    from movement_spark.streaming.pipeline import run_streaming_pattern_match
    return run_streaming_pattern_match(spark, sf_dir)


_BUCKETED_DIRS: dict[str, str] = {}


def _bucketed_tables(spark, sf_dir: str) -> tuple[str, str]:
    """Stage (once per process+sf_dir) the co-bucketed orders/lineitem
    pair and return their catalog table names. Re-stages if a fresh
    SparkSession lost the catalog entries (saveAsTable metadata is
    session-scoped even though the files persist)."""
    import tempfile
    import zlib

    from movement_spark.operators.layout import stage_bucketed_pair

    tag = format(zlib.crc32(sf_dir.encode()), "08x")
    names = {s: f"ms_bkt_{s}_{tag}" for s in ("orders", "lineitem")}
    base = _BUCKETED_DIRS.get(sf_dir)
    if base is None or not all(
            spark.catalog.tableExists(n) for n in names.values()):
        base = tempfile.mkdtemp(prefix="ms_bkt_")
        stage_bucketed_pair(
            spark,
            load_table(spark, sf_dir, "orders"),
            load_table(spark, sf_dir, "lineitem"),
            base, tag)
        _BUCKETED_DIRS[sf_dir] = base
    return names["orders"], names["lineitem"]


@register("bucketed_colocated_join", """
WITH per_order AS (
  SELECT o_orderkey, o_orderstatus, COUNT(*) AS n_lines,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
             (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_orderkey, o_orderstatus)
SELECT o_orderstatus, n_lines, COUNT(*) AS n_orders,
       CAST(ROUND(SUM(rev), 2) AS DOUBLE) AS sum_rev,
       MAX(o_orderkey) AS max_key
FROM per_order GROUP BY 1, 2
""")
def q_bucketed_join(spark, sf_dir):
    """Co-bucketed fact-fact join — the pre-shuffled layout. Both fact
    tables are written ``bucketBy(8, order key)`` (operators/layout.py:
    stage_bucketed_pair), so the lineitem⋈orders join AND the per-order
    aggregate run with zero Exchange: the scans themselves report the
    hash partitioning the join needs. This is the batch analog of the
    reference keeping its WorkChunk streams pre-partitioned by id range
    (RangedWorkChunkDriver, SURVEY.md §2.2) — pay the shuffle once at
    write time, never again per query. Shuffle-freedom is pinned by
    tests/test_plans.py::test_bucketed_join_is_shuffle_free; parity with
    the plain (unbucketed) join proves the layout lossless."""
    from movement_spark.operators.layout import colocated_order_lines

    o_tbl, li_tbl = _bucketed_tables(spark, sf_dir)
    per_order = colocated_order_lines(spark, o_tbl, li_tbl)
    return (
        per_order.groupBy("o_orderstatus", "n_lines")
        .agg(F.count("*").alias("n_orders"),
             F.round(F.sum("rev"), 2).cast("double").alias("sum_rev"),
             F.max("o_orderkey").alias("max_key"))
    )


_DIST_DRAWS = 10_000

_DIST_SQL_BODY = """
, hist AS (
  SELECT CAST(n_tok AS BIGINT) AS value, COUNT(*) AS cnt
  FROM token_sequences GROUP BY 1),
line AS (
  SELECT value, cnt,
         SUM(cnt) OVER (ORDER BY value) AS range_end,
         SUM(cnt) OVER (ORDER BY value) - cnt + 1 AS range_start
  FROM hist),
tot AS (SELECT MAX(range_end) AS ll FROM line),
draws AS (
  SELECT ((%(a)d * i + %(b)d) %% %(p)d) %% (SELECT ll FROM tot) + 1 AS pos
  FROM (SELECT unnest(range(0, %(n)d)) AS i) t),
owned AS (
  SELECT l.value AS value
  FROM draws d JOIN line l ON d.pos BETWEEN l.range_start AND l.range_end),
samp AS (SELECT value, COUNT(*) AS n_sampled FROM owned GROUP BY 1)
SELECT l.value AS value, l.cnt AS cnt,
       CAST(COALESCE(s.n_sampled, 0) AS BIGINT) AS n_sampled,
       CAST((((SELECT ll FROM tot) - l.range_end) * 10000)
            // (SELECT ll FROM tot) AS BIGINT)
           AS increase_likelihood_bps
FROM line l LEFT JOIN samp s USING (value)
"""


@register("distribution_sampler_stats", with_token_cte(_DIST_SQL_BODY % {
    "a": 1_103_515_245, "b": 12_345, "p": (1 << 31) - 1, "n": _DIST_DRAWS}))
def q_distribution_sampler(spark, sf_dir):
    """Seeded discrete-distribution sampler (Distribution.java:59-107 +
    ProbUtil.java analog, operators/distribution.py): build the number
    line from the observed n_tok histogram (the reference's example is
    exactly this shape — a groupCount degree distribution), draw 10k
    deterministic positions with a*x+b mod p arithmetic, and report per
    value the observed count, the sampled count, and
    likelihoodToIncreaseCount in exact integer basis points. The SAMPLER
    is oracle-checked draw-for-draw, not just statistically: DuckDB
    computes the identical positions and range ownership."""
    from movement_spark.operators.distribution import (
        build_distribution, likelihood_to_increase_bps,
        sample_distribution)

    toks = token_sequences(spark, sf_dir)
    hist = (toks.groupBy(F.col("n_tok").cast("bigint").alias("value"))
            .agg(F.count("*").alias("cnt")))
    # pin the (histogram-sized) line: three consumers below — the
    # sampler's ownership join, its line-length scalar, the likelihood
    # projection — would otherwise each re-aggregate the corpus.
    # localCheckpoint (not persist): nothing to unpersist later, so the
    # long-lived driver/bench session doesn't accumulate cached frames.
    dist = build_distribution(hist).localCheckpoint(eager=True)
    sampled = (
        sample_distribution(spark, dist, _DIST_DRAWS)
        .groupBy("value").agg(F.count("*").alias("n_sampled"))
    )
    return (
        likelihood_to_increase_bps(dist)
        .join(sampled, "value", "left")
        .select("value", "cnt",
                F.coalesce(F.col("n_sampled"), F.lit(0).cast("bigint"))
                .cast("bigint").alias("n_sampled"),
                "increase_likelihood_bps")
    )


@register("coin_flip_corpus_sample", """
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN ((1103515245 * doc_id + 12345) % 2147483647)
                          % 10000 < 3000 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(SUM(CASE WHEN ((1103515245 * doc_id + 12345) % 2147483647)
                          % 10000 < 3000 THEN 1 ELSE 0 END) * 10000
            // COUNT(*) AS BIGINT) AS kept_bps
FROM documents GROUP BY source
""")
def q_coin_flip_sample(spark, sf_dir):
    """ProbUtil.coinFlip (ProbUtil.java:15-17) as a corpus sampling
    decision: keep each doc with probability weight_bps/10000, decided
    by the deterministic a*x+b mod p flip (operators/distribution.py:
    coin_flip) instead of Math.random() — the draw itself is
    oracle-checked per doc, and per-source retention lands within
    integer bps of the configured weight."""
    from movement_spark.operators.distribution import coin_flip

    docs = load_table(spark, sf_dir, "documents")
    kept = coin_flip("doc_id", 3000).cast("int")
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum(kept).cast("bigint").alias("n_kept"))
        .select("source", "n_docs", "n_kept",
                F.expr("(n_kept * 10000) div n_docs")
                .cast("bigint").alias("kept_bps"))
    )


_VOCAB_K = 500

_VOCAB_SQL = with_token_cte(f"""
, tok AS (SELECT unnest(tokens) AS t FROM token_sequences),
freq AS (SELECT t, COUNT(*) AS cnt FROM tok GROUP BY t),
ranked AS (
  SELECT t, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, t ASC) AS r
  FROM freq),
vocab AS (SELECT t, cnt FROM ranked WHERE r <= {_VOCAB_K})
SELECT {_VOCAB_K} AS vocab_k,
       (SELECT COUNT(*) FROM freq) AS n_distinct_tokens,
       (SELECT CAST(SUM(cnt) AS BIGINT) FROM freq) AS total_tok,
       CAST(SUM(cnt) AS BIGINT) AS covered_tok,
       CAST(SUM(cnt) * 10000 // (SELECT SUM(cnt) FROM freq) AS BIGINT)
           AS coverage_bps,
       MIN(cnt) AS min_vocab_cnt
FROM vocab
""")


@register("token_vocab_coverage", _VOCAB_SQL)
def q_vocab_coverage(spark, sf_dir):
    """Vocabulary builder accounting — the tokenizer-design question
    "how much of the corpus does a K-entry vocab cover?": global token
    frequencies, deterministic top-K cut (count DESC, token ASC), and
    exact integer-bps corpus coverage. Scale shape: ONE token-keyed
    count shuffle (map-side combined) then a rank over the (vocab-
    universe-sized, not corpus-sized) frequency table; the top-K is a
    TopK plan, never a full sort of the corpus."""
    toks = token_sequences(spark, sf_dir)
    # localCheckpoint (not persist): the vocab-sized frequency frame has
    # three consumers; checkpointing materializes it once with nothing
    # left to unpersist in the long-lived session
    freq = (toks.select(F.explode("tokens").alias("t"))
            .groupBy("t").agg(F.count("*").alias("cnt"))
            .localCheckpoint(eager=True))
    from pyspark.sql.window import Window
    ranked = freq.withColumn(
        "r", F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("t"))))
    vocab = ranked.where(F.col("r") <= _VOCAB_K)
    totals = freq.agg(
        F.count("*").alias("n_distinct_tokens"),
        F.sum("cnt").cast("bigint").alias("total_tok"))
    return (
        vocab.agg(F.sum("cnt").cast("bigint").alias("covered_tok"),
                  F.min("cnt").alias("min_vocab_cnt"))
        .crossJoin(F.broadcast(totals))
        .select(F.lit(_VOCAB_K).alias("vocab_k"),
                "n_distinct_tokens", "total_tok", "covered_tok",
                # integer div, not floor(double): matches DuckDB's //
                # at any scale (floor drifts past 2^53)
                F.expr("(covered_tok * 10000) div total_tok")
                .cast("bigint").alias("coverage_bps"),
                "min_vocab_cnt")
    )


_SIMHASH_WIDE_SQL = with_token_cte(f"""
, shingles AS (
  SELECT DISTINCT doc_id, unnest(tokens) % {dedup.SHINGLE_MOD} AS sh
  FROM token_sequences),
bits AS (
  SELECT doc_id, unnest(range(0, {dedup.SIMHASH_W_BITS})) AS b,
         (((CAST(sh AS BIGINT) * {dedup.SIMHASH_W_K1})
            % {dedup.SIMHASH_W_P})
          % {1 << dedup.SIMHASH_W_HALF}) * {1 << dedup.SIMHASH_W_HALF}
         + (((CAST(sh AS BIGINT) * {dedup.SIMHASH_W_K2})
              % {dedup.SIMHASH_W_P})
            % {1 << dedup.SIMHASH_W_HALF}) AS hv
  FROM shingles),
votes AS (
  SELECT doc_id, b, SUM(((hv >> CAST(b AS INT)) % 2) * 2 - 1) AS s
  FROM bits GROUP BY 1, 2),
sims AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << CAST(b AS INT)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id),
banded AS (
  SELECT doc_id, simhash, band,
         (simhash >> CAST(band * {dedup.SIMHASH_W_BAND_BITS} AS INT))
           % {1 << dedup.SIMHASH_W_BAND_BITS} AS bv
  FROM (SELECT doc_id, simhash,
               unnest(range(0, {dedup.SIMHASH_W_BITS
                                 // dedup.SIMHASH_W_BAND_BITS})) AS band
        FROM sims)),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 15
""")


@register("simhash_wide_pairs", _SIMHASH_WIDE_SQL)
def q_simhash_wide_pairs(spark, sf_dir):
    """The SimHash pipeline at SCALE width: 60-bit hash (two 30-bit
    prime-mod multiplicative halves — no weak mod-2^k low bits), 4×15-bit
    bands (32768 buckets vs the 32-bit form's 256, holding random band
    collisions to n²·4/2^15), exact bit_count(xor) verify. Same
    band-keyed plan shape as simhash_neardup_pairs, which stays
    registered as the fixture-width form."""
    return dedup.simhash_wide_neardup_pairs(
        token_sequences(spark, sf_dir, keep_did=True))


# --- Round-4 additions -----------------------------------------------

_IVF_INC_CUTOFF = 256  # base corpus = vec_id < cutoff; delta = the rest

_IVF_INC_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
scored AS (
  SELECT q.vec_id, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
assigned AS (
  SELECT vec_id, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM scored) WHERE rn = 1)
SELECT cent_id,
       CAST(SUM(CASE WHEN vec_id < {_IVF_INC_CUTOFF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_base,
       CAST(SUM(CASE WHEN vec_id >= {_IVF_INC_CUTOFF} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delta,
       COUNT(*) AS n_total
FROM assigned GROUP BY cent_id
"""


@register("ann_ivf_incremental_lists", _IVF_INC_SQL)
def q_ann_ivf_incremental(spark, sf_dir):
    """IVF index maintenance under append-only ingest: build the index
    on the base corpus (vec_id < cutoff; the codebook — the first
    N_CENTROIDS vectors — lives inside it), assign the delta batch
    against the FROZEN codebook with ivf_assign_incremental
    (similarity.py — O(delta × centroids), never a rebuild), and emit
    per-centroid inverted-list sizes split base/delta. The oracle
    assigns every vector in one pass: green == incremental maintenance
    commutes with batch rebuild, per the unit-pinned property
    (test_ivf_incremental_equals_rebuild), now driver-gated."""
    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") < _IVF_INC_CUTOFF)
    delta = emb.where(F.col("vec_id") >= _IVF_INC_CUTOFF)
    index = similarity.ivf_assign(base)
    full = similarity.ivf_assign_incremental(index, delta)
    return (
        full.groupBy("cent_id")
        .agg(F.sum(F.when(F.col("vec_id") < _IVF_INC_CUTOFF, 1)
                   .otherwise(0)).cast("bigint").alias("n_base"),
             F.sum(F.when(F.col("vec_id") >= _IVF_INC_CUTOFF, 1)
                   .otherwise(0)).cast("bigint").alias("n_delta"),
             F.count("*").alias("n_total"))
    )


@register("shard_shuffle_manifest", f"""
WITH h AS (
  SELECT doc_id, n_chars,
         (doc_id * {dataset.SHUFFLE_A} + {dataset.SHUFFLE_B})
           % {dataset.SPLIT_P} AS h
  FROM documents),
pos AS (
  SELECT doc_id, n_chars, h,
         CAST(h % {dataset.N_SHARDS} AS INT) AS shard,
         row_number() OVER (PARTITION BY h % {dataset.N_SHARDS}
                            ORDER BY h, doc_id) AS pos
  FROM h)
SELECT shard, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       MIN(h) AS min_h, MAX(h) AS max_h,
       CAST(SUM(pos * (doc_id % 97)) AS BIGINT) AS order_checksum
FROM pos GROUP BY shard
""")
def q_shard_shuffle(spark, sf_dir):
    """Deterministic shuffled-shard layout manifest (dataset.py
    shard_shuffle_manifest): hash-permute the corpus into training
    shards with zero global sort; the checksum pins the exact
    intra-shard order a shard writer would emit."""
    return dataset.shard_shuffle_manifest(
        load_table(spark, sf_dir, "documents"))


@register("quality_weighted_mix", f"""
WITH b AS (
  SELECT source, doc_id, n_chars,
         CAST(least(floor(len(string_split(text, ' ')) / 20.0), 4) AS INT)
           AS quality_bucket,
         ((doc_id * {dataset.SPLIT_A} + {dataset.SPLIT_B})
           % {dataset.SPLIT_P}) % 10000 AS draw
  FROM documents)
SELECT source, quality_bucket, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN draw < (quality_bucket + 1) * 2000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN draw < (quality_bucket + 1) * 2000
                     THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars
FROM b GROUP BY 1, 2
""")
def q_quality_weighted_mix(spark, sf_dir):
    """Quality-weighted corpus mix manifest (dataset.py
    quality_weighted_mix): deterministic coin-flip keep-rate scaled by
    the text-quality bucket — curriculum upsampling without an RNG."""
    return dataset.quality_weighted_mix(
        load_table(spark, sf_dir, "documents"))


@register("dsir_importance_weights", f"""
WITH words AS (
  SELECT doc_id, lang, n_chars,
         (list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(range(1, length(term) + 1),
              i -> CAST(ascii(substring(term, CAST(i AS INT), 1)) AS BIGINT))),
            (acc, c) -> (acc * 31 + c) % {dataset.DSIR_MOD})
          % {dataset.DSIR_BUCKETS}) AS bucket
  FROM (SELECT doc_id, lang, n_chars,
               unnest(string_split(text, ' ')) AS term
        FROM documents)
  WHERE length(term) > 0),
model AS (
  SELECT bucket, COUNT(*) AS cnt_raw,
         SUM(CASE WHEN lang = '{dataset.DSIR_TARGET_LANG}'
                  THEN 1 ELSE 0 END) AS cnt_tgt
  FROM words GROUP BY 1),
tot AS (SELECT SUM(cnt_raw) AS tot_raw, SUM(cnt_tgt) AS tot_tgt FROM model),
ratios AS (
  SELECT bucket,
         (cnt_tgt * tot_raw * {dataset.DSIR_SCALE})
           // (cnt_raw * greatest(tot_tgt, 1)) AS ratio_ppm
  FROM model, tot),
scored AS (
  SELECT w.doc_id, w.lang, w.n_chars, COUNT(*) AS n_tok,
         SUM(r.ratio_ppm) AS ratio_sum
  FROM words w JOIN ratios r USING (bucket)
  GROUP BY 1, 2, 3),
docavg AS (
  SELECT lang, n_chars, ratio_sum // n_tok AS avg_ppm FROM scored)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(avg_ppm) AS BIGINT) AS sum_avg_ppm,
       CAST(SUM(CASE WHEN avg_ppm >= {dataset.DSIR_SCALE}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_selected,
       CAST(SUM(CASE WHEN avg_ppm >= {dataset.DSIR_SCALE}
                     THEN n_chars ELSE 0 END) AS BIGINT) AS selected_chars
FROM docavg GROUP BY 1
""")
def q_dsir_importance_weights(spark, sf_dir):
    """DSIR importance-resampling manifest (dataset.py
    dsir_importance_weights): hashed-unigram target-vs-raw likelihood
    ratios in log-free ppm form; per-lang selection counts under the
    ratio >= 1 cut. Model table is DSIR_BUCKETS-bounded and broadcast;
    the ratio >= 1e6 cut should select mostly target-lang docs."""
    return dataset.dsir_importance_weights(
        load_table(spark, sf_dir, "documents"))


_DUP_COVERAGE_SQL = with_token_cte(f"""
, grams AS (
  SELECT source, doc_id,
         unnest(CASE WHEN n_tok >= 3 THEN
           list_transform(range(0, n_tok - 2), i ->
             CAST(tokens[i + 1] % {dedup.TRIGRAM_MOD} AS BIGINT)
               * {dedup.TRIGRAM_MOD * dedup.TRIGRAM_MOD}
             + CAST(tokens[i + 2] % {dedup.TRIGRAM_MOD} AS BIGINT)
               * {dedup.TRIGRAM_MOD}
             + CAST(tokens[i + 3] % {dedup.TRIGRAM_MOD} AS BIGINT))
           ELSE CAST([] AS BIGINT[]) END) AS g
  FROM token_sequences),
per_doc AS (
  SELECT source, doc_id, g, COUNT(*) AS cnt FROM grams GROUP BY 1, 2, 3),
gram_docs AS (
  SELECT g, COUNT(*) AS n_docs FROM per_doc GROUP BY 1)
SELECT source,
       CAST(SUM(cnt) AS BIGINT) AS total_ngrams,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) AS BIGINT)
         AS dup_ngrams,
       CAST(SUM(CASE WHEN n_docs >= 2 THEN cnt ELSE 0 END) * 10000
            // SUM(cnt) AS BIGINT) AS dup_bps
FROM per_doc JOIN gram_docs USING (g)
GROUP BY source
""")


@register("duplicate_ngram_coverage", _DUP_COVERAGE_SQL)
def q_duplicate_ngram_coverage(spark, sf_dir):
    """Per-source duplicated-trigram coverage (dedup.py
    duplicate_ngram_coverage): the HOW-MUCH companion to the WHICH-pairs
    dedup queries — exact integer-bps share of each source's trigram
    instances whose trigram value appears in >= 2 distinct docs.
    Injective full-width packing (TOK_MOD universe), so only TRUE
    repeats count; one aggregate + one windowed census on the gram key,
    never all-pairs, never a self-join."""
    return dedup.duplicate_ngram_coverage(token_sequences(spark, sf_dir))


_SPAN_SCRUB_SQL = with_token_cte(f"""
, pos AS (
  SELECT source, doc_id, seq, tokens,
         unnest(range(0, GREATEST(n_tok - 2, 0))) AS p
  FROM token_sequences),
grams AS (
  SELECT source, doc_id, seq, p,
         CAST(tokens[p + 1] % {dedup.TRIGRAM_MOD} AS BIGINT)
           * {dedup.TRIGRAM_MOD * dedup.TRIGRAM_MOD}
       + CAST(tokens[p + 2] % {dedup.TRIGRAM_MOD} AS BIGINT)
           * {dedup.TRIGRAM_MOD}
       + CAST(tokens[p + 3] % {dedup.TRIGRAM_MOD} AS BIGINT) AS g
  FROM pos),
gram_docs AS (
  SELECT g, COUNT(DISTINCT doc_id) AS n_docs FROM grams GROUP BY 1),
cov1 AS (
  SELECT gr.source, gr.doc_id, gr.seq,
         unnest([gr.p, gr.p + 1, gr.p + 2]) AS cov_pos
  FROM grams gr JOIN gram_docs gd USING (g)
  WHERE gd.n_docs >= 2),
cov AS (SELECT DISTINCT source, doc_id, seq, cov_pos FROM cov1),
scrub AS (
  SELECT source, COUNT(DISTINCT doc_id) AS docs_scrubbed,
         COUNT(*) AS removed_tokens
  FROM cov GROUP BY 1),
base AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
  FROM token_sequences GROUP BY 1)
SELECT b.source, b.n_docs, b.total_tokens,
       CAST(COALESCE(s.docs_scrubbed, 0) AS BIGINT) AS docs_scrubbed,
       CAST(COALESCE(s.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(s.removed_tokens, 0) * 10000 // GREATEST(b.total_tokens, 1)
            AS BIGINT) AS removed_bps
FROM base b LEFT JOIN scrub s USING (source)
""")


@register("dup_span_scrub_stats", _SPAN_SCRUB_SQL)
def q_dup_span_scrub_stats(spark, sf_dir):
    """Span-level dedup scrub manifest (dedup.py dup_span_scrub): the
    WHAT-GETS-REMOVED companion to duplicate_ngram_coverage —
    duplicated-substring-removal accounting in the Lee-et-al. style.
    Every token position covered by a trigram seen in >= 2 distinct
    docs is scrubbed; overlapping duplicated trigrams union (per-shard
    DISTINCT positions), so removed_tokens is the exact post-scrub
    token delta, not 3x an instance count. Linear shape: doc-level gram
    collapse -> windowed census on the gram key -> only the duplicated
    share re-expands to positions."""
    return dedup.dup_span_scrub(token_sequences(spark, sf_dir))


_EXSUB_SQL = with_token_cte(f"""
, inst AS (
  SELECT source, doc_id, seq, p,
         tokens[p + 1 : p + {dedup.EXSUB_K}] AS gram
  FROM (SELECT source, doc_id, seq, tokens,
               unnest(range(0, GREATEST(n_tok - {dedup.EXSUB_K} + 1, 0)))
                 AS p
        FROM token_sequences)),
census AS (SELECT gram, COUNT(*) AS n FROM inst GROUP BY 1),
cov1 AS (
  SELECT i.source, i.doc_id, i.seq, i.p + u AS cov_pos
  FROM inst i JOIN census c USING (gram),
       unnest(range(0, {dedup.EXSUB_K})) t(u)
  WHERE c.n >= 2),
cov AS (SELECT DISTINCT source, doc_id, seq, cov_pos FROM cov1),
scrub AS (
  SELECT source, COUNT(DISTINCT doc_id) AS docs_scrubbed,
         COUNT(*) AS removed_tokens
  FROM cov GROUP BY 1),
base AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS total_tokens
  FROM token_sequences GROUP BY 1)
SELECT b.source, b.n_docs, b.total_tokens,
       CAST(COALESCE(s.docs_scrubbed, 0) AS BIGINT) AS docs_scrubbed,
       CAST(COALESCE(s.removed_tokens, 0) AS BIGINT) AS removed_tokens,
       CAST(COALESCE(s.removed_tokens, 0) * 10000 // GREATEST(b.total_tokens, 1)
            AS BIGINT) AS removed_bps
FROM base b LEFT JOIN scrub s USING (source)
""")


@register("exact_substring_scrub_stats", _EXSUB_SQL)
def q_exact_substring_scrub_stats(spark, sf_dir):
    """Exact repeated-substring dedup accounting (dedup.py
    exact_substring_scrub), suffix-array class per Lee et al.: scrub
    every position inside a >= 50-token substring occurring >= 2 times
    corpus-wide (instance count — a self-repeating doc counts). The
    k-gram reduction is exact (every k-window of a repeated span is
    itself repeated), so the census output equals the suffix-array
    output position-for-position. Spark side runs the two-phase form —
    int64 rolling-hash census over narrow instances, then exact
    slice verification on hash-duplicated candidates only (bounded by
    duplicated volume, never all-pairs; equal slices hash equal, so
    nothing is lost); the oracle is the single-phase exact census —
    identical results, which IS the phase-2-restores-exactness
    statement."""
    return dedup.exact_substring_scrub(token_sequences(spark, sf_dir))


_SEMANTIC_DEDUP_SQL = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0) AS BIGINT)) AS qv
  FROM embeddings),
d AS (SELECT vec_id, unnest(qv) AS v,
             CAST(generate_subscripts(qv, 1) - 1 AS INT) AS dim
      FROM q),
c0 AS (SELECT vec_id AS cluster, qv AS cv FROM q WHERE vec_id < 4),
s1 AS (
  SELECT q.vec_id, c.cluster,
         list_sum(list_transform(range(len(q.qv)),
           i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1]))) AS dist
  FROM q CROSS JOIN c0 c),
a1 AS (SELECT vec_id, cluster FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist, cluster) AS rn FROM s1) WHERE rn = 1),
e1 AS (
  SELECT a.cluster, d.dim,
         CAST(floor(SUM(d.v) / COUNT(*)) AS BIGINT) AS cq
  FROM a1 a JOIN d USING (vec_id) GROUP BY 1, 2),
c1 AS (SELECT cluster, list(cq ORDER BY dim) AS cv FROM e1 GROUP BY 1),
s2 AS (
  SELECT q.vec_id, c.cluster,
         list_sum(list_transform(range(len(q.qv)),
           i -> (q.qv[i+1] - c.cv[i+1]) * (q.qv[i+1] - c.cv[i+1]))) AS dist
  FROM q CROSS JOIN c1 c),
a2 AS (SELECT vec_id, cluster FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                   ORDER BY dist, cluster) AS rn FROM s2) WHERE rn = 1),
v AS (
  SELECT a2.vec_id, a2.cluster, q.qv,
         CAST(list_sum(list_transform(q.qv, x -> x * x)) AS HUGEINT) AS n2
  FROM a2 JOIN q USING (vec_id)),
hits AS (
  SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM v a JOIN v b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
  WHERE CAST(list_sum(list_transform(range(len(a.qv)),
          i -> a.qv[i+1] * b.qv[i+1])) AS HUGEINT) > 0
    AND CAST(list_sum(list_transform(range(len(a.qv)),
          i -> a.qv[i+1] * b.qv[i+1])) AS HUGEINT)
        * CAST(list_sum(list_transform(range(len(a.qv)),
          i -> a.qv[i+1] * b.qv[i+1])) AS HUGEINT)
        * {similarity.SEM_COS_Q * similarity.SEM_COS_Q}
        >= a.n2 * b.n2 * {similarity.SEM_COS_P * similarity.SEM_COS_P}),
sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_vecs
          FROM a2 GROUP BY 1),
pc AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_pairs
       FROM hits GROUP BY 1),
pr AS (SELECT cluster, CAST(COUNT(DISTINCT vec_b) AS BIGINT) AS n_pruned
       FROM hits GROUP BY 1)
SELECT CAST(s.cluster AS BIGINT) AS cluster, s.n_vecs,
       CAST(COALESCE(pc.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(COALESCE(pr.n_pruned, 0) AS BIGINT) AS n_pruned,
       CAST(COALESCE(pr.n_pruned, 0) * 10000 // s.n_vecs AS BIGINT)
         AS pruned_bps
FROM sizes s LEFT JOIN pc USING (cluster) LEFT JOIN pr USING (cluster)
"""


@register("semantic_dedup_stats", _SEMANTIC_DEDUP_SQL)
def q_semantic_dedup_stats(spark, sf_dir):
    """SemDeDup manifest (similarity.py semantic_dedup): k-means the
    embeddings (2 Lloyd rounds, deterministic seeds/ties), then count
    integer-exact cosine near-dup pairs ONLY within each cluster and
    prune by the keep-lowest-vec_id rule — the cluster key bounds the
    quadratic so pair work is sum-of-cluster-sizes², never corpus².
    The oracle unrolls both Lloyd rounds as CTEs (same chain as
    kmeans_training_loop) and squares the dot product in HUGEINT."""
    return similarity.semantic_dedup(load_table(spark, sf_dir, "embeddings"))




# =====================================================================
# Round-4 continuation: classifier inference, BM25 retrieval,
# per-source/domain cap, SQ8 scalar-quantized ANN
# =====================================================================

@register("hashed_classifier_scores", f"""
WITH scored AS (
  SELECT source,
         CAST(list_sum(list_transform(string_split(text, ' '), w ->
           (((CASE WHEN length(w) = 0 THEN 0 ELSE
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(w) + 1),
                   i -> CAST(ascii(substring(w, CAST(i AS INT), 1)) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % {text.FP_MOD}) END
             % {text.CLS_BUCKETS}) * {text.CLS_WEIGHT_MULT} + 97)
            % {text.CLS_WEIGHT_MOD} - {(text.CLS_WEIGHT_MOD - 1) // 2})))
         AS BIGINT) AS score
  FROM documents)
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(MIN(score) AS BIGINT) AS min_score,
       CAST(MAX(score) AS BIGINT) AS max_score
FROM scored GROUP BY source
""")
def q_hashed_classifier(spark, sf_dir):
    """Hashed-feature linear classifier inference (the fastText-shaped
    quality/langid gate of pretraining pipelines): word-hash buckets to
    deterministic weights, per-doc score, per-source keep manifest.
    Zero shuffle until the rollup — the inference pass IS the scan."""
    return text.hashed_classifier_scores(
        load_table(spark, sf_dir, "documents"))


@register("bm25_doc_retrieval", f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s_dl
  FROM documents),
words AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
hits AS (SELECT * FROM words
         WHERE term IN ({", ".join(f"'{{t}}'".format(t=t) for t in text.BM25_TERMS)})),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
       FROM hits GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
scored AS (
  SELECT doc_id,
         (((n_docs * {text.BM25_IDF_SCALE}) // df) * 22 * tf * s_dl)
           // (10 * tf * s_dl + 3 * s_dl + 9 * dl * n_docs) AS part
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
doc_scores AS (
  SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score,
         CAST(COUNT(*) AS INT) AS n_terms_hit
  FROM scored GROUP BY 1),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM doc_scores)
SELECT doc_id, score, n_terms_hit, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {text.BM25_K}
""")
def q_bm25(spark, sf_dir):
    """BM25 top-k retrieval: the inverted-index lookup re-expressed
    relationally — query-term postings only reach the shuffle (scan-level
    array_contains prune), df/N/S broadcast, k1=6/5 b=3/4 saturation as
    exact rational arithmetic, TakeOrderedAndProject top-k (never a
    global sort)."""
    return text.bm25_topk(load_table(spark, sf_dir, "documents"))


@register("source_cap_manifest", f"""
WITH r AS (
  SELECT source, lang, n_chars,
         row_number() OVER (
           PARTITION BY source, lang
           ORDER BY (doc_id * {dataset.CAP_PRI_MULT} + {dataset.CAP_PRI_ADD})
                      % {dataset.CAP_PRI_MOD} ASC, doc_id ASC) AS rn
  FROM documents)
SELECT source, lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {dataset.CAP_PER_KEY} THEN 1 ELSE 0 END)
         AS BIGINT) AS n_kept,
       CAST(COUNT(*) - SUM(CASE WHEN rn <= {dataset.CAP_PER_KEY} THEN 1
         ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN rn <= {dataset.CAP_PER_KEY} THEN n_chars ELSE 0 END)
         AS BIGINT) AS sum_chars_kept,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM r GROUP BY 1, 2
""")
def q_source_cap(spark, sf_dir):
    """Per-source/domain document cap (the RefinedWeb-style "no domain
    dominates" stage): keep ≤cap docs per (source, lang) by hash
    priority via the salted two-phase cap — phase 1 bounds every key to
    cap×salt survivors on a balanced shuffle, phase 2 is exact. The
    oracle is the naive one-window form, proving the rewrite exact."""
    return dataset.source_cap_manifest(load_table(spark, sf_dir, "documents"))


_SQ8_CODED_CTE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
mm AS (SELECT [{', '.join(f'MIN(qv[{i}])' for i in range(1, similarity.EMB_DIM + 1))}] AS mn, [{', '.join(f'MAX(qv[{i}])' for i in range(1, similarity.EMB_DIM + 1))}] AS mx FROM q),
coded AS (
  SELECT vec_id,
         list_transform(range(1, {similarity.EMB_DIM} + 1), i ->
           CASE WHEN mx[i] > mn[i]
                THEN ((qv[i] - mn[i]) * {similarity.SQ_LEVELS})
                       // (mx[i] - mn[i])
                ELSE CAST(0 AS BIGINT) END) AS code
  FROM q CROSS JOIN mm),
dec AS (
  SELECT vec_id,
         list_transform(range(1, {similarity.EMB_DIM} + 1), i ->
           mn[i] + (code[i] * (mx[i] - mn[i])) // {similarity.SQ_LEVELS})
           AS dq
  FROM coded CROSS JOIN mm),
queries AS (SELECT vec_id AS query_id, dq AS qc
            FROM dec WHERE vec_id < 10),
adc AS (
  SELECT query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, {similarity.EMB_DIM} + 1),
              i -> c.dq[i] * queries.qc[i])) AS BIGINT) AS dot
  FROM dec c CROSS JOIN queries WHERE c.vec_id <> queries.query_id),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM adc)
"""


@register("ann_sq8_topk", _SQ8_CODED_CTE + """
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""")
def q_ann_sq8(spark, sf_dir):
    """SQ8 scalar-quantized ANN (faiss SQ8 analog): per-dim [min,max]
    trained in one aggregate row, 8-bit codes via codegen transform,
    symmetric compressed-domain dot top-k — the fifth ANN layout next
    to brute/LSH/IVF/PQ; 4× smaller vectors on the same scan shape."""
    df = similarity.sq8_topk(load_table(spark, sf_dir, "embeddings"))
    return df


@register("ann_sq8_rerank_topk", _SQ8_CODED_CTE + f"""
, cand AS (SELECT query_id, vec_id FROM ranked WHERE rank <= 20),
qq AS (SELECT vec_id AS query_id, qv AS qv2 FROM q WHERE vec_id < 10),
exact AS (
  SELECT c.query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, {similarity.EMB_DIM} + 1),
              i -> q.qv[i] * qq.qv2[i])) AS BIGINT) AS dot
  FROM cand c JOIN q ON q.vec_id = c.vec_id
  JOIN qq ON qq.query_id = c.query_id),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM exact)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM r2 WHERE rank <= 5
""")
def q_ann_sq8_rerank(spark, sf_dir):
    """SQ8 as deployed: compressed scan proposes a 20-deep pool, exact
    integer dot re-ranks to top-5 (_exact_rerank: one narrow corpus
    probe keyed by vec_id, queries and pool broadcast)."""
    return similarity.sq8_rerank_topk(load_table(spark, sf_dir, "embeddings"))




@register("small_quantity_part_revenue", """
WITH pa AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         COUNT(*) AS n_li
  FROM lineitem GROUP BY 1),
small AS (
  SELECT l.l_partkey,
         CAST(l.l_extendedprice AS DECIMAL(18,4)) AS price
  FROM lineitem l JOIN pa USING (l_partkey)
  WHERE CAST(l_quantity AS BIGINT) * 5 * n_li < sum_qty)
SELECT p_brand, COUNT(*) AS n_small_lines,
       CAST(ROUND(SUM(price), 2) AS DOUBLE) AS small_qty_revenue
FROM small JOIN part ON l_partkey = p_partkey
GROUP BY 1
""")
def q_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: the correlated per-part AVG subquery as ONE
    per-part aggregate joined back on its own key — qty < 0.2·avg
    evaluated float-free as qty·5·n < sum_qty in bigint, money through
    DECIMAL."""
    return relational.small_quantity_part_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"))


@register("epoch_schedule_manifest", f"""
WITH per AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS corpus_tokens
  FROM documents GROUP BY 1),
tot AS (SELECT CAST(SUM(corpus_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_sources FROM per),
j AS (
  SELECT source, n_docs, corpus_tokens,
         (total_tokens * {dataset.EPOCH_BUDGET_MULT}) // n_sources
           AS budget_tokens
  FROM per CROSS JOIN tot),
e AS (
  SELECT *, least(CAST({dataset.EPOCH_CAP_X1000} AS BIGINT),
                  (budget_tokens * 1000) // corpus_tokens) AS epochs_x1000
  FROM j)
SELECT source, n_docs, corpus_tokens, budget_tokens, epochs_x1000,
       (corpus_tokens * epochs_x1000) // 1000 AS tokens_served,
       CAST(budget_tokens - (corpus_tokens * epochs_x1000) // 1000
         AS BIGINT) AS shortfall,
       CAST(CASE WHEN epochs_x1000 = {dataset.EPOCH_CAP_X1000}
            THEN 1 ELSE 0 END AS INT) AS capped
FROM e
""")
def q_epoch_schedule(spark, sf_dir):
    """Data-constrained epoch schedule (Muennighoff-style repetition
    accounting): uniform per-source token budget, epochs floored in
    x1000 fixed point under the repetition cap, shortfall = budget the
    source cannot fill once capped. One scan + one broadcast scalar."""
    return dataset.epoch_schedule_manifest(
        load_table(spark, sf_dir, "documents"))




@register("large_volume_customers", """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY 1
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 280)
SELECT c_custkey, c_name, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS total_price,
       sum_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
""")
def q_large_volume_customers(spark, sf_dir):
    """TPC-H Q18 shape: HAVING subquery as one per-order aggregate
    whose sliver of survivors broadcasts twice (orders probe, then
    customer probe) — the fact shuffles once, customer never."""
    return relational.large_volume_customers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"))


_REV_X10000_SQL = ("CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)"
                   " * (100 - CAST(ROUND(l_discount * 100, 0) AS BIGINT))")

_BRACKET_SQL = " OR ".join(
    f"(p_brand = '{b}' AND p_size BETWEEN {slo} AND {shi}"
    f" AND CAST(l_quantity AS BIGINT) BETWEEN {qlo} AND {qhi})"
    for b, slo, shi, qlo, qhi in relational.BRACKETS)


@register("disjunctive_bracket_revenue", f"""
SELECT p_brand, COUNT(*) AS n_lines,
       CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS disc_rev_x10000
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE {_BRACKET_SQL}
GROUP BY 1
""")
def q_disjunctive_bracket_revenue(spark, sf_dir):
    """TPC-H Q19 shape: OR-of-ANDs bracket predicate over one broadcast
    hash join (the equi-key is folded out of the disjunction — never a
    nested loop); revenue in exact cents×(100−disc) fixed point."""
    return relational.disjunctive_bracket_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"))


@register("promo_revenue_share", f"""
WITH m AS (
  SELECT CAST(date_part('year', l_shipdate) * 100
              + date_part('month', l_shipdate) AS INT) AS ship_month,
         {_REV_X10000_SQL} AS rev,
         CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey)
SELECT ship_month,
       CAST(SUM(CASE WHEN is_promo = 1 THEN rev ELSE 0 END) AS BIGINT)
         AS promo_rev_x10000,
       CAST(SUM(rev) AS BIGINT) AS total_rev_x10000,
       CAST(SUM(CASE WHEN is_promo = 1 THEN rev ELSE 0 END) * 10000
            // SUM(rev) AS BIGINT) AS promo_bps
FROM m GROUP BY 1
""")
def q_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 shape: promotion revenue share per ship month, the
    ratio as (promo·10000) div total on exact fixed-point sums."""
    return relational.promo_revenue_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"))


@register("priority_ship_delay_matrix", """
WITH d AS (
  SELECT CASE WHEN dd < 0 THEN 'early'
              WHEN dd < 90 THEN 'fast'
              WHEN dd < 365 THEN 'slow'
              ELSE 'late' END AS delay_bucket,
         o_orderpriority
  FROM (SELECT date_diff('day', o_orderdate, l_shipdate) AS dd,
               o_orderpriority
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey))
SELECT delay_bucket,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS n_low
FROM d GROUP BY 1
""")
def q_priority_ship_delay_matrix(spark, sf_dir):
    """TPC-H Q12 shape: one orderkey shuffle join, then a 4-row hash
    aggregate with the priority split as conditional sums (the corpus
    has no commit/receipt dates; delay bands stand in)."""
    return relational.priority_ship_delay_matrix(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"))


@register("local_supplier_volume", f"""
SELECT n_name,
       CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       COUNT(*) AS n_lines,
       CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS rev_x10000
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
""")
def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: two natural-key fact shuffles (orderkey then
    custkey), supplier+nation broadcast with the same-nation test
    riding the supplier join."""
    return relational.local_supplier_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"))


@register("hard_negative_mining", f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT))
           AS qv
  FROM embeddings),
queries AS (SELECT vec_id AS query_id, label AS query_label, qv AS qv2
            FROM q WHERE vec_id < 10),
scored AS (
  SELECT query_id, query_label, q.vec_id, q.label AS neg_label,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * qv2[i])) AS BIGINT) AS dot
  FROM q CROSS JOIN queries WHERE q.label <> queries.query_label),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM scored)
SELECT query_id, query_label, vec_id, neg_label, dot,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
""")
def q_hard_negative_mining(spark, sf_dir):
    """Contrastive hard negatives: top-k most-similar DIFFERENT-label
    vectors per query — brute_force_topk's scan shape with the label
    inequality riding the broadcast join."""
    return similarity.hard_negative_topk(
        load_table(spark, sf_dir, "embeddings"))


@register("prefix_boilerplate_clusters", f"""
WITH pref AS (
  SELECT doc_id, source,
         array_to_string(string_split(text, ' ')[1:{dedup.PREFIX_W}], ' ')
           AS prefix
  FROM documents
  WHERE len(string_split(text, ' ')) >= {dedup.PREFIX_W})
SELECT prefix, COUNT(*) AS n_docs,
       COUNT(DISTINCT source) AS n_sources,
       MIN(doc_id) AS canonical_doc
FROM pref GROUP BY 1 HAVING COUNT(*) > 1
""")
def q_prefix_boilerplate_clusters(spark, sf_dir):
    """Template/boilerplate pre-pass: clusters of docs sharing their
    first-{PREFIX_W}-word head; one projection + one groupBy, no
    explode."""
    return dedup.prefix_boilerplate_clusters(
        load_table(spark, sf_dir, "documents"))




_TRUNC_CTE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT))
           AS qv
  FROM embeddings),
t AS (SELECT vec_id, qv[1:{similarity.TRUNC_DIM}] AS tq FROM q),
tqueries AS (SELECT vec_id AS query_id, tq AS qtv
             FROM t WHERE vec_id < 10),
tscored AS (
  SELECT query_id, t.vec_id,
         CAST(list_sum(list_transform(range(1, {similarity.TRUNC_DIM} + 1),
              i -> t.tq[i] * qtv[i])) AS BIGINT) AS tdot
  FROM t CROSS JOIN tqueries WHERE t.vec_id <> tqueries.query_id),
tranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY tdot DESC, vec_id ASC) AS rank
  FROM tscored)
"""


@register("ann_trunc_topk", _TRUNC_CTE + """
SELECT query_id, vec_id, tdot, CAST(rank AS INT) AS rank
FROM tranked WHERE rank <= 5
""")
def q_ann_trunc(spark, sf_dir):
    """Matryoshka-style truncated-dim ANN: score on the first 16 of 64
    dims — the fewer-DIMS compression axis next to PQ (fewer codewords)
    and SQ8 (fewer bits); same broadcast-scan plan as brute force, 4×
    fewer bytes per row."""
    return similarity.truncated_topk(
        load_table(spark, sf_dir, "embeddings"))


@register("ann_trunc_rerank_topk", _TRUNC_CTE + f"""
, tcand AS (SELECT query_id, vec_id FROM tranked WHERE rank <= 20),
tqq AS (SELECT vec_id AS query_id, qv AS qv2 FROM q WHERE vec_id < 10),
texact AS (
  SELECT c.query_id, c.vec_id,
         CAST(list_sum(list_transform(range(1, {similarity.EMB_DIM} + 1),
              i -> q.qv[i] * tqq.qv2[i])) AS BIGINT) AS dot
  FROM tcand c JOIN q ON q.vec_id = c.vec_id
  JOIN tqq ON tqq.query_id = c.query_id),
tr2 AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM texact)
SELECT query_id, vec_id, dot, CAST(rank AS INT) AS rank
FROM tr2 WHERE rank <= 5
""")
def q_ann_trunc_rerank(spark, sf_dir):
    """Truncated-dim ANN as deployed: 16-dim prefix scan proposes a
    20-deep pool, exact full-width integer dot re-ranks to top-5
    (_exact_rerank, the composition shared with PQ/IVF-PQ/SQ8)."""
    return similarity.truncated_rerank_topk(
        load_table(spark, sf_dir, "embeddings"))




@register("doc_novelty_scores", """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w)),
                  i -> w[i] || ' ' || w[i + 1])) AS gram
    FROM words)),
first AS (SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
SELECT g.doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       (CAST(SUM(CASE WHEN first_doc = g.doc_id THEN 1 ELSE 0 END)
             AS BIGINT) * 10000) // COUNT(*) AS novelty_bps
FROM grams g JOIN first USING (gram)
GROUP BY 1
""")
def q_doc_novelty(spark, sf_dir):
    """Novelty-based curation signal: bps of each doc's distinct
    bigrams first seen (min doc_id = ingestion order) in that doc —
    one gram-keyed shuffle shared by the distinct and the min-agg,
    attribution join back on the same key."""
    return dedup.doc_novelty_scores(load_table(spark, sf_dir, "documents"))


@register("source_quality_percentile_cut", """
WITH feats AS (
  SELECT doc_id, source,
         CAST(floor((length(text) - len(string_split(text, ' ')) + 1)
              * 1000.0 / len(string_split(text, ' '))) AS BIGINT) AS mwl
  FROM documents),
med AS (SELECT source, quantile_cont(mwl, 0.5) AS med_mwl
        FROM feats GROUP BY 1)
SELECT f.source, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN mwl >= med_mwl THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       (CAST(SUM(CASE WHEN mwl >= med_mwl THEN 1 ELSE 0 END) AS BIGINT)
        * 10000) // COUNT(*) AS kept_bps,
       CAST(med_mwl AS DOUBLE) AS med_mwl
FROM feats f JOIN med USING (source)
GROUP BY f.source, med_mwl
""")
def q_source_percentile_cut(spark, sf_dir):
    """Distribution-relative quality gate: keep docs clearing their own
    source's exact median score; threshold table broadcast back (exact
    percentile == quantile_cont, the established convention)."""
    return text.source_percentile_cut(load_table(spark, sf_dir, "documents"))


@register("shipping_priority_topk", f"""
SELECT o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
       COUNT(*) AS n_lines,
       CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS rev_x10000
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1998-06-01'
  AND l_shipdate > '1998-06-01'
GROUP BY 1, 2
ORDER BY rev_x10000 DESC, o_orderkey
LIMIT 10
""")
def q_shipping_priority_topk(spark, sf_dir):
    """TPC-H Q3 shape: segment prune → two natural-key shuffles →
    per-order rollup → TakeOrderedAndProject top-k (orderkey in the
    sort key, so ties are impossible)."""
    return relational.shipping_priority_topk(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"))


@register("forecast_revenue_change", """
SELECT COUNT(*) AS n_lines,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)
                * CAST(ROUND(l_discount * 100, 0) AS BIGINT)) AS BIGINT)
         AS forecast_rev_x10000
FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  AND l_quantity < 24
  AND CAST(ROUND(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
""")
def q_forecast_revenue_change(spark, sf_dir):
    """TPC-H Q6 shape: scan → pushed filters → one scalar aggregate,
    zero shuffles (map-side partials combine to a single row); the
    would-be-kept discount revenue in exact cents×disc fixed point."""
    return relational.forecast_revenue_change(
        load_table(spark, sf_dir, "lineitem"))


@register("volume_shipping", f"""
WITH ns AS (SELECT n_nationkey, n_name FROM nation
            WHERE n_name IN ('NATION_3', 'NATION_14'))
SELECT s.n_name AS supp_nation, c.n_name AS cust_nation,
       CAST(date_part('year', l_shipdate) AS INT) AS ship_year,
       COUNT(*) AS n_lines,
       CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS rev_x10000
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN ns s ON s_nationkey = s.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN ns c ON c_nationkey = c.n_nationkey
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1999-01-01'
  AND s.n_name <> c.n_name
GROUP BY 1, 2, 3
""")
def q_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: the nation pair prunes BOTH dimension scans via
    a broadcast 2-row sliver; the cross-pair disjunction collapses to
    supp_nation <> cust_nation after the prune."""
    return relational.volume_shipping(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"))


@register("nation_market_share", f"""
WITH rn AS (SELECT n_nationkey FROM nation
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA')
SELECT CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                THEN {_REV_X10000_SQL} ELSE 0 END) AS BIGINT)
         AS target_rev_x10000,
       CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS total_rev_x10000,
       CAST((SUM(CASE WHEN sn.n_name = 'NATION_3'
                 THEN {_REV_X10000_SQL} ELSE 0 END) * 10000)
            // SUM({_REV_X10000_SQL}) AS BIGINT) AS share_bps
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN rn ON c_nationkey = rn.n_nationkey
WHERE p_type = 'ECONOMY'
  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1999-01-01'
GROUP BY 1
""")
def q_nation_market_share(spark, sf_dir):
    """TPC-H Q8 shape: market share of one nation's suppliers in one
    region's ECONOMY-part revenue, per order year — the CASE rides
    inside the aggregate (never a self-join) and the share is exact
    integer basis points."""
    return relational.nation_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
        load_table(spark, sf_dir, "part"))


@register("product_type_profit", f"""
SELECT sn.n_name AS supp_nation,
       CAST(date_part('year', o_orderdate) AS INT) AS order_year,
       COUNT(*) AS n_lines,
       CAST(SUM({_REV_X10000_SQL}
                - CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)
                  * CAST(l_quantity AS BIGINT) * 100) AS BIGINT)
         AS profit_x10000
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '% widget'
GROUP BY 1, 2
""")
def q_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape: name-pruned part dim carries its cost cents
    into the fact scan; profit = rev − cost·qty in exact fixed point
    (p_retailprice stands in for the absent ps_supplycost)."""
    return relational.product_type_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"))


@register("returned_item_reporting", f"""
WITH per AS (
  SELECT o_custkey, COUNT(*) AS n_return_lines,
         CAST(SUM({_REV_X10000_SQL}) AS BIGINT) AS lost_rev_x10000
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= '1997-07-01' AND o_orderdate < '1997-10-01'
  GROUP BY 1)
SELECT c_custkey, c_name,
       CAST(ROUND(CAST(c_acctbal AS DECIMAL(18,4)), 2) AS DOUBLE)
         AS acctbal,
       n_name AS cust_nation, n_return_lines, lost_rev_x10000
FROM per JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY lost_rev_x10000 DESC, c_custkey
LIMIT 20
""")
def q_returned_item_reporting(spark, sf_dir):
    """TPC-H Q10 shape: quarter of returns rolled up per customer
    (the custkey shuffle the customer probe then reuses), nation
    broadcast, top-k with custkey in the sort key."""
    return relational.returned_item_reporting(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"))


_Q16_SIZES_SQL = ", ".join(str(s) for s in relational.SUPPLIER_CNT_SIZES)


@register("supplier_relation_counts", f"""
WITH rel AS (
  SELECT DISTINCT p_brand, p_type, p_size, l_suppkey
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand <> 'Brand#5' AND p_type <> 'ECONOMY'
    AND p_size IN ({_Q16_SIZES_SQL})
    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                          WHERE s_acctbal < 1000))
SELECT p_brand, p_type, p_size, COUNT(*) AS supplier_cnt
FROM rel GROUP BY 1, 2, 3
""")
def q_supplier_relation_counts(spark, sf_dir):
    """TPC-H Q16 shape: distinct (brand,type,size,supplier) relation
    from the part-pruned fact, NOT-IN complaint set as a broadcast
    left-anti join, then a plain count per bucket (the relation is
    already supplier-distinct)."""
    return relational.supplier_relation_counts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"))


@register("dominant_part_suppliers", """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS pair_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'cold %'
    AND l_shipdate >= '1997-01-01' AND l_shipdate < '1998-01-01'
  GROUP BY 1, 2),
tot AS (SELECT l_partkey, CAST(SUM(pair_qty) AS BIGINT) AS total_qty
        FROM ps GROUP BY 1),
dom AS (
  SELECT l_suppkey, COUNT(*) AS n_dominant_parts
  FROM ps JOIN tot USING (l_partkey)
  WHERE 2 * pair_qty > total_qty
  GROUP BY 1)
SELECT s_suppkey, s_name, n_name AS supp_nation, n_dominant_parts
FROM dom JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
""")
def q_dominant_part_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: Q20's correlated half-of-total availability
    test over the shipped relation — one (part,supplier) aggregate,
    per-part totals re-aggregated from it, integer-exact 2·q > total,
    sliver broadcast into supplier."""
    return relational.dominant_part_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"))


@register("reshard_movement_matrix", f"""
WITH a AS (
  SELECT CAST({chunking.rendezvous_shard_expr('doc_id', 8, 'duckdb')}
              AS INT) AS old_shard,
         CAST({chunking.rendezvous_shard_expr('doc_id', 10, 'duckdb')}
              AS INT) AS new_shard
  FROM documents)
SELECT old_shard, new_shard, COUNT(*) AS n_docs,
       CAST(old_shard <> new_shard AS INT) AS moved
FROM a GROUP BY 1, 2
""")
def q_reshard_movement(spark, sf_dir):
    """Rendezvous-hash reshard audit (8 -> 10 shards): the movement
    matrix a minimal-movement reshard of a 100-TB corpus is planned
    from. Pure codegen assignment expressions, one tiny matrix rollup;
    the moved-keys-land-only-on-new-shards property is pinned by
    tests/test_operators.py::test_reshard_moves_only_to_new_shards."""
    return chunking.reshard_movement_manifest(
        load_table(spark, sf_dir, "documents"), "doc_id", 8, 10)


@register("incremental_state_merge", f"""
SELECT source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars,
       CAST(BIT_OR(CAST(1 AS BIGINT) << ({relational._LANG_BUCKET}))
            AS BIGINT) AS lang_bitmap,
       CAST(BIT_COUNT(BIT_OR(CAST(1 AS BIGINT) << ({relational._LANG_BUCKET})))
            AS INT) AS n_langs
FROM documents GROUP BY source
""")
def q_incremental_state_merge(spark, sf_dir):
    """Incremental materialized-view maintenance: Spark merges the
    base state with a delta batch's state; the oracle recomputes the
    view from the full corpus in ONE pass — parity proves
    merge(state(base), state(delta)) == state(base ∪ delta), the
    contract that lets a 100-TB view refresh from a delta-sized scan.
    Every state field is mergeable (sums, min/max, bit_or lang
    bitmap)."""
    return relational.incremental_state_merge(
        load_table(spark, sf_dir, "documents"))


@register("quantile_sketch_profile", """
WITH hist AS (
  SELECT source, LEAST(n_chars // 16, 63) AS bucket, COUNT(*) AS cnt
  FROM documents GROUP BY 1, 2),
cum AS (
  SELECT source, bucket, cnt,
         SUM(cnt) OVER (PARTITION BY source ORDER BY bucket) AS cum,
         SUM(cnt) OVER (PARTITION BY source) AS n_docs
  FROM hist)
SELECT source, CAST(MAX(n_docs) AS BIGINT) AS n_docs,
       CAST(MIN(CASE WHEN cum >= (50 * n_docs + 99) // 100
                     THEN bucket * 16 END) AS BIGINT) AS p50_lo,
       CAST(MIN(CASE WHEN cum >= (90 * n_docs + 99) // 100
                     THEN bucket * 16 END) AS BIGINT) AS p90_lo,
       CAST(MIN(CASE WHEN cum >= (99 * n_docs + 99) // 100
                     THEN bucket * 16 END) AS BIGINT) AS p99_lo
FROM cum GROUP BY source
""")
def q_quantile_sketch(spark, sf_dir):
    """Histogram quantile sketch (the sketch family's quantile member):
    per-source p50/p90/p99 lower edges from a fixed additive 64-bucket
    grid — ONE map-side-combinable shuffle, quantile picks on the tiny
    grid, deterministic one-bucket error bound (pinned by
    tests/test_sketches.py::test_quantile_sketch_brackets_exact_percentile);
    the grid merges across shards/windows by summing counts."""
    return sketches.histogram_quantile_profile(
        load_table(spark, sf_dir, "documents"))


@register("range_layout_plan", """
WITH hist AS (
  SELECT LEAST(n_chars // 16, 63) AS bucket, COUNT(*) AS cnt
  FROM documents GROUP BY 1),
cum AS (
  SELECT bucket, cnt,
         SUM(cnt) OVER (ORDER BY bucket) - cnt AS cum_before,
         SUM(cnt) OVER () AS n
  FROM hist)
SELECT CAST((cum_before * 8) // GREATEST(n, 1) AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MIN(bucket) * 16 AS BIGINT) AS lo_edge,
       CAST((MAX(bucket) + 1) * 16 AS BIGINT) AS hi_edge,
       CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST((SUM(cnt) * 8 * 10000) // GREATEST(MAX(n), 1) AS BIGINT)
           AS skew_bps
FROM cum GROUP BY 1
""")
def q_range_layout_plan(spark, sf_dir):
    """Balanced range-partition planning from the additive histogram:
    8 contiguous n_chars ranges with near-equal row counts, derived
    deterministically from the one-pass mergeable grid (never Spark's
    sampled range partitioner, which re-draws boundaries on every
    replay). Off-ideal by at most one bucket's count — pinned by
    tests/test_operators.py::test_range_layout_plan_balance."""
    return chunking.range_layout_plan(
        load_table(spark, sf_dir, "documents"))


# =====================================================================
# Round-4 sixth-session: hybrid retrieval (RRF fusion) and
# metadata-filtered ANN — the two retrieval compositions RAG-style
# serving stacks add on top of the BM25 + IVF primitives above.
# =====================================================================

_HYB_QV = text.hashed_query_vector()
_HYB_QV_LIT = "[" + ", ".join(str(v) for v in _HYB_QV) + "]"
_HYB_WORD_BUCKET = f"""(CASE WHEN length(w) = 0 THEN 0 ELSE
               list_reduce(list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, length(w) + 1),
                   i -> CAST(ascii(substring(w, CAST(i AS INT), 1)) AS BIGINT))),
                 (acc, c) -> (acc * 31 + c) % {text.FP_MOD}) END
             % {text.HYB_BUCKETS})"""


@register("hybrid_rrf_retrieval", f"""
WITH stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS s_dl
  FROM documents),
words AS (
  SELECT doc_id, len(string_split(text, ' ')) AS dl,
         unnest(string_split(text, ' ')) AS term
  FROM documents),
hits AS (SELECT * FROM words
         WHERE term IN ({", ".join(f"'{t}'" for t in text.BM25_TERMS)})),
tf AS (SELECT doc_id, term, COUNT(*) AS tf, MAX(dl) AS dl
       FROM hits GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM hits GROUP BY 1),
lexsc AS (
  SELECT doc_id,
         (((n_docs * {text.BM25_IDF_SCALE}) // df) * 22 * tf * s_dl)
           // (10 * tf * s_dl + 3 * s_dl + 9 * dl * n_docs) AS part
  FROM tf JOIN dfreq USING (term) CROSS JOIN stats),
doc_scores AS (
  SELECT doc_id, CAST(SUM(part) AS BIGINT) AS score
  FROM lexsc GROUP BY 1),
lexr AS (
  SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id ASC)
           AS lex_rank
  FROM doc_scores),
lex AS (SELECT doc_id, lex_rank FROM lexr WHERE lex_rank <= {text.HYB_R}),
semsc AS (
  SELECT doc_id,
         (list_sum(list_transform(string_split(text, ' '),
            w -> ({_HYB_QV_LIT})[{_HYB_WORD_BUCKET} + 1])) * 1000)
           // greatest(len(string_split(text, ' ')), 1) AS sem_score
  FROM documents),
semr AS (
  SELECT doc_id, row_number() OVER (ORDER BY sem_score DESC, doc_id ASC)
           AS sem_rank
  FROM semsc),
sem AS (SELECT doc_id, sem_rank FROM semr WHERE sem_rank <= {text.HYB_R}),
rrf AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         coalesce({text.RRF_SCALE} // ({text.RRF_K} + l.lex_rank), 0)
           + coalesce({text.RRF_SCALE} // ({text.RRF_K} + s.sem_rank), 0)
           AS rrf_score,
         l.lex_rank, s.sem_rank
  FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id),
final AS (
  SELECT *, row_number() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS rank
  FROM rrf)
SELECT doc_id, CAST(rrf_score AS BIGINT) AS rrf_score,
       CAST(lex_rank AS INT) AS lex_rank,
       CAST(sem_rank AS INT) AS sem_rank,
       CAST(rank AS INT) AS rank
FROM final WHERE rank <= {text.HYB_K}
""")
def q_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval via reciprocal-rank fusion: the BM25 lexical
    top-R and a hashed-BoW dense top-R fused by Σ SCALE div (K + rank)
    (Cormack et al.'s RRF, integer-exact). Corpus-sized work is exactly
    two scans; the fusion full-outer join sees ≤ 2R rows. The fused
    rank preserves each leg's rank (NULL where a leg missed the doc) —
    the audit trail a retrieval-quality dashboard needs."""
    return text.hybrid_rrf_topk(load_table(spark, sf_dir, "documents"))


_IVF_FILTERED_SQL = f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
scored AS (
  SELECT q.vec_id, q.label, q.qv, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
assigned AS (
  SELECT vec_id, label, qv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM scored) WHERE rn = 1),
probes AS (
  SELECT vec_id AS query_id, label AS q_label, qv AS query_v,
         cent_id AS q_cent
  FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM scored WHERE vec_id < 10)
  WHERE rn <= {similarity.FILTER_NPROBE}),
cand AS (
  SELECT query_id, q_label AS label, a.vec_id,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * probes.query_v[i])) AS BIGINT) AS dot
  FROM assigned a JOIN probes ON a.cent_id = probes.q_cent
  WHERE a.vec_id <> probes.query_id AND a.label = probes.q_label),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY dot DESC, vec_id ASC) AS rank
  FROM cand)
SELECT query_id, label, vec_id, dot, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
"""


@register("streaming_ann_ingest", f"""
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
scored AS (
  SELECT q.vec_id, q.label, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
assigned AS (
  SELECT vec_id, label, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM scored) WHERE rn = 1)
SELECT cent_id, COUNT(*) AS n_vecs,
       CAST(SUM(vec_id) AS BIGINT) AS sum_vec_id,
       CAST(COUNT(DISTINCT label) AS INT) AS n_labels
FROM assigned GROUP BY 1
""")
def q_streaming_ann_ingest(spark, sf_dir):
    """Streaming IVF index ingest: live embeddings assigned to the
    FROZEN coarse codebook micro-batch by micro-batch (stream-static
    broadcast argmin — stateless, no watermark, no stream-side
    shuffle) into the exactly-once vec_id-keyed sink; the read-side
    fold is the inverted-list manifest. Oracle = the BATCH assignment
    over the same table — the online and offline index builds commute,
    which is the ivf_assign_incremental contract in streaming form.
    assign="jvm" pinned here: the oracle row keeps the all-JVM codegen
    argmin (no Python stages in registry plans); the deployed default
    is the Arrow form, identity pinned by
    test_ann_ingest_arrow_equals_jvm."""
    from movement_spark.streaming.pipeline import run_streaming_ann_ingest
    return run_streaming_ann_ingest(
        spark, sf_dir, n_centroids=similarity.N_CENTROIDS, assign="jvm")


@register("ann_ivf_recall_audit", f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
queries AS (SELECT vec_id AS query_id, qv AS query_v FROM q
            WHERE vec_id < 10),
bscored AS (
  SELECT query_id, q.vec_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * queries.query_v[i])) AS BIGINT) AS dot
  FROM q CROSS JOIN queries WHERE q.vec_id <> queries.query_id),
brutek AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot DESC, vec_id ASC) AS rank
    FROM bscored) WHERE rank <= 5),
cents AS (SELECT vec_id AS cent_id, qv AS cv FROM q
          WHERE vec_id < {similarity.N_CENTROIDS}),
cscored AS (
  SELECT q.vec_id, q.qv, cents.cent_id,
         CAST(list_sum(list_transform(range(1, len(q.qv) + 1),
              i -> q.qv[i] * cents.cv[i])) AS BIGINT) AS cdot
  FROM q CROSS JOIN cents),
assigned AS (
  SELECT vec_id, qv, cent_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cent_id ASC) AS rn
    FROM cscored) WHERE rn = 1),
iqueries AS (SELECT vec_id AS query_id, qv AS query_v, cent_id AS q_cent
             FROM assigned WHERE vec_id < 10),
icand AS (
  SELECT query_id, a.vec_id,
         CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
              i -> a.qv[i] * iqueries.query_v[i])) AS BIGINT) AS dot
  FROM assigned a JOIN iqueries ON a.cent_id = iqueries.q_cent
  WHERE a.vec_id <> iqueries.query_id),
ivfk AS (
  SELECT query_id, vec_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY dot DESC, vec_id ASC) AS rank
    FROM icand) WHERE rank <= 5),
hits AS (
  SELECT b.query_id, COUNT(*) AS n_hit
  FROM brutek b JOIN ivfk i
    ON b.query_id = i.query_id AND b.vec_id = i.vec_id
  GROUP BY 1)
SELECT b.query_id, CAST(coalesce(h.n_hit, 0) AS INT) AS n_hit,
       CAST(coalesce(h.n_hit, 0) * 10000 // 5 AS BIGINT) AS recall_bps
FROM (SELECT DISTINCT query_id FROM brutek) b
LEFT JOIN hits h ON b.query_id = h.query_id
""")
def q_ivf_recall_audit(spark, sf_dir):
    """Per-query recall@k of the IVF index vs the exact scan — the
    index-quality dashboard an ANN deployment recomputes after every
    build/re-cluster, as a first-class oracle-gated query (both
    rankings tie-break by vec_id, so the hit set is deterministic)."""
    return similarity.ivf_recall_audit(
        load_table(spark, sf_dir, "embeddings"))


@register("ann_filtered_topk", _IVF_FILTERED_SQL)
def q_ann_filtered(spark, sf_dir):
    """Metadata-filtered IVF search (label predicate evaluated inside
    the probed inverted lists, nprobe widened to 2 as the standard
    recall compensation for predicate thinning) — the filtered-ANN
    surface of production vector stores, composed from the same
    ivf_assign index with the filter column carried in the lists."""
    df = similarity.ivf_filtered_topk(load_table(spark, sf_dir, "embeddings"))
    return df.withColumn("rank", F.col("rank").cast("int"))


def _mmr_oracle_sql(n_queries: int = 4,
                    pool: int = similarity.MMR_POOL,
                    k: int = similarity.MMR_K) -> str:
    """Generate the k-step-unrolled MMR oracle: the same greedy
    argmax chain as similarity.mmr_diversified_topk, one CTE pair
    (max-sim fold + pick) per step. Unrolling in a loop keeps the two
    engines' step algebra in lockstep by construction."""
    A, B = similarity.MMR_A, similarity.MMR_B

    def dot(x: str, y: str) -> str:
        return (f"CAST(list_sum(list_transform(range(1, len({x}) + 1), "
                f"i -> {x}[i] * {y}[i])) AS BIGINT)")

    sql = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x ->
           CAST(round(CAST(x AS DOUBLE) * {similarity.QUANT}, 0) AS BIGINT)) AS qv
  FROM embeddings),
queries AS (SELECT vec_id AS query_id, qv AS query_v FROM q
            WHERE vec_id < {n_queries}),
scored AS (
  SELECT query_id, q.vec_id, q.qv, {dot("q.qv", "queries.query_v")} AS rel
  FROM q CROSS JOIN queries WHERE q.vec_id <> queries.query_id),
cand AS (
  SELECT query_id, vec_id, qv, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id ASC) AS rn
    FROM scored) WHERE rn <= {pool}),
pairs AS (
  SELECT a.query_id, a.vec_id AS a_vec, b.vec_id AS b_vec,
         {dot("a.qv", "b.qv")} AS sim
  FROM cand a JOIN cand b
    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id),
selected1 AS (
  SELECT query_id, vec_id, rel, CAST(rel * {A} AS BIGINT) AS score,
         1 AS mmr_rank
  FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, vec_id ASC) AS rn
    FROM cand) WHERE rn = 1)"""
    for t in range(2, k + 1):
        prev = f"selected{t - 1}"
        sql += f""",
ms{t} AS (
  SELECT p.query_id, p.a_vec AS vec_id, MAX(p.sim) AS max_sim
  FROM pairs p JOIN {prev} s
    ON p.query_id = s.query_id AND p.b_vec = s.vec_id
  GROUP BY 1, 2),
rem{t} AS (
  SELECT c.query_id, c.vec_id, c.rel
  FROM cand c LEFT JOIN {prev} s
    ON c.query_id = s.query_id AND c.vec_id = s.vec_id
  WHERE s.vec_id IS NULL),
sc{t} AS (
  SELECT r.query_id, r.vec_id, r.rel,
         CAST(r.rel * {A} - m.max_sim * {B} AS BIGINT) AS score
  FROM rem{t} r JOIN ms{t} m
    ON r.query_id = m.query_id AND r.vec_id = m.vec_id),
sel{t} AS (
  SELECT query_id, vec_id, rel, score, {t} AS mmr_rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, vec_id ASC) AS rn
    FROM sc{t}) WHERE rn = 1),
selected{t} AS (
  SELECT * FROM {prev} UNION ALL SELECT * FROM sel{t})"""
    sql += f"""
SELECT query_id, vec_id, rel, score, CAST(mmr_rank AS INT) AS mmr_rank
FROM selected{k}
"""
    return sql


@register("mmr_diversified_topk", _mmr_oracle_sql())
def q_mmr_diversified(spark, sf_dir):
    """MMR diversified re-rank (Carbonell & Goldstein): greedy
    MMR_A·rel − MMR_B·max-sim-to-selected over a pool-bounded candidate
    set — the diversity-aware serving layer over a near-dup-heavy
    corpus. Distributed work = candidate generation; the k unrolled
    greedy steps touch ≤pool² rows per query."""
    return similarity.mmr_diversified_topk(
        load_table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------
# Driver-gate ordering. The correctness sweep evaluates the registry in
# insertion order and time-boxes at ~50 rows (r01 truncated at 49;
# r02-r04 each verified exactly the first 50). Cumulative green driver
# rows through r04: 200 of 213 distinct — every row ever emitted is
# green. The round-5 order puts the 13 never-driver-verified round-4
# queries at positions 0-12 (closing the registry to 213/213
# cumulative), reserves the next slots for round-5 additions, then runs
# the driver-signed re-verification rotation stalest-first: all 50 rows
# whose only green row is r01, then the 50 r02-only rows — so every
# registry row gets a fresh driver row at least every ~4 rounds.
# ---------------------------------------------------------------------
_FRONT = [
    # --- The 13 queries with no CORRECTNESS_r01-r04 row (they sat at
    # _FRONT[50:63] last round, past the ~50-row time-box). Cheap
    # batch shapes first, streaming last; green r05 rows here close
    # the registry to 213/213 cumulative driver-green.
    "incremental_state_merge",
    "quantile_sketch_profile",
    "range_layout_plan",
    "hybrid_rrf_retrieval",
    "ann_filtered_topk",
    "ann_ivf_recall_audit",
    "mmr_diversified_topk",
    "streaming_quantile_monitor",
    "streaming_cms_monitor",
    "streaming_loglog_monitor",
    "streaming_backfill_handoff",
    "streaming_late_repair",
    "streaming_ann_ingest",
    # --- Round-5 additions (never driver-verified) land HERE, ahead
    # of re-verification rows but after the backlog (registry-growth
    # invariant, CLAUDE.md).
    "exact_substring_scrub_stats",
    # --- Re-verification rotation, stalest first: the 50 rows whose
    # only green driver row is r01 (four rounds of code evolution
    # since), in registry order; ~37 fit the r05 window, the rest
    # are priority ordering for whatever budget remains.
    "tumbling_token_throughput",
    "sliding_token_throughput",
    "session_token_windows",
    "merged_doc_check",
    "shard_pair_join",
    "work_chunk_stats",
    "late_data_audit",
    "pricing_summary",
    "top_customers_by_revenue",
    "region_rollup",
    "order_rank_per_customer",
    "supplier_part_volume",
    "priority_set_ops",
    "event_type_daily_matrix",
    "events_tumbling_stats",
    "events_sessionization",
    "dedup_exact_stats",
    "minhash_lsh_stats",
    "ngram_jaccard_pairs",
    "dedup_cluster_components",
    "simhash_docs",
    "ann_brute_force_topk",
    "ann_lsh_topk",
    "embedding_cosine_neardup",
    "dangling_edge_audit",
    "order_priority_semijoin",
    "idle_rich_customers",
    "grouping_sets_volume",
    "csv_directory_roundtrip",
    "text_tokenize_stats",
    "text_quality_scores",
    "text_langid_heuristic",
    "doc_fingerprints",
    "emitable_tree_expansion",
    "token_topk",
    "token_position_stats",
    "asof_purchase_gap",
    "orders_by_weekday",
    "orders_moving_revenue",
    "repeat_customer_intersect",
    "json_props_stats",
    "validation_audit",
    "order_value_quantiles",
    "kmv_distinct_sketch",
    "user_interarrival_stats",
    "funnel_detection",
    "orders_cube",
    "output_id_allocation",
    "streaming_tumbling_pipeline",
    "streaming_ordered_merge",
    # --- Then the r02-stale rows (three rounds old).
    "normalized_dup_stats",
    "cc_pointer_doubling",
    "leakage_safe_split_stats",
    "span_ownership_stats",
    "customer_order_distribution",
    "streaming_leaderboard",
    "kmeans_training_loop",
    "segment_priority_mode",
    "unpivot_event_matrix",
    "ushape_attribution",
    "session_touch_attribution",
    "jsonl_roundtrip",
    "order_value_histogram",
    "orders_column_profile",
    "source_silence_audit",
    "window_share_of_total",
    "daily_bounce_rate",
    "triangle_count_token_graph",
    "dedup_canonical_manifest",
    "doc_chunking_stats",
    "multires_rollup_chain",
    "session_dynamic_gap",
    "kmv_set_algebra",
    "event_transition_matrix",
    "event_path_trigrams",
    "event_copresence_lift",
    "event_type_daily_trend",
    "lsh_containment_pairs",
    "incremental_ingest_dedup",
    "part_best_supplier",
    "brand_value_concentration",
    "top_supplier_quarter",
    "partitioned_layout_prune",
    "orc_roundtrip",
    "merge_upsert_orders",
    "bfs_token_reachability",
    "fuzzy_blocked_matches",
    "approx_quantile_audit",
    "weighted_sample_manifest",
    "training_set_manifest",
    "locf_imputation",
    "set_ops_bag_semantics",
    "streaming_fanout_counters",
    "streaming_full_outer_join",
    "streaming_join_then_window",
    "streaming_window_rollup",
    "streaming_dedup_join_window",
    "pattern_match_stats",
    "streaming_pattern_match",
    "bucketed_colocated_join",
]
_REGISTRY = {
    name: _REGISTRY[name]
    for name in [*_FRONT, *[n for n in _REGISTRY if n not in _FRONT]]
}
