"""Training-dataset assembly operators: splits and sequence packing.

The last mile of a pretraining data pipeline, after dedup/quality:
deterministically split the corpus, then pack variable-length token
sequences into fixed-size context windows. Both are pure column
arithmetic (a*x+b mod p hashing, prefix sums) so the DuckDB oracle can
recompute them bit-for-bit, and both shapes survive 100 TB: the split
is stateless per-row; packing is a per-source prefix sum (each source's
window function runs inside one partition of the source-keyed shuffle —
production packs per shard/worker exactly the same way, never a global
order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from movement_spark.operators.text import packed_bigram_expr, word_bigram_expr
from movement_spark.sources.tokens import TOK_MOD
from pyspark.sql.window import Window

# Split hashing — plain integer arithmetic, NOT an engine hash builtin,
# so the assignment is reproducible in any engine (and stable forever:
# re-running the pipeline never moves a doc across splits).
SPLIT_A, SPLIT_B, SPLIT_P = 1_103_515_245, 12_345, (1 << 31) - 1
TRAIN_PCT, VAL_PCT = 80, 10  # remainder = test

CONTEXT_LEN = 2048  # tokens per packed training window


def split_column(doc_key: F.Column) -> F.Column:
    """train/val/test by deterministic hash bucket of the doc key."""
    bucket = ((doc_key * SPLIT_A + SPLIT_B) % SPLIT_P) % 100
    return (F.when(bucket < TRAIN_PCT, "train")
            .when(bucket < TRAIN_PCT + VAL_PCT, "val")
            .otherwise("test"))


def dataset_split_stats(documents: DataFrame) -> DataFrame:
    """Per-(source, split) doc and char counts — the manifest a split
    step emits so downstream jobs can verify ratios and leakage."""
    return (
        documents
        .withColumn("split", split_column(F.col("doc_id")))
        .groupBy("source", "split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"))
    )


def sequence_packing_stats(tokens: DataFrame,
                           context_len: int = CONTEXT_LEN) -> DataFrame:
    """Concatenate-then-chunk packing plan (the GPT-style layout): per
    source, docs concatenate in doc order and split into fixed
    ``context_len`` windows. Emitted stats are what a packing planner
    reports: windows needed, docs crossing a window boundary (the
    attention-mask seam count), and tail waste.

    One shuffle on (source); the prefix sum is a ROWS-unbounded window
    INSIDE each source partition — no global ordering anywhere, so the
    plan parallelizes across sources (the production unit of packing).
    """
    per_doc = (
        tokens
        .groupBy("source", "doc_id")
        .agg(F.sum("n_tok").cast("bigint").alias("doc_tok"))
    )
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    placed = (
        per_doc
        .withColumn("cum_end", F.sum("doc_tok").over(w))
        .withColumn("cum_start", F.col("cum_end") - F.col("doc_tok"))
        .withColumn("first_bin", F.expr(f"cum_start div {context_len}"))
        .withColumn("last_bin", F.expr(f"(cum_end - 1) div {context_len}"))
    )
    agg = (
        placed.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("doc_tok").cast("bigint").alias("total_tok"),
             F.sum((F.col("first_bin") != F.col("last_bin")).cast("int"))
             .cast("bigint").alias("n_boundary_docs"))
    )
    # all-integer window math (float ceil differs across engines)
    n_windows = F.expr(f"(total_tok + {context_len - 1}) div {context_len}")
    return (
        agg.withColumn("n_windows", n_windows.cast("bigint"))
        .withColumn("tail_waste_tok",
                    (F.col("n_windows") * context_len - F.col("total_tok"))
                    .cast("bigint"))
        .select("source", "n_docs", "total_tok", "n_windows",
                "n_boundary_docs", "tail_waste_tok")
    )


def stratified_sample_stats(documents: DataFrame) -> DataFrame:
    """Per-source quota sampling by deterministic hash threshold — the
    corpus-mixing step (up/down-weight sources) of a pretraining
    pipeline, reproducible across engines and re-runs. Quota is a pure
    function of the source id (demo rule: 100 + 45·(n mod 20) permille);
    a doc is kept iff its split-hash bucket falls under the quota, so
    sampled subsets are NESTED as quotas grow (raising a source's quota
    only ADDS docs — the property that makes mixture sweeps cheap)."""
    src_num = F.substring("source", 4, 10).cast("int")
    quota = (100 + 45 * (src_num % 20)).cast("int")
    bucket = ((F.col("doc_id") * SPLIT_A + SPLIT_B) % SPLIT_P) % 1000
    return (
        documents
        .withColumn("quota_permille", quota)
        .withColumn("keep", (bucket < F.col("quota_permille")).cast("int"))
        .groupBy("source")
        .agg(F.max("quota_permille").alias("quota_permille"),
             F.count("*").alias("n_total"),
             F.sum("keep").cast("bigint").alias("n_sampled"),
             F.sum(F.col("keep") * F.col("n_chars")).cast("bigint")
             .alias("sampled_chars"))
    )


PROBE_COUNT = 64


def contamination_probe_keys(tok_mod: int = TOK_MOD) -> list[int]:
    """Deterministic benchmark-probe bigrams: even probes follow the
    corpus bigram structure (guaranteed-present pattern), odd probes
    are off-pattern (guaranteed-absent) — so the scan provably detects
    both contamination and its absence."""
    keys = []
    for j in range(PROBE_COUNT):
        a = (j * 2654435761 + 13) % tok_mod
        off = 97 if j % 2 == 0 else 98
        keys.append(a * tok_mod + (a + off) % tok_mod)
    return keys


def benchmark_contamination(tokens: DataFrame,
                            tok_mod: int = TOK_MOD) -> DataFrame:
    """Eval-set contamination scan: count docs (and hits) whose token
    bigrams intersect a broadcast probe set — the n-gram-overlap
    decontamination check run before training. The probe side is tiny
    and broadcast; the corpus side is one explode + one map-side join,
    no shuffle of the corpus beyond the per-source aggregate."""
    spark = tokens.sparkSession
    probes = spark.createDataFrame(
        [(k,) for k in contamination_probe_keys(tok_mod)], "g BIGINT")
    bg_expr = packed_bigram_expr(tok_mod)
    bg = tokens.select("source", "doc_id",
                       F.explode(F.expr(bg_expr)).alias("g"))
    hits = (
        bg.join(F.broadcast(probes), "g")
        .groupBy("source")
        .agg(F.countDistinct("doc_id").alias("n_contaminated"),
             F.count("*").alias("n_hits"))
    )
    totals = (tokens.groupBy("source")
              .agg(F.countDistinct("doc_id").alias("n_docs")))
    return (
        totals.join(hits, "source", "left")
        .select("source", "n_docs",
                F.coalesce("n_contaminated", F.lit(0)).cast("bigint")
                .alias("n_contaminated"),
                F.coalesce("n_hits", F.lit(0)).cast("bigint")
                .alias("n_hits"))
    )


MIX_SCALE = 1_000_000


def _isqrt_expr(x: str) -> str:
    """Exact floor(sqrt(x)) for bigint x as a SQL expression valid in
    both Spark and DuckDB: start from the float sqrt and correct the
    possible ±1 ulp rounding with integer comparisons, so the result
    never depends on float rounding behavior."""
    s = f"cast(floor(sqrt({x})) as bigint)"
    return (f"(case when {s} * {s} > {x} then {s} - 1 "
            f"when ({s} + 1) * ({s} + 1) <= {x} then {s} + 1 "
            f"else {s} end)")


def temperature_mix_stats(documents: DataFrame) -> DataFrame:
    """Temperature-scaled corpus mixing weights (τ = 0.5): each source's
    sampling weight ∝ size^τ — the standard multi-source pretraining
    mix that upsamples small high-quality sources relative to raw
    proportional sampling. τ = 0.5 makes the power exact integer math
    (isqrt), so weights, per-source char targets, and effective epoch
    counts are bit-reproducible in any engine — a mixing manifest must
    never drift between the planner and the sampler.

    Shape at scale: one map-side-combined per-source aggregate (sources
    number in the hundreds), then scalar broadcast normalization — the
    fact table is scanned once.
    """
    per_src = documents.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_src"))
    sq = per_src.withColumn(
        "sqrt_chars", F.expr(_isqrt_expr("n_chars_src")))
    tot = sq.agg(F.sum("sqrt_chars").cast("bigint").alias("sum_sqrt"),
                 F.sum("n_chars_src").cast("bigint").alias("total_chars"))
    return (
        sq.crossJoin(F.broadcast(tot))
        .withColumn("weight_ppm",
                    F.expr(f"(sqrt_chars * {MIX_SCALE}L) div sum_sqrt"))
        .withColumn("target_chars",
                    F.expr(f"(weight_ppm * total_chars) div {MIX_SCALE}"))
        .withColumn("epochs_x1000",
                    F.expr("(target_chars * 1000) div n_chars_src"))
        .select("source", "n_docs", "n_chars_src", "sqrt_chars",
                "weight_ppm", "target_chars", "epochs_x1000")
    )


REP_PERMILLE_MIN = 600   # min distinct-bigram permille before "repetitive"
MIN_CHARS = 120


def corpus_verdicts(documents: DataFrame) -> DataFrame:
    """End-to-end corpus filter funnel, per-doc form: every document
    gets exactly one verdict — the FIRST tripped filter in precedence
    order exact_dup → bad_lang → too_short → repetitive → keep. This is
    the composition pass a pretraining pipeline actually ships: filters
    are cheap column work; what matters is that the precedence is
    deterministic so reruns and audits agree row-for-row.

    Scale shape: one corpus-global groupBy(text) finds exact-dup
    keepers (at 100 TB the key is a 128-bit digest of text, not the
    string — hashes are fine inside the plan, only checked VALUES must
    stay engine-portable), one join back, then pure per-row expressions
    and a tiny rollup. Bigram repetition is computed inline (distinct
    adjacent word pairs vs total) with no second explode-shuffle.
    """
    keepers = documents.groupBy("text").agg(
        F.min("doc_id").alias("keeper_id"))
    docs = documents.join(keepers, "text").withColumn(
        "w", F.split("text", " "))
    nw = F.size("w")
    # word_bigram_expr is TOTAL and greatest() guards the denominator:
    # the nw >= 2 branch guard below does NOT protect this — Spark's
    # subexpression elimination may evaluate a CASE branch's common
    # subexpression on every row, and the indexed transform form threw
    # INVALID_ARRAY_INDEX on 1-word docs (same class as the
    # doc_novelty_scores crash, tests/test_properties.py). Values are
    # identical for every nw >= 2 row.
    rep_permille = F.expr(
        f"(size({word_bigram_expr()}) * 1000) div greatest(size(w) - 1, 1)")
    verdict = (
        F.when(F.col("doc_id") != F.col("keeper_id"), "exact_dup")
        .when(F.col("lang") != "en", "bad_lang")
        .when(F.col("n_chars") < MIN_CHARS, "too_short")
        .when((nw >= 2) & (rep_permille < REP_PERMILLE_MIN), "repetitive")
        .otherwise("keep"))
    return docs.select("doc_id", "source", "n_chars",
                       verdict.alias("verdict"))


def corpus_filter_manifest(documents: DataFrame) -> DataFrame:
    """Per-(source, verdict) rollup of the filter funnel — the drop
    manifest a pretraining pipeline ships alongside the kept set."""
    return (
        corpus_verdicts(documents)
        .groupBy("source", "verdict")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"))
    )


CHARS_PER_TOK = 5  # training_set_manifest's token estimate


def training_set_manifest(documents: DataFrame) -> DataFrame:
    """Capstone composition: the full corpus → training-set pipeline in
    one plan — filter funnel (corpus_verdicts) → keep only survivors →
    deterministic train/val/test assignment (split_column) → per-split
    budget manifest (docs, chars, estimated tokens at CHARS_PER_TOK,
    full context windows of CONTEXT_LEN and the leftover tail).

    This is the end-to-end artifact a data team signs off on before a
    run: every number is a pure function of the corpus, so two engines
    (or two re-runs over a grown corpus) produce byte-identical
    manifests. Scale shape: the funnel's one corpus-global digest
    groupBy dominates; everything after is per-row expressions plus a
    3-row rollup — composing the stages adds NO new shuffle beyond the
    funnel's own.
    """
    kept = corpus_verdicts(documents).where(F.col("verdict") == "keep")
    est_tok = F.expr(f"cast(n_chars as bigint) div {CHARS_PER_TOK}")
    return (
        kept.withColumn("split", split_column(F.col("doc_id")))
        .withColumn("est_tok", est_tok)
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.sum("est_tok").cast("bigint").alias("est_tokens"),
             F.expr(f"cast(sum(est_tok) div {CONTEXT_LEN} as bigint)")
             .alias("n_windows"),
             F.expr(f"cast(sum(est_tok) % {CONTEXT_LEN} as bigint)")
             .alias("tail_tokens"))
    )


CHUNK_W = 32   # tokens per retrieval chunk
CHUNK_S = 24   # chunk stride (overlap = CHUNK_W - CHUNK_S)


def doc_chunking_stats(tokens: DataFrame) -> DataFrame:
    """Overlapping fixed-window chunking plan (the RAG/retrieval layout,
    versus sequence_packing_stats' concatenate-then-chunk training
    layout): each token sequence splits into windows of w = CHUNK_W
    tokens every s = CHUNK_S tokens (overlap w-s), the last window
    ragged. Emits the
    per-source chunking manifest: chunk count, chunked token volume,
    ragged-tail count, and the token volume DUPLICATED by overlap —
    the storage-amplification number a retrieval index planner needs.

    Scale shape: chunk fan-out is one JVM explode over a sequence()
    (no Python, no shuffle); both rollups are map-side-combined aggs
    keyed by source; the overlap subtraction is a join of two tiny
    per-source aggregates. Every sequence is covered end-to-end by
    construction: chunk j starts at j*s and the chunk count is
    1 + ceil((n_tok - w) / s) (one chunk when n_tok <= w), so the last
    window always reaches the final token.
    """
    w, s = CHUNK_W, CHUNK_S
    n_chunks = (
        f"if(n_tok <= {w}, 1, "
        f"1 + (n_tok - {w} + {s} - 1) div {s})"
    )
    chunks = (
        tokens.select(
            "source", "n_tok",
            F.explode(F.expr(f"sequence(0, {n_chunks} - 1)")).alias("j"))
        .select("source",
                F.least(F.lit(w), F.col("n_tok") - F.col("j") * s)
                .alias("len"))
    )
    per_chunk = (
        chunks.groupBy("source")
        .agg(F.count("*").alias("n_chunks"),
             F.sum("len").cast("bigint").alias("sum_chunk_tok"),
             F.sum((F.col("len") < w).cast("int")).cast("bigint")
             .alias("n_ragged"))
    )
    base = tokens.groupBy("source").agg(
        F.sum("n_tok").cast("bigint").alias("total_tok"))
    return (
        per_chunk.join(base, "source")
        .select("source", "n_chunks", "sum_chunk_tok", "n_ragged",
                (F.col("sum_chunk_tok") - F.col("total_tok"))
                .cast("bigint").alias("overlap_tok"))
    )


SAMPLE_K = 40  # weighted-sample size per source


def weighted_sample_manifest(documents: DataFrame) -> DataFrame:
    """Per-source weighted sampling without replacement, fully
    deterministic: each doc draws an integer priority
    ``hash(doc_id) div weight`` (weight = n_chars div 100 + 1, a
    quality/length proxy) and the SAMPLE_K SMALLEST priorities per source
    win —
    heavier docs divide their hash down and so win more often, the
    integer-arithmetic analog of the Efraimidis–Spirakis reservoir key
    (u^(1/w)) with the float pow replaced by exact division so any
    engine reproduces the selected set bit-for-bit.

    Scale shape: priorities are one JVM expression over the scan; the
    per-source top-k is a single window rank bounded by k — at 100 TB
    this is the map-side-truncatable pattern (each partition can pre-
    prune to its local top-k before the shuffle; Spark's rank window
    does the same via partial sort). No collect, no sampling pass, and
    re-runs (or a second engine) select the identical manifest — the
    property that makes weighted corpus subsampling auditable.
    """
    from pyspark.sql.window import Window

    # integer div end-to-end: float division + cast is the classic
    # cross-engine break (DuckDB's cast rounds, Spark's truncates)
    weight = F.expr("cast(n_chars as bigint) div 100 + 1")
    prio = F.expr(
        f"((doc_id * {SPLIT_A} + {SPLIT_B}) % {SPLIT_P})"
        " div (cast(n_chars as bigint) div 100 + 1)")
    ranked = (
        documents
        .select("doc_id", "source", "n_chars",
                weight.alias("w"), prio.alias("prio"))
        .withColumn("rk", F.row_number().over(
            Window.partitionBy("source")
            .orderBy(F.asc("prio"), F.asc("doc_id"))))
        .where(F.col("rk") <= SAMPLE_K)
    )
    return (
        ranked.groupBy("source")
        .agg(F.count("*").alias("n_selected"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.sum("w").cast("bigint").alias("sum_weight"),
             F.max("prio").cast("bigint").alias("cutoff_prio"))
    )


def leakage_safe_split_stats(tokens: DataFrame) -> DataFrame:
    """Near-dup-aware train/val/test split: assign every doc to the
    split of its DUPLICATE-CLUSTER representative (the min-did label
    from the candidate-graph components), so two near-duplicates can
    never land in different splits — the leakage guard a naive per-doc
    hash split lacks. Emits per-split docs/clusters/tokens plus
    ``would_leak_docs``: docs whose naive own-id split differs from
    their cluster split, i.e. exactly the contamination the operator
    prevents.

    Scale shape: label propagation is the dedup components loop (one
    shuffle per round over candidate edges); everything after is one
    doc-level join plus one tiny aggregate. Split assignment stays the
    same integer hash as dataset_split_stats — only the KEY changes
    (cluster label instead of own id)."""
    from movement_spark.operators.dedup import _sampled_component_labels

    sample, labels = _sampled_component_labels(tokens)
    docs = sample.groupBy("doc_id", "did").agg(
        F.sum("n_tok").cast("bigint").alias("tok"))
    labeled = docs.join(labels, "doc_id")
    assigned = labeled.select(
        "tok", "label",
        split_column(F.col("label")).alias("split"),
        split_column(F.col("did")).alias("naive_split"))
    return (
        assigned.groupBy("split")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("label").alias("n_clusters"),
             F.sum("tok").cast("bigint").alias("sum_tok"),
             F.sum((F.col("naive_split") != F.col("split")).cast("int"))
             .cast("bigint").alias("would_leak_docs"))
    )


def source_drift_tvd(tokens: DataFrame) -> DataFrame:
    """Distribution-drift audit per source: EXACT integer total-
    variation distance between each source's token distribution and the
    corpus-wide distribution — the pre-mixing check that flags
    off-distribution sources before they enter the mix (run
    snapshot-vs-snapshot it is the crawl-drift monitor).

    TVD(P_s, Q) = ½ Σ_t |c_s(t)/N_s − c_g(t)/N_g| is evaluated on the
    common denominator N_s·N_g in decimal(38,0) (HUGEINT in the
    oracle), so the result is exact — no float division anywhere.
    Tokens the source never saw contribute (N_g − Σ_seen c_g)·N_s in
    the same basis, so no outer join materializes the token union.

    Shuffles: ONE (source, token) count (map-side combined), a
    token-keyed re-agg of the same frame for the corpus counts, the
    token-keyed join between them, and a per-source rollup; the
    per-source / corpus totals travel as broadcasts. Output: one row
    per source.
    """
    tok = tokens.select("source", F.explode("tokens").alias("t"))
    sc = tok.groupBy("source", "t").agg(F.count("*").alias("c_s"))
    gc = sc.groupBy("t").agg(F.sum("c_s").alias("c_g"))
    totals = sc.groupBy("source").agg(F.sum("c_s").alias("n_s"))
    g_total = gc.agg(F.sum("c_g").alias("n_g"))
    agg = (
        sc.join(gc, "t")
        .join(F.broadcast(totals), "source")
        .crossJoin(F.broadcast(g_total))
        .groupBy("source", "n_s", "n_g")
        .agg(F.sum(F.expr(
            "abs(cast(c_s as decimal(38,0)) * n_g "
            "- cast(c_g as decimal(38,0)) * n_s)")).alias("sum_inner"),
             F.sum("c_g").alias("cg_seen")))
    return agg.select(
        "source",
        F.col("n_s").cast("bigint").alias("n_tokens_source"),
        F.col("n_g").cast("bigint").alias("n_tokens_corpus"),
        F.expr(
            "cast(((sum_inner + cast(n_g - cg_seen as decimal(38,0)) * n_s)"
            " * 1000000) div (cast(2 as decimal(38,0)) * n_s * n_g) "
            "as bigint)").alias("tvd_ppm"))


def window_drift_tvd(hist: DataFrame, width_sec: int = 300) -> DataFrame:
    """Consecutive-window drift from bucketed token histograms — the
    read-side fold of the streaming drift monitor
    (streaming/pipeline.py:run_streaming_drift_monitor): for every
    (source, window) with a predecessor window, the exact integer TVD
    between the two bucket distributions, same decimal(38,0)/HUGEINT
    arithmetic as source_drift_tvd.

    hist columns: (ws, source, bucket, cnt). Buckets one side never saw
    enter through the full-outer bucket join with zero counts; windows
    without a predecessor drop at the totals inner join. All joins are
    (source, ws[, bucket])-keyed over a frame already reduced to
    windows × sources × buckets rows — histogram-sized, never
    corpus-sized."""
    tot = hist.groupBy("source", "ws").agg(
        F.sum("cnt").cast("bigint").alias("n"))
    cur = hist.select("source", "ws", "bucket",
                      F.col("cnt").alias("c_cur"))
    prev = hist.select("source", (F.col("ws") + width_sec).alias("ws"),
                       "bucket", F.col("cnt").alias("c_prev"))
    pairs = (cur.join(prev, ["source", "ws", "bucket"], "full_outer")
             .fillna(0, ["c_cur", "c_prev"]))
    n_cur = tot.select("source", "ws", F.col("n").alias("n_cur"))
    n_prev = tot.select("source", (F.col("ws") + width_sec).alias("ws"),
                        F.col("n").alias("n_prev"))
    return (
        pairs.join(n_cur, ["source", "ws"])
        .join(n_prev, ["source", "ws"])
        .groupBy("source", "ws", "n_cur", "n_prev")
        .agg(F.sum(F.expr(
            "abs(cast(c_cur as decimal(38,0)) * n_prev "
            "- cast(c_prev as decimal(38,0)) * n_cur)")).alias("num"))
        .select("source", F.col("ws").alias("window_start"),
                F.col("n_cur").alias("n_tokens"),
                F.col("n_prev").alias("n_tokens_prev"),
                F.expr("cast((num * 1000000) div "
                       "(cast(2 as decimal(38,0)) * n_cur * n_prev) "
                       "as bigint)").alias("tvd_ppm"))
    )


# Shard-shuffle constants: a DISTINCT MULTIPLIER from the split hash,
# not just a distinct increment — with the same multiplier the two
# hashes differ by a constant, and since that constant and 100 are both
# ≡ 0 (mod 4), shard % 4 would be fully determined by the train/val/
# test bucket (every split-bucket's docs confined to 4 of 16 shards).
# A different multiplier decorrelates the residues. 1_566_083_941
# wraps SPLIT_P from doc_id=2 and keeps doc_id*A < 2^63 to ~5.9e9 docs.
SHUFFLE_A = 1_566_083_941
SHUFFLE_B = 54_321
N_SHARDS = 16


def shard_shuffle_manifest(documents: DataFrame) -> DataFrame:
    """Deterministic corpus shuffle into training shards — the "write
    tokenized data in shuffled order" job at the end of a pretraining
    pipeline (reference analog: the RangedOutputIdDriver's stable
    global layout, OutputIdDriver.java, re-keyed by a permutation).

    shard = h(doc_id) % N_SHARDS is a pure hash partition (ONE shuffle,
    no global sort — balanced in expectation at any corpus size);
    within a shard, docs order by (h, doc_id), which is exactly what a
    shard writer's sortWithinPartitions does. The manifest pins both
    the assignment AND the intra-shard order: order_checksum folds each
    doc's position into an integer only the exact permutation
    reproduces. 100-TB shape: shard-keyed shuffle + per-shard window —
    never a global row_number."""
    h = ((F.col("doc_id") * SHUFFLE_A + SHUFFLE_B) % SPLIT_P)
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        documents
        .select("doc_id", "n_chars", h.alias("h"))
        .withColumn("shard", (F.col("h") % N_SHARDS).cast("int"))
        .withColumn("pos", F.row_number().over(w))
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("sum_chars"),
             F.min("h").alias("min_h"),
             F.max("h").alias("max_h"),
             F.sum(F.col("pos") * (F.col("doc_id") % 97))
             .cast("bigint").alias("order_checksum"))
    )


def quality_weighted_mix(documents: DataFrame) -> DataFrame:
    """Quality-weighted corpus mixing: keep-rate scales with the doc's
    quality bucket (bucket 0 keeps 20%, bucket 4 keeps 100%) — the
    curriculum/mixing step that upsamples high-quality text without an
    RNG. The draw is the same a*x+b mod p coin flip as the corpus
    samplers (operators/distribution.py), the bucket the same
    words-per-doc feature as text.quality_scores; the manifest reports
    per-(source, bucket) population vs kept counts and kept chars so a
    mixing run is fully auditable. Stateless per-row expressions + one
    agg shuffle — nothing here changes at 100 TB."""
    n_words = F.size(F.split("text", " "))
    bucket = F.least(F.floor(n_words / 20), F.lit(4)).cast("int")
    draw = ((F.col("doc_id") * SPLIT_A + SPLIT_B) % SPLIT_P) % 10000
    kept = (draw < (bucket + 1) * 2000).cast("int")
    return (
        documents
        .select("source", "n_chars", bucket.alias("quality_bucket"),
                kept.alias("kept"))
        .groupBy("source", "quality_bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sum("kept").cast("bigint").alias("n_kept"),
             F.sum(F.col("kept") * F.col("n_chars"))
             .cast("bigint").alias("kept_chars"))
    )


# DSIR-style importance weighting (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every doc by
# how much more likely its hashed-unigram bag is under a TARGET domain
# model than under the RAW corpus model. Bucket width is a FIXTURE
# value (the tiny oracle corpus must populate buckets densely enough
# to have a signal); production runs pass ~100k buckets.
DSIR_BUCKETS = 1024
DSIR_SCALE = 1_000_000      # ratio unit: ppm of "equally likely"
DSIR_MOD = 1_000_000_007    # rolling-hash modulus (same family as FP_MOD)
DSIR_TARGET_LANG = "en"


def dsir_bucket_expr(n_buckets: int) -> str:
    """Spark SQL expression hashing a non-empty `term` into a model
    bucket: fold(h*31 + ascii(c)) mod DSIR_MOD over the term's chars
    (the fingerprint_expr convention — engine-neutral a*x+b mod p
    arithmetic, no engine hash builtins), then mod n_buckets. The ONE
    term-hash rule shared with the query's oracle mirror."""
    return (
        f"(aggregate(sequence(1, cast(length(term) as int)), 0L, "
        f"(acc, i) -> (acc * 31 + ascii(substring(term, cast(i as int), 1)))"
        f" % {DSIR_MOD}) % {n_buckets})"
    )


def dsir_importance_weights(documents: DataFrame,
                            n_buckets: int = DSIR_BUCKETS,
                            target_lang: str = DSIR_TARGET_LANG) -> DataFrame:
    """DSIR importance-resampling manifest: estimate hashed-unigram
    models for the target domain (lang == target_lang) and the raw
    corpus in ONE conditional aggregate, score each doc by its mean
    per-token likelihood ratio, and report per-lang how many docs the
    ratio >= 1 cut would select. Log-free integral form (the tfidf_
    top_terms convention): ratio_ppm(b) = cnt_tgt(b)*tot_raw*1e6 div
    (cnt_raw(b)*tot_tgt) — 1e6 means "as likely under target as raw",
    so target-lang docs score far above 1e6 and off-target docs near 0,
    all in bigint (swap for decimal(38,0) at web scale).

    Shape at 100 TB: the model pass is one explode + one map-side-
    combined aggregate onto n_buckets rows; the bucket->ratio table is
    bounded by n_buckets and BROADCAST back onto the tokenized
    projection (no shuffle), so scoring adds only the doc-keyed agg.
    Two passes over the tokens are inherent to DSIR (estimate, then
    score); production persists the tokenized projection once between
    them.
    """
    words = (documents
             .select("doc_id", "lang", "n_chars",
                     F.explode(F.split("text", " ")).alias("term"))
             .where(F.length("term") > 0)
             .withColumn("bucket", F.expr(dsir_bucket_expr(n_buckets)))
             .drop("term"))
    model = words.groupBy("bucket").agg(
        F.count("*").alias("cnt_raw"),
        F.sum(F.when(F.col("lang") == target_lang, 1).otherwise(0))
        .cast("bigint").alias("cnt_tgt"))
    totals = model.agg(
        F.sum("cnt_raw").cast("bigint").alias("tot_raw"),
        F.sum("cnt_tgt").cast("bigint").alias("tot_tgt"))
    # decimal(38,0) for the products: cnt_tgt*tot_raw*1e6 passes int64
    # around a billion tokens (found by bench/dsir_scale.py at 10M docs
    # / 1.12B tokens); the quotient is back under 1e7, so the ratio
    # column itself stays bigint. DuckDB needs no cast — its SUM is
    # already HUGEINT.
    ratios = (model.crossJoin(F.broadcast(totals))
              .withColumn("ratio_ppm",
                          # greatest(tot_tgt, 1): a corpus with ZERO
                          # target-lang tokens must degrade to ratio 0
                          # everywhere (cnt_tgt is 0 too), not raise
                          # DIVIDE_BY_ZERO under ANSI (totality rule)
                          F.expr(f"cast((cast(cnt_tgt as decimal(38,0)) "
                                 f"* tot_raw * {DSIR_SCALE}) "
                                 f"div (cast(cnt_raw as decimal(38,0)) "
                                 f"* greatest(tot_tgt, 1)) as bigint)"))
              .select("bucket", "ratio_ppm"))
    scored = (words.join(F.broadcast(ratios), "bucket")
              .groupBy("doc_id", "lang", "n_chars")
              .agg(F.count("*").alias("n_tok"),
                   F.sum("ratio_ppm").alias("ratio_sum"))
              .withColumn("avg_ppm", F.expr("ratio_sum div n_tok")))
    sel = (F.col("avg_ppm") >= DSIR_SCALE).cast("int")
    return (scored
            .groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("avg_ppm").cast("bigint").alias("sum_avg_ppm"),
                 F.sum(sel).cast("bigint").alias("n_selected"),
                 F.sum(sel * F.col("n_chars")).cast("bigint")
                 .alias("selected_chars")))


# ---------------------------------------------------------------------
# Per-source/domain document cap: the "no domain may dominate" stage of
# web-corpus assembly (RefinedWeb/C4-style URL- or domain-frequency
# capping). Keep at most `cap` docs per (source, lang) key, chosen by a
# deterministic hash priority so re-runs and engines agree. The naive
# form is one row_number window per key — which is exactly the skewed
# shuffle a 100 TB corpus cannot run (a handful of giant domains land
# on single tasks). The implementation is the salted two-phase cap:
# phase 1 caps within (key, salt) — a balanced shuffle — leaving at
# most cap×CAP_SALT rows per key, and phase 2 runs the exact cap over
# that bounded survivor set. The oracle is the naive single-window
# form, proving the rewrite exact.

CAP_PER_KEY = 4          # fixture width; production passes e.g. 100k
CAP_SALT = 16            # phase-1 salt fan-out
CAP_PRI_MULT = 2654435761
CAP_PRI_ADD = 11
CAP_PRI_MOD = 1_000_003


def source_cap_kept(documents: DataFrame,
                    cap: int = CAP_PER_KEY,
                    salt: int = CAP_SALT) -> DataFrame:
    """The salted two-phase cap's KEPT ROWS (all input columns
    preserved): ≤cap docs per (source, lang) by hash priority
    (doc_id*a + b) mod p. Every global top-`cap` row is also top-`cap`
    inside its salt bucket, so phase 1 never discards a final keeper —
    the hot-key window never lands on one task (phase 1 bounds every
    key to cap×salt survivors on a balanced shuffle, phase 2 exact).
    Callers wanting the cheap plan project to the columns they need
    BEFORE calling (the windows carry every column through both
    shuffles)."""
    from pyspark.sql.window import Window

    pri = F.expr(f"(doc_id * {CAP_PRI_MULT}L + {CAP_PRI_ADD}) % {CAP_PRI_MOD}")
    base = (documents.withColumn("pri", pri)
            .withColumn("salt", F.col("doc_id") % salt))
    w1 = Window.partitionBy("source", "lang", "salt").orderBy(
        F.asc("pri"), F.asc("doc_id"))
    pre = (base.withColumn("rn1", F.row_number().over(w1))
           .where(F.col("rn1") <= cap))
    w2 = Window.partitionBy("source", "lang").orderBy(
        F.asc("pri"), F.asc("doc_id"))
    return (pre.withColumn("rn", F.row_number().over(w2))
            .where(F.col("rn") <= cap)
            .drop("pri", "salt", "rn1", "rn"))


def source_cap_manifest(documents: DataFrame,
                        cap: int = CAP_PER_KEY,
                        salt: int = CAP_SALT) -> DataFrame:
    """Cap manifest per (source, lang): docs seen, kept under the cap,
    dropped, and the char mass kept. Priority = (doc_id*a + b) mod p —
    every global top-`cap` row is also top-`cap` inside its salt
    bucket, so phase 1 never discards a final keeper."""
    kept = source_cap_kept(
        documents.select("source", "lang", "doc_id", "n_chars"),
        cap, salt)
    totals = documents.groupBy("source", "lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"))
    kept_agg = kept.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.sum("n_chars").cast("bigint").alias("sum_chars_kept"))
    # cap ≥ 1 and every (source, lang) group is non-empty → inner join
    return (
        totals.join(F.broadcast(kept_agg), ["source", "lang"])
        .select("source", "lang", "n_docs", "n_kept",
                (F.col("n_docs") - F.col("n_kept")).cast("bigint")
                .alias("n_dropped"),
                "sum_chars_kept", "sum_chars")
    )


# ---------------------------------------------------------------------
# Data-constrained epoch scheduling (the Muennighoff-style repetition
# recipe): given a total token budget split across sources, how many
# epochs does each source run before hitting the repetition cap, and
# how much of its budget goes unfilled because the data ran out?
# Everything in x1000 fixed point — the schedule is pure arithmetic
# over one per-source aggregate row, reproducible in any engine.

EPOCH_BUDGET_MULT = 4     # fixture: budget = 4× the corpus token mass
EPOCH_CAP_X1000 = 4000    # fixture: at most 4.0 epochs per source


def epoch_schedule_manifest(documents: DataFrame) -> DataFrame:
    """Per-source epoch schedule under a token budget: the budget is
    split uniformly across sources; each source serves
    min(cap, budget/corpus) epochs (x1000 fixed point, floored), and
    `shortfall` records budget tokens the source cannot fill once
    capped — the data-constrained signal that triggers re-weighting or
    new collection. One corpus scan + one ≤n_sources-row broadcast."""
    toks = documents.select(
        "source", F.size(F.split("text", " ")).alias("t"))
    per = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("t").cast("bigint").alias("corpus_tokens"))
    tot = per.agg(F.sum("corpus_tokens").cast("bigint").alias("total_tokens"),
                  F.count("*").alias("n_sources"))
    return (
        per.crossJoin(F.broadcast(tot))
        .withColumn("budget_tokens",
                    F.expr(f"(total_tokens * {EPOCH_BUDGET_MULT})"
                           " div n_sources"))
        .withColumn("epochs_x1000",
                    F.expr(f"least(cast({EPOCH_CAP_X1000} as bigint), "
                           f"(budget_tokens * 1000) div corpus_tokens)"))
        .withColumn("tokens_served",
                    F.expr("(corpus_tokens * epochs_x1000) div 1000"))
        .select(
            "source", "n_docs", "corpus_tokens", "budget_tokens",
            "epochs_x1000", "tokens_served",
            (F.col("budget_tokens") - F.col("tokens_served"))
            .cast("bigint").alias("shortfall"),
            (F.col("epochs_x1000") == EPOCH_CAP_X1000).cast("int")
            .alias("capped"))
    )
