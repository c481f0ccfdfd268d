"""Similarity search over embedding columns (array<float>).

Distances are computed on QUANTIZED integer vectors (round(x*1000)) so
results are bit-exact and oracle-checkable — float dot products differ
across engines in the low bits. The float cosine path exists too
(``cosine_topk_float``) for production use where an oracle isn't hashed.

Scale path: ``lsh_bucketed_neighbors`` buckets vectors by sign-random
projections so the candidate set per query is a bucket, not the corpus.
At 100 TB the brute-force variant is only for re-ranking candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

QUANT = 1000  # fixed-point scale for oracle-exact arithmetic
EMB_DIM = 64  # embeddings table dimension (TESTDATA.md)
# Query batch and result depth of every ANN layout: the first N_QUERIES
# vectors ask for their top TOP_K; re-rank compositions propose
# RERANK_POOL candidates per query. The registry's oracle SQL hard-codes
# the same values.
N_QUERIES = 10
TOP_K = 5
RERANK_POOL = 20


def quantized(embeddings: DataFrame) -> DataFrame:
    """array<float> → array<bigint> fixed-point. transform() is JVM-side.

    NULL embeddings (missing vectors — real rows at 100 TB) are
    excluded here, at the shared entry: every downstream distance on a
    NULL array is NULL and silently drops from top-k/thresholds, but
    excluding the rows up front keeps the contract explicit and the
    scan cheaper. Null ELEMENTS (correct length, one missing value)
    are excluded here too: they dot/L2 to NULL against everything, and
    while top-k paths drop them naturally, the argmin/argmax ASSIGN
    paths would silently park them on id 0 (skew — the malformed-row
    bug class CLAUDE.md forbids) and sq8_train's per-dim min/max would
    let their NON-null dims shift everyone's codebook. One shared
    exclusion keeps every consumer — and the JVM vs Arrow assign forms
    — agreeing on exactly which rows exist. Wrong-LENGTH vectors are a
    separate contract enforced where per-dimension indexing lives
    (sq8_train/sq8_encode) — the zip_with-based distances are total
    over them (NULL-padded → NULL score → dropped), matching the
    oracle's NULL semantics."""
    return embeddings.where(
        F.col("embedding").isNotNull()
        & F.expr("forall(embedding, x -> x is not null)")).select(
        "vec_id", "label",
        F.expr(f"transform(embedding, x -> cast(round(cast(x as double) * {QUANT}, 0) as bigint))")
        .alias("q"),
    )


def _dot(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")


def brute_force_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                     k: int = TOP_K) -> DataFrame:
    """Exact top-k by integer dot product for the first ``n_queries``
    vectors. Query side is broadcast (tiny); corpus side streams through —
    no shuffle of the corpus, one narrow pass + per-query top-k.
    """
    q = quantized(embeddings)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    scored = (
        q.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dot", "rank")
    )


def cosine_topk_float(embeddings: DataFrame) -> DataFrame:
    """Production float cosine top-k (not oracle-hashed; rank ties broken
    by vec_id so output is still deterministic)."""
    e = embeddings.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    e = e.withColumn(
        "norm", F.sqrt(F.expr(
            "aggregate(v, cast(0 as double), (acc, x) -> acc + x * x)")))
    queries = e.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"))
    scored = (
        e.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            (F.expr("aggregate(zip_with(v, qv, (x, y) -> x * y), cast(0 as double), (acc, d) -> acc + d)")
             / (F.col("norm") * F.col("qnorm"))).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", F.round("cos", 6).alias("cos"), "rank")
    )


# Sign-projection LSH: hyperplane h_j has pseudo-random ±1 components
# derived from (j, dim) by integer arithmetic — oracle-reproducible.
LSH_PLANES = 8


def lsh_bucket_expr(vec_col: str, planes: int = LSH_PLANES) -> F.Column:
    """Bucket = bits of sign(v · h_j), h_j[i] = +1 if (j*131 + i*31) % 7 < 4
    else -1. All integer/deterministic."""
    bit = (
        f"(CASE WHEN aggregate(transform({vec_col}, (x, i) -> "
        f"x * (CASE WHEN (jj*131 + i*31) % 7 < 4 THEN 1 ELSE -1 END)), "
        f"0L, (acc, v) -> acc + v) > 0 THEN 1 ELSE 0 END)"
    )
    terms = " + ".join(
        f"(({bit.replace('jj', str(j))}) * {1 << j})" for j in range(planes))
    return F.expr(f"cast({terms} as int)")


def lsh_bucket_sql(vec_col: str, planes: int = LSH_PLANES) -> str:
    """DuckDB mirror of :func:`lsh_bucket_expr` for oracle SQL. DuckDB's
    lambda index is 1-based where Spark's is 0-based, hence ``(i-1)``."""
    terms = []
    for j in range(planes):
        terms.append(
            f"(CASE WHEN list_sum(list_transform({vec_col}, (x, i) -> "
            f"x * (CASE WHEN ({j}*131 + (i-1)*31) % 7 < 4 THEN 1 ELSE -1 END)"
            f")) > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INT)"


def lsh_bucketed_neighbors(embeddings: DataFrame) -> DataFrame:
    """ANN: join query and corpus on LSH bucket, exact top-k inside the
    bucket. The corpus-side shuffle key is the bucket (256 buckets of
    roughly equal size under random vectors)."""
    q = quantized(embeddings).withColumn("bucket", lsh_bucket_expr("q"))
    queries = q.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"),
        F.col("bucket"))
    cand = (
        q.join(F.broadcast(queries), "bucket")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "vec_id", "dot", "rank")
    )


N_CENTROIDS = 16


def ivf_topk(embeddings: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
             n_centroids: int = N_CENTROIDS, nprobe: int = 1) -> DataFrame:
    """IVF ANN (nprobe=1): the inverted-file layout that production ANN
    systems use at corpus scale, alongside the LSH-bucket variant.

    Coarse quantizer = the first ``n_centroids`` vectors (a deterministic
    sample; production would k-means them — assignment and search shapes
    are identical, and a learned codebook drops in as a different
    ``cents`` frame). Every vector joins its nearest centroid by integer
    dot (broadcast centroids — one narrow pass over the corpus, argmax
    via per-vector top-1); a query then searches ONLY its centroid's
    inverted list: the corpus-side shuffle key is the centroid id, never
    an all-pairs join. Ties break by centroid id, so assignment is
    deterministic and oracle-reproducible.

    ``nprobe`` is the production recall knob: each query searches its
    ``nprobe`` nearest centroids' inverted lists instead of only its
    own (the standard IVF accuracy/cost dial — cost scales linearly in
    nprobe, recall recovers neighbors that fell just across a Voronoi
    boundary). nprobe=1 reproduces the oracle-gated result exactly; the
    candidate union is deduplicated by construction (a vector sits in
    exactly one inverted list).

    Composed from ``ivf_assign`` (the INDEX — built once) and
    ``ivf_search`` (per query batch); production persists the index and
    amortizes the build over every batch (bench/ann_scale.py measures
    build and search separately for exactly that reason).
    """
    return ivf_search(ivf_assign(embeddings, n_centroids), n_centroids,
                      n_queries=n_queries, k=k, nprobe=nprobe)


def ivf_assign(embeddings: DataFrame,
               n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Build the IVF index: (vec_id, q, cent_id) — every vector joined
    to its nearest centroid by integer dot (broadcast centroids, one
    narrow pass, per-vector top-1; ties break by centroid id). In
    production this frame is a MATERIALIZED table bucketed by cent_id:
    built once per corpus version, reused by every query batch — the
    build cost (corpus × centroids dots) amortizes to ~zero per query,
    which is the whole IVF trade."""
    q = quantized(embeddings)
    cents = q.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    return _argmax_dot_assign(q, cents)


def _argmax_dot_assign(q: DataFrame, cents: DataFrame,
                       keep: tuple = ()) -> DataFrame:
    """Nearest-centroid-by-dot assignment as ONE codegen expression
    over a broadcast centroid array — never expands to corpus × k rows
    (a row_number window there sort-shuffles n·k rows carrying the
    vectors; measured 10-50× slower at 1M × 256). array_min on
    struct(-dot, cent_id) is exactly orderBy(dot DESC, cent_id ASC)
    LIMIT 1. Returns (vec_id, q, *keep, cent_id) — ``keep`` passes
    metadata columns (e.g. label) through into the index, the way a
    production inverted list stores filter attributes alongside codes."""
    cent_row = cents.agg(
        F.collect_list(F.struct("cent_id", "cv")).alias("cents"))
    best = F.expr(
        "array_min(transform(cents, ct -> struct("
        "-aggregate(zip_with(q, ct.cv, (x, y) -> x * y), "
        "0L, (acc, v) -> acc + v) as ndot, ct.cent_id as cent_id)))")
    return (
        q.crossJoin(F.broadcast(cent_row))
        # dim-agnostic malformed-vector exclusion: a wrong-length q
        # zip_with-pads to a NULL dot and would be "assigned" by the
        # NULL-ordered argmin — compare against the codebook's own dim
        # (works at any corpus dim; benches run 32, the table 64).
        # get(), not cents[0]: [] on an EMPTY centroid list is an ANSI
        # INVALID_ARRAY_INDEX crash; get() is NULL there, so the filter
        # drops every row instead (totality rule, CLAUDE.md).
        # Null-ELEMENT rows (which would dot to NULL everywhere and be
        # silently argmin-assigned to cent_id 0) are excluded at the
        # ONE shared entry, quantized() — every caller feeds q from it,
        # so no second per-row forall scan here
        .where(F.expr("size(q) = size(get(cents, 0).cv)"))
        .withColumn("m", best)
        .select("vec_id", "q", *keep, F.col("m.cent_id").alias("cent_id"))
    )


def ivf_assign_arrow(embeddings: DataFrame,
                     n_centroids: int = N_CENTROIDS,
                     cents: DataFrame | None = None,
                     keep: tuple = ()) -> DataFrame:
    """Arrow/numpy scale form of ivf_assign — same (vec_id, q, *keep,
    cent_id) index, with the nearest-centroid argmax done as ONE numpy
    matmul per Arrow batch against the collected codebook instead of
    the interpreted higher-order-function dot loop (Catalyst does not
    codegen lambda bodies — the same bound pq_encode hit, where the
    flat-column Arrow form measured 51.8× at 1M vectors;
    BENCH/pqencode_scale.json).

    Tie semantics are IDENTICAL to the JVM form: codebook rows are
    sorted by cent_id and np.argmax returns the FIRST maximum, which is
    exactly orderBy(dot DESC, cent_id ASC) LIMIT 1. The vector ships in
    and out as FLAT int64 columns (never a list column — Arrow
    materializes one ndarray object per row for lists, measured ~10×
    the matmuls it feeds) and the array<bigint> shape the search path
    expects is re-assembled JVM-side.

    ``cents`` overrides the codebook frame (cent_id, cv) — the frozen
    external codebook of the streaming ingest / incremental-assign
    paths; default derives it from ``embeddings`` like ivf_assign.
    The vector width is the codebook's own (works for the 64-dim
    table and the 32-dim bench corpus alike).
    Contract: assigns exactly-codebook-width NULL-free vectors (the
    explicit malformed-row exclusion, same as pq_encode_arrow); a
    malformed CODEBOOK row is a ValueError, not a silent skew. Oracle
    queries keep the JVM form (registry plan guardrail); this is the
    deployed index-build / ingest path. Identity with ivf_assign is
    pinned by test_ivf_assign_arrow_matches_jvm."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    if cents is None:
        cents = quantized(embeddings).where(
            F.col("vec_id") < n_centroids).select(
            F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    rows = sorted(cents.collect(), key=lambda r: r["cent_id"])
    if not rows:
        raise ValueError("empty centroid codebook")
    # the vector width is the codebook's own
    dim = len(rows[0]["cv"]) if rows[0]["cv"] is not None else 0
    bad = [r["cent_id"] for r in rows
           if r["cv"] is None or len(r["cv"]) != dim
           or any(v is None for v in r["cv"])]
    if bad:
        raise ValueError(f"malformed codebook centroids: {bad}")
    cb = np.asarray([r["cv"] for r in rows], dtype=np.int64)   # (nc, dim)
    cent_ids = np.asarray([r["cent_id"] for r in rows], dtype=np.int64)

    qcols = [f"q{i}" for i in range(dim)]
    schema = StructType(
        [StructField("vec_id", LongType())]
        + [f for f in quantized(embeddings).select(*keep).schema.fields]
        + [StructField(c, LongType()) for c in qcols]
        + [StructField("cent_id", LongType())])

    def assign(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            x = pdf[qcols].to_numpy(dtype=np.int64)
            best = np.argmax(x @ cb.T, axis=1)     # first max = low cent
            out = pdf.copy()
            out["cent_id"] = cent_ids[best]
            yield out

    qflat = (
        quantized(embeddings)
        .where((F.size("q") == dim)
               & F.expr("forall(q, x -> x is not null)"))
        .select("vec_id", *keep,
                *[F.element_at("q", i + 1).alias(c)
                  for i, c in enumerate(qcols)]))
    flat = qflat.mapInPandas(assign, schema=schema)
    return flat.select("vec_id", F.array(*qcols).alias("q"), *keep,
                       "cent_id")


def ivf_assign_incremental(index: DataFrame, new_embeddings: DataFrame,
                           n_centroids: int = N_CENTROIDS) -> DataFrame:
    """Maintain an IVF index under append-only ingest: assign ONLY the
    new vectors against the existing codebook (recovered from the index
    — the first ``n_centroids`` vectors) and union them in. Work is
    O(delta × centroids), never a corpus rebuild; the codebook is
    frozen, so existing inverted lists are untouched and incremental
    maintenance commutes with batch rebuild (pinned by
    test_ivf_incremental_equals_rebuild). Periodic re-clustering
    (codebook drift) is the batch job: kmeans_centroids + a fresh
    ivf_assign."""
    cents = index.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    delta = _argmax_dot_assign(quantized(new_embeddings), cents)
    return index.unionByName(delta.select("vec_id", "q", "cent_id"))


def ivf_search(assigned: DataFrame, n_centroids: int,
               n_queries: int = N_QUERIES, k: int = TOP_K,
               nprobe: int = 1) -> DataFrame:
    """Query an IVF index built by ``ivf_assign``: each query probes its
    top-``nprobe`` centroids (same dot ordering + tie-break as the
    corpus assignment, so nprobe=1 == the assigned list) and scores only
    those inverted lists — per-query work is corpus/centroids × nprobe,
    never the corpus. The centroid codebook is recovered from the index
    itself (the first ``n_centroids`` vectors)."""
    cents = assigned.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    queries = (
        assigned.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
        .crossJoin(F.broadcast(cents))
        .select("query_id", "qv", F.col("cent_id").alias("q_cent"),
                _dot("qv", "cv").alias("cdot"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cdot"), F.asc("q_cent"))))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "q_cent")
    )
    cand = (
        assigned.join(F.broadcast(queries),
                      F.col("cent_id") == F.col("q_cent"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dot", "rank")
    )


FILTER_NPROBE = 2  # filtered search probes wider: predicate thins lists


def ivf_filtered_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                      k: int = TOP_K, n_centroids: int = N_CENTROIDS,
                      nprobe: int = FILTER_NPROBE) -> DataFrame:
    """Metadata-filtered IVF search: top-k among candidates whose
    ``label`` equals the query's label — the attribute-predicate vector
    search every production store exposes (filtered ANN). The index
    carries the filter column in its inverted lists
    (``_argmax_dot_assign(keep=("label",))``), so the predicate is
    evaluated INSIDE the probed-list scan (post-filtering), never as a
    join back to the corpus; the standard recall compensation is a
    wider ``nprobe`` (default 2 vs the unfiltered 1) because the
    predicate thins each probed list by the label selectivity.

    Scale shape: identical to ``ivf_search`` — broadcast centroids +
    queries, corpus touched only on probed lists (nprobe/n_centroids of
    it), per-query top-k via TakeOrderedAndProject-style window over
    the filtered candidates. The filter drops candidates BEFORE the
    window, so the sort sees ≤ list × selectivity rows.

    Reference scope: the reference has no vector surface; this extends
    the ANN family the north rule's training-data pipeline needs
    (SURVEY §2.8)."""
    q = quantized(embeddings)  # vec_id, label, q
    cents = q.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    assigned = _argmax_dot_assign(
        q.select("vec_id", "q", "label"), cents, keep=("label",))
    queries = (
        assigned.where(F.col("vec_id") < n_queries)
        .select(F.col("vec_id").alias("query_id"),
                F.col("q").alias("qv"), F.col("label").alias("q_label"))
        .crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "q_label",
                F.col("cent_id").alias("q_cent"),
                _dot("qv", "cv").alias("cdot"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cdot"), F.asc("q_cent"))))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "qv", "q_label", "q_cent")
    )
    cand = (
        assigned.join(F.broadcast(queries),
                      F.col("cent_id") == F.col("q_cent"))
        .where((F.col("vec_id") != F.col("query_id"))
               & (F.col("label") == F.col("q_label")))
        .select("query_id", F.col("q_label").alias("label"),
                "vec_id", _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "label", "vec_id", "dot", "rank")
    )


# Product quantization: M subspaces × KSUB codewords. 64-dim vectors
# compress to M small codes (4 bytes vs 256) — the memory trade that
# makes billion-vector ANN fit a cluster's RAM. All arithmetic is
# fixed-point integer so the oracle reproduces it bit-for-bit.
PQ_M = 4          # subspaces
PQ_KSUB = 16      # codewords per subspace
PQ_SUB = 16       # dims per subspace (embeddings are 64-dim)


def pq_codebook(embeddings: DataFrame, m: int = PQ_M, ksub: int = PQ_KSUB,
                sub: int = PQ_SUB) -> DataFrame:
    """ONE-row codebook frame: cb[m][code] = the m-th sub-slice of seed
    vector ``code`` (deterministic sample — the first ``ksub`` vectors;
    production k-means-trains each subspace codebook with the same
    shapes, see kmeans_centroids). One row → broadcast to every encode
    and search pass; total size m × ksub × sub ints regardless of corpus."""
    q = quantized(embeddings)
    per_m = (
        q.where(F.col("vec_id") < ksub)
        .select(F.col("vec_id").alias("code"), F.explode(F.expr(
            f"transform(sequence(0, {m - 1}), mm -> "
            f"struct(mm AS m, slice(q, mm * {sub} + 1, {sub}) AS cw))"))
            .alias("s"))
        .select("code", F.col("s.m").alias("m"), F.col("s.cw").alias("cw"))
    )
    by_m = per_m.groupBy("m").agg(F.expr(
        "transform(sort_array(collect_list(struct(code, cw))), s -> s.cw)")
        .alias("cws"))
    return by_m.agg(F.expr(
        "transform(sort_array(collect_list(struct(m, cws))), s -> s.cws)")
        .alias("cb"))


def pq_codebook_trained(embeddings: DataFrame) -> DataFrame:
    """One Lloyd refinement round per subspace over the seed codebook —
    real PQ training (k-means in each subspace), distributed the same
    way as kmeans_centroids: encode is a broadcast-codebook narrow pass,
    re-estimation is ONE map-side-combined (m, code, dim) aggregate.
    A code nobody adopted keeps its seed codeword (deterministic in both
    engines; with tie-to-lower-code argmin this needs byte-identical
    sub-slices to even occur). Measured on the fixture corpus: recall@5
    vs brute force 0.2 (seed) → 0.3, @20 0.46 → 0.6; production would
    run more rounds with identical shapes."""
    seed = pq_codebook(embeddings)
    enc0 = pq_encode(embeddings, seed)
    q = quantized(embeddings)
    subv = (
        q.select("vec_id", F.explode(F.expr(
            f"transform(sequence(0, {PQ_M - 1}), mm -> struct(mm AS m, "
            f"slice(q, mm * {PQ_SUB} + 1, {PQ_SUB}) AS sv))")).alias("s"))
        .select("vec_id", "s.m", "s.sv"))
    means = (
        enc0.select("vec_id", F.posexplode("codes").alias("m", "code"))
        .join(subv, ["vec_id", "m"])
        .select("m", "code", F.posexplode("sv").alias("dim", "v"))
        .groupBy("m", "code", "dim")
        .agg(F.floor(F.sum("v") / F.count("*")).cast("bigint").alias("cv"))
        .groupBy("m", "code")
        .agg(F.expr("transform(sort_array(collect_list(struct(dim, cv))), "
                    "s -> s.cv)").alias("cw")))
    grid = (
        seed.select(F.posexplode("cb").alias("m0", "cws"))
        .select(F.col("m0").alias("m"),
                F.posexplode("cws").alias("code0", "seed_cw"))
        .select("m", F.col("code0").alias("code"), "seed_cw"))
    refined = (
        grid.join(means, ["m", "code"], "left")
        .select("m", "code",
                F.coalesce("cw", "seed_cw").alias("cw")))
    by_m = refined.groupBy("m").agg(F.expr(
        "transform(sort_array(collect_list(struct(code, cw))), s -> s.cw)")
        .alias("cws"))
    return by_m.agg(F.expr(
        "transform(sort_array(collect_list(struct(m, cws))), s -> s.cws)")
        .alias("cb"))


def pq_encode(embeddings: DataFrame, codebook: DataFrame,
              m: int = PQ_M, ksub: int = PQ_KSUB,
              sub: int = PQ_SUB) -> DataFrame:
    """Encode every vector as M codes (nearest codeword per subspace by
    exact integer L2, ties to the lower code). ZERO shuffle: the corpus
    streams through one narrow pass against the broadcast one-row
    codebook — argmin is the ``array_min(dist * ksub + code) % ksub``
    integer trick, all inside whole-stage codegen. At 100 TB this is the
    index build, materialized once and reused by every query batch."""
    code_expr = F.expr(
        f"transform(sequence(0, {m - 1}), mm -> cast("
        f"array_min(transform(sequence(0, {ksub - 1}), c -> "
        f"aggregate(zip_with(slice(q, mm * {sub} + 1, {sub}), "
        f"element_at(element_at(cb, mm + 1), c + 1), "
        f"(x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v) "
        f"* cast({ksub} as bigint) + c)) % {ksub} as int))")
    return (
        quantized(embeddings)
        .crossJoin(F.broadcast(codebook))
        .select("vec_id", code_expr.alias("codes"))
    )


def pq_encode_arrow(embeddings: DataFrame, codebook: DataFrame,
                    m: int = PQ_M, ksub: int = PQ_KSUB,
                    sub: int = PQ_SUB) -> DataFrame:
    """Arrow/numpy scale form of pq_encode — same codes, measured
    51.8× faster at 1M vectors (184k vecs/s, BENCH/pqencode_scale.json;
    wall time FLAT from 100k to 1M, so the small level is
    worker-startup-bound and the gap keeps widening with corpus size).

    The expression form (pq_encode) evaluates m × ksub × sub
    interpreted higher-order-function steps per vector (8,192 at the
    production m=4/ksub=256/sub=8 shape) — Catalyst does NOT codegen
    lambda bodies, so the index build measured only ~3k vecs/s at 1M
    vectors (BENCH/ann_scale.json). This form streams the same
    quantized vectors through mapInPandas and does the distance argmin
    as three numpy matmuls per subspace against the collected codebook
    (m·ksub·sub int64s — ~64 KB at production width, control-plane by
    the same budget as the Bloom bitmap). Arithmetic is identical:
    exact int64 L2 via the ||x||² − 2x·c + ||c||² expansion (no
    cancellation — all terms integer), ties to the LOWER code because
    np.argmin returns the first minimum. Identity with pq_encode is
    pinned by test_pq_encode_arrow_matches_jvm and re-asserted on every
    bench run at 100k/1M vectors (bench/pqencode_scale.py).

    Contract: encodes exactly-``m·sub``-length vectors (the JVM form
    NULL-pads short slices into indeterminate partial argmins — this
    form makes the malformed-row exclusion explicit instead). Oracle
    queries keep the JVM form (registry plan guardrail: no Python
    stages outside multimodal); this is the deployed index-build path.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (ArrayType, IntegerType, LongType,
                                   StructField, StructType)

    (row,) = codebook.collect()  # one row: m × ksub × sub ints
    cb = np.asarray(row.cb, dtype=np.int64)          # (m, ksub, sub)
    c_sq = (cb * cb).sum(axis=2)                     # (m, ksub)
    dim = m * sub

    qcols = [f"q{i}" for i in range(dim)]
    ccols = [f"c{mm}" for mm in range(m)]
    schema = StructType([StructField("vec_id", LongType())]
                        + [StructField(c, IntegerType()) for c in ccols])

    def encode(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            # flat int64 columns -> one contiguous (n, dim) matrix;
            # zero per-row Python objects cross the Arrow boundary
            x = pdf[qcols].to_numpy(dtype=np.int64)
            xs = x.reshape(n, m, sub)
            out = {"vec_id": pdf["vec_id"].to_numpy()}
            for mm in range(m):
                xm = xs[:, mm, :]
                d = ((xm * xm).sum(axis=1)[:, None]
                     - 2 * (xm @ cb[mm].T) + c_sq[mm][None, :])
                # first min = low code
                out[ccols[mm]] = np.argmin(d, axis=1).astype(np.int32)
            yield pd.DataFrame(out)

    # The vector ships in and the codes ship out as FLAT columns, not
    # array columns: Arrow moves flat columns as contiguous buffers,
    # while a per-row list column materializes one ndarray object per
    # row on the pandas side — measured 10x slower than the matmuls it
    # feeds (the first bench run recorded only 1.4x over the JVM form;
    # flat columns on both sides fix that). The array<int> shape the
    # rest of the PQ family expects is re-assembled JVM-side.
    # size alone is not enough: a correct-length vector with a NULL
    # element would ship a NULL->NaN column into the int64 ndarray cast
    # (an unchecked C cast, NaN -> INT64_MIN) and encode deterministic
    # garbage — exclude it here like every other malformed shape
    q = (quantized(embeddings)
         .where((F.size("q") == dim)
                & F.expr("forall(q, x -> x is not null)"))
         .select("vec_id", *[F.element_at("q", i + 1).alias(c)
                             for i, c in enumerate(qcols)]))
    flat = q.mapInPandas(encode, schema=schema)
    return flat.select("vec_id", F.array(*ccols).alias("codes"))


def _pq_lut_expr(vec_col: str, m: int = PQ_M, ksub: int = PQ_KSUB,
                 sub: int = PQ_SUB) -> F.Column:
    """Per-query ADC lookup table — LUT[m][code] = dot(query sub-slice,
    codeword). The ONE definition of the ADC scoring algebra, shared by
    pq_search and ivfpq_topk (a drifting copy would silently break
    their score-identity invariant). The evaluating frame must carry
    the broadcast codebook column ``cb``."""
    return F.expr(
        f"transform(sequence(0, {m - 1}), mm -> "
        f"transform(sequence(0, {ksub - 1}), c -> "
        f"aggregate(zip_with(slice({vec_col}, mm * {sub} + 1, {sub}), "
        f"element_at(element_at(cb, mm + 1), c + 1), "
        f"(x, y) -> x * y), 0L, (acc, v) -> acc + v)))")


def pq_search(encoded: DataFrame, embeddings: DataFrame,
              codebook: DataFrame, n_queries: int = N_QUERIES, k: int = TOP_K,
              m: int = PQ_M, ksub: int = PQ_KSUB,
              sub: int = PQ_SUB) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: each query
    precomputes a tiny LUT[m][code] = dot(query sub-slice, codeword);
    a vector's approximate dot is then M lookups + adds — the corpus
    pass touches only the 4-code column, never the vectors. approx_dot
    equals dot(query, PQ reconstruction) exactly (pinned by
    test_pq_adc_equals_reconstruction_dot). Shuffles: only the narrow
    (query_id, vec_id, approx_dot) top-k, same shape as brute_force_topk."""
    queries = (
        quantized(embeddings)
        .where(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(codebook))
        .select(F.col("vec_id").alias("query_id"),
                _pq_lut_expr("q", m, ksub, sub).alias("lut"))
    )
    scored = (
        encoded.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(
            "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), "
            "0L, (acc, v) -> acc + v)").alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx_dot",
                F.col("rank").cast("int").alias("rank"))
    )


def pq_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
            k: int = TOP_K) -> DataFrame:
    """PQ ANN end-to-end: codebook → encode (the index) → ADC search.
    The fourth ANN layout next to brute-force / sign-LSH / IVF — the one
    that trades recall for a 64× smaller in-memory index. Production
    composes pq_encode's output with ivf_assign's lists (IVF-PQ, see
    ivfpq_topk)."""
    cb = pq_codebook(embeddings)
    return pq_search(pq_encode(embeddings, cb), embeddings, cb,
                     n_queries=n_queries, k=k)


def pq_rerank_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                   k: int = TOP_K) -> DataFrame:
    """PQ as deployed: ADC proposes a RERANK_POOL-sized candidate set per
    query, an EXACT integer dot re-ranks it to top-k. The re-rank join
    broadcasts the tiny (query, candidate) pool against the corpus —
    one narrow corpus probe keyed by vec_id, no extra shuffle — so its
    cost is O(pool × dim) per query regardless of corpus size. Measured
    at 1M vectors (BENCH/ann_scale.json): ADC alone recall@10 0.17
    (fixed 4-byte code budget vs ~3.9k-member clusters), pool=100 +
    re-rank 0.82 for +2.3 s — the quantization error bounds WHICH
    candidates surface, the re-rank restores the ordering."""
    cb = pq_codebook(embeddings)
    cands = pq_search(pq_encode(embeddings, cb), embeddings, cb,
                      n_queries=n_queries, k=RERANK_POOL
                      ).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cands, n_queries, k)


def _exact_rerank(embeddings: DataFrame, cands: DataFrame,
                  n_queries: int, k: int) -> DataFrame:
    """Exact integer-dot re-rank of a proposed (query_id, vec_id)
    candidate pool to top-k: the pool and the query vectors broadcast,
    the corpus is probed ONCE keyed by vec_id — O(pool × dim) per query
    regardless of corpus size. Shared by every ANN composition that
    ends in a re-rank (pq_rerank_topk, ivfpq_rerank_topk)."""
    q = quantized(embeddings)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    exact = (
        q.select("vec_id", "q")
        .join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dot",
                F.col("rank").cast("int").alias("rank"))
    )


def ivfpq_build(embeddings: DataFrame, n_centroids: int = N_CENTROIDS,
                m: int = PQ_M, ksub: int = PQ_KSUB, sub: int = PQ_SUB
                ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVF-PQ index once: returns (index, cb, cents) where
    index = (vec_id, cent_id, codes) — ivf_assign's list key joined to
    pq_encode's codes — cb the PQ codebook and cents the coarse
    quantizer. In production all three are materialized tables (index
    bucketed by cent_id), built once per corpus version and reused by
    every query batch at every (nprobe, rerank-pool) operating point;
    splitting build from search is what makes the bench's
    recall-vs-cost curve (bench/ann_scale.py) measure SEARCH cost, not
    9 redundant index builds.

    The encode stage is the JVM expression form, because
    oracle-registered queries must carry no Python stage (registry plan
    guardrail); pq_encode_arrow is its Arrow twin (identical codes,
    pinned by test_pq_encode_arrow_matches_jvm)."""
    cb = pq_codebook(embeddings, m, ksub, sub)
    assigned = ivf_assign(embeddings, n_centroids)
    index = (assigned.select("vec_id", "cent_id")
             .join(pq_encode(embeddings, cb, m, ksub, sub), "vec_id"))
    cents = assigned.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cent_id"), F.col("q").alias("cv"))
    return index, cb, cents


def ivfpq_search(index: DataFrame, cb: DataFrame, cents: DataFrame,
                 embeddings: DataFrame, n_queries: int = N_QUERIES,
                 k: int = TOP_K, nprobe: int = 1, m: int = PQ_M,
                 ksub: int = PQ_KSUB, sub: int = PQ_SUB) -> DataFrame:
    """Query a prebuilt IVF-PQ index (see ivfpq_build): probe nprobe
    centroids (exact dot, same tie-break as assignment) then ADC-score
    only those inverted lists. Scores are identical to pq_search over
    the same candidates (the ADC invariant test covers the LUT)."""
    qvecs = quantized(embeddings).where(F.col("vec_id") < n_queries) \
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    probes = (
        qvecs.crossJoin(F.broadcast(cents))
        .select("query_id", F.col("cent_id").alias("q_cent"),
                _dot("qv", "cv").alias("cdot"))
        .withColumn("_rn", F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.desc("cdot"), F.asc("q_cent"))))
        .where(F.col("_rn") <= nprobe)
        .select("query_id", "q_cent")
    )
    # LUT built ONCE per query (not once per probed centroid — with
    # nprobe=N that recomputed the m×ksub aggregation N times), then
    # fanned out to the probe rows by a tiny query-keyed join
    luts = (qvecs.crossJoin(F.broadcast(cb))
            .select("query_id", _pq_lut_expr("qv", m, ksub, sub)
                    .alias("lut")))
    queries = probes.join(luts, "query_id")
    scored = (
        index.join(F.broadcast(queries),
                   F.col("cent_id") == F.col("q_cent"))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.expr(
            "aggregate(zip_with(codes, lut, (c, l) -> element_at(l, c + 1)), "
            "0L, (acc, v) -> acc + v)").alias("approx_dot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "approx_dot",
                F.col("rank").cast("int").alias("rank"))
    )


def ivfpq_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
               k: int = TOP_K, nprobe: int = 1) -> DataFrame:
    """IVF-PQ: the layout billion-vector systems actually deploy — IVF
    inverted lists bound WHICH vectors a query touches (corpus /
    n_centroids × nprobe), PQ codes bound HOW MUCH is read per touched
    vector (m codes, not the raw dims). One-shot composition of
    ivfpq_build + ivfpq_search; recall inherits both knobs: nprobe
    recovers boundary neighbors, codebook training tightens the
    quantizer."""
    index, cb, cents = ivfpq_build(embeddings)
    return ivfpq_search(index, cb, cents, embeddings, n_queries=n_queries,
                        k=k, nprobe=nprobe)


NEARDUP_PLANES = 4


def cosine_neardup_pairs(embeddings: DataFrame) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, the scale-sane way: LSH
    buckets prune the candidate space (shuffle key = bucket, never an
    all-pairs cross join), then an EXACT integer test keeps pairs with
    cosine >= 0.2 — ``25*dot^2 >= |a|^2*|b|^2`` over the quantized
    vectors, computed in decimal so the comparison is bit-exact for the
    oracle. At 100 TB the bucket join is the only shuffle; each bucket's
    pair expansion is local to its partition.
    """
    q = (
        quantized(embeddings)
        .select("vec_id", "q",
                lsh_bucket_expr("q", NEARDUP_PLANES).alias("bucket"),
                _dot("q", "q").alias("n2"))
    )
    a = q.select(F.col("vec_id").alias("vec_a"), F.col("q").alias("qa"),
                 "bucket", F.col("n2").alias("norm_a"))
    b = q.select(F.col("vec_id").alias("vec_b"), F.col("q").alias("qb"),
                 "bucket", F.col("n2").alias("norm_b"))
    pairs = (
        a.join(b, "bucket")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", _dot("qa", "qb").alias("dot"),
                "norm_a", "norm_b")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    return pairs.where(
        (F.col("dot") > 0)
        & (dec("dot") * dec("dot") * 25 >= dec("norm_a") * dec("norm_b")))


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label integer centroid of the quantized vectors — the
    aggregation half of k-means / IVF training, oracle-exact because
    sums run over fixed-point ints and the mean uses explicit floor()
    (Spark's ``div`` truncates toward zero but DuckDB's ``//`` floors —
    they disagree on negative sums, so neither is used directly).

    Scale shape: posexplode to (label, dim) then ONE map-side-combined
    aggregate — shuffle carries per-(label, dim) partial sums, not
    vectors. This is exactly how the IVF coarse quantizer's centroids
    are (re)computed distributedly.
    """
    q = quantized(embeddings).where(F.size("q") == EMB_DIM)
    dims = q.select("label", F.posexplode("q").alias("dim", "v"))
    return (
        dims.groupBy("label", "dim")
        .agg(F.sum("v").cast("bigint").alias("sum_v"),
             F.count("*").alias("n_vecs"))
        .select("label", F.col("dim").cast("int").alias("dim"),
                F.floor(F.col("sum_v") / F.col("n_vecs")).cast("bigint")
                .alias("centroid_q"),
                "n_vecs")
    )


def _lloyd_rounds(q: DataFrame, k: int, iters: int):
    """The shared Lloyd's loop: ``iters`` rounds of broadcast-assign
    (centroids are k rows — NEVER a shuffle of the corpus) plus one
    map-side-combined (cluster, dim) re-estimation aggregate. Returns
    (assigned, cent): the final per-vector assignment (vec_id, cluster,
    q) and the centroids re-estimated FROM that assignment.

    Deterministic spec so any engine reproduces it bit-for-bit: seeds =
    the first k vectors by vec_id; distance = exact integer L2 on the
    fixed-point vectors; argmin ties break on the lower cluster id;
    means use explicit floor().
    """
    from pyspark.sql.window import Window

    cent = q.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cluster"), F.col("q").alias("c"))
    # Argmin as ONE codegen expression over a broadcast centroid array:
    # never expand to n·k rows (a row_number window there sort-shuffles
    # corpus × k rows carrying the vectors — measured 10-50× slower).
    # array_min on struct(dist, cluster) is exactly orderBy(dist,
    # cluster) LIMIT 1: field-by-field comparison, lowest id on ties.
    argmin = F.expr(
        "array_min(transform(cents, ct -> struct("
        "aggregate(zip_with(q, ct.c, (x, y) -> (x - y) * (x - y)), "
        "0L, (acc, v) -> acc + v) as dist, ct.cluster as cluster)))")
    assigned = None
    for _ in range(iters):
        cent_row = cent.agg(
            F.collect_list(F.struct("cluster", "c")).alias("cents"))
        assigned = (
            q.crossJoin(F.broadcast(cent_row))
            # same dim-agnostic exclusion as _argmax_dot_assign: a
            # wrong-length q has a NULL L2 against every centroid and
            # must not be assigned anywhere (it skewed the means);
            # get() for the empty-list totality case, as above.
            # Null-ELEMENT rows are excluded at quantized(), the one
            # shared entry — no second per-row forall scan here
            .where(F.expr("size(q) = size(get(cents, 0).c)"))
            .withColumn("m", argmin)
            .select("vec_id", F.col("m.cluster").alias("cluster"), "q"))
        est = (
            assigned.select("cluster", F.posexplode("q").alias("dim", "v"))
            .groupBy("cluster", "dim")
            .agg(F.floor(F.sum("v") / F.count("*")).cast("bigint")
                 .alias("cq")))
        cent = est.groupBy("cluster").agg(
            F.expr("transform(sort_array(collect_list(struct(dim, cq))), "
                   "s -> s.cq)").alias("c"))
    return assigned, cent


# Lloyd's k-means shape shared by kmeans_centroids and semantic_dedup:
# KMEANS_K clusters seeded by the first vectors, KMEANS_ITERS rounds.
KMEANS_K = 4
KMEANS_ITERS = 2


def kmeans_centroids(embeddings: DataFrame) -> DataFrame:
    """Fixed-iteration Lloyd's k-means over the quantized vectors — the
    full distributed training loop (assign → re-estimate), companion to
    the single re-estimation step in ``label_centroids`` and to the
    PageRank loop in operators/graph.py: a bounded number of rounds,
    each broadcast-assign + one map-side-combined aggregate
    (``_lloyd_rounds``). Returns (cluster, dim, centroid_q, n_assigned)
    after KMEANS_ITERS rounds.
    """
    q = quantized(embeddings).select("vec_id", "q")
    assigned, cent = _lloyd_rounds(q, KMEANS_K, KMEANS_ITERS)
    sizes = assigned.groupBy("cluster").agg(
        F.count("*").alias("n_assigned"))
    dims = cent.select(
        "cluster", F.posexplode("c").alias("dim", "centroid_q"))
    return (
        dims.join(F.broadcast(sizes), "cluster")
        .select("cluster", F.col("dim").cast("int").alias("dim"),
                F.col("centroid_q").cast("bigint").alias("centroid_q"),
                "n_assigned")
    )


# Fixture cosine threshold for semantic_dedup as a rational p/q (the
# synthetic corpus needs a low bar to have near-dups at all); a
# production run passes e.g. (cos_p, cos_q) = (95, 100). Rational so the
# predicate stays integer-exact: cos >= p/q  <=>  dot > 0 AND
# dot^2 * q^2 >= p^2 * |a|^2 * |b|^2 — no sqrt, no floats.
SEM_COS_P, SEM_COS_Q = 1, 4


def semantic_dedup(embeddings: DataFrame, k: int = KMEANS_K,
                   iters: int = KMEANS_ITERS,
                   cos_p: int = SEM_COS_P,
                   cos_q: int = SEM_COS_Q) -> DataFrame:
    """SemDeDup-style semantic deduplication manifest (Abbas et al.
    2023): k-means the embedding space, then look for near-duplicates
    ONLY within a cluster — the cluster key bounds the quadratic, so
    total pair work is O(sum of cluster sizes squared), never corpus².
    Keep-first rule: a vector is pruned iff some SAME-CLUSTER vector
    with a LOWER vec_id clears the cosine threshold (deterministic, no
    RNG). Returns one row per cluster: (cluster, n_vecs, n_pairs,
    n_pruned, pruned_bps).

    Scale shape: the Lloyd loop is broadcast-assign + map-side combine
    (``_lloyd_rounds``); the final assignment is localCheckpoint'ed so
    its three consumers (sizes, both pair-join sides) scan the
    materialized frame instead of re-running the loop — exactly the
    checkpoint a production run would take before the quadratic stage.
    The pair join shuffles on the cluster key; at production k the
    clusters are small and many (the paper's regime). A runaway-skew
    cluster would sub-bucket via lsh_bucket_expr, the same fallback
    cosine_neardup_pairs already uses corpus-wide.

    Cosine is integer-exact on the quantized vectors: dot > 0 AND
    dot² · cos_q² >= cos_p² · n_a · n_b, computed in decimal(38,0) so
    dot² never wraps (reference parity target: the reference has no
    embedding surface; this extends its dedup family — see
    SequenceUtil.java:34 for its exact-match-only scope).
    """
    q = quantized(embeddings).select("vec_id", "q")
    assigned, _ = _lloyd_rounds(q, k, iters)
    assigned = assigned.localCheckpoint(eager=True)
    return cluster_neardup_manifest(assigned, cos_p=cos_p, cos_q=cos_q)


def cluster_neardup_manifest(assigned: DataFrame, cos_p: int = SEM_COS_P,
                             cos_q: int = SEM_COS_Q) -> DataFrame:
    """The bounded-quadratic half of ``semantic_dedup``: given a
    cluster assignment (vec_id, cluster, q), count integer-exact cosine
    near-dup pairs WITHIN each cluster and prune by keep-lowest-vec_id.
    Split out so a deployment can feed any assignment — Lloyd rounds
    (semantic_dedup), the IVF coarse index (ivf_assign — what the
    SemDeDup pipeline actually uses at billions of vectors), or a
    label column. Pair work is O(sum of cluster sizes squared)."""
    v = assigned.select("vec_id", "cluster", "q",
                        _dot("q", "q").alias("n2"))
    a = v.select(F.col("vec_id").alias("vec_a"), "cluster",
                 F.col("q").alias("qa"), F.col("n2").alias("na"))
    b = v.select(F.col("vec_id").alias("vec_b"), "cluster",
                 F.col("q").alias("qb"), F.col("n2").alias("nb"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    pairs = (
        a.join(b, "cluster")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("cluster", "vec_a", "vec_b",
                _dot("qa", "qb").alias("dot"), "na", "nb")
        .where((F.col("dot") > 0)
               & (dec("dot") * dec("dot") * F.lit(cos_q * cos_q)
                  >= dec("na") * dec("nb") * F.lit(cos_p * cos_p)))
    )
    sizes = assigned.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_vecs"))
    pair_ct = pairs.groupBy("cluster").agg(
        F.count("*").cast("bigint").alias("n_pairs"))
    prune_ct = (
        pairs.select("cluster", "vec_b").distinct()
        .groupBy("cluster").agg(
            F.count("*").cast("bigint").alias("n_pruned"))
    )
    return (
        sizes.join(F.broadcast(pair_ct), "cluster", "left")
        .join(F.broadcast(prune_ct), "cluster", "left")
        # integer div (not floor-of-double): matches DuckDB // at any SF
        .select(F.col("cluster").cast("bigint").alias("cluster"),
                "n_vecs",
                F.coalesce("n_pairs", F.lit(0))
                .cast("bigint").alias("n_pairs"),
                F.coalesce("n_pruned", F.lit(0))
                .cast("bigint").alias("n_pruned"),
                F.expr("coalesce(n_pruned, 0) * 10000 div n_vecs")
                .cast("bigint").alias("pruned_bps"))
    )


def ivfpq_rerank_topk(embeddings: DataFrame, n_queries: int = N_QUERIES,
                      k: int = TOP_K, nprobe: int = 1) -> DataFrame:
    """The full production ANN stack in one plan: IVF lists bound WHICH
    vectors a query touches, PQ/ADC bounds the BYTES read per touched
    vector to propose a RERANK_POOL, and the exact integer re-rank
    (_exact_rerank) restores the true ordering over that pool — the
    search path billion-vector deployments actually run. Every stage's
    cost is index-bounded: corpus/n_centroids × nprobe candidates, m
    codes each, then O(pool × dim) exact work per query."""
    cands = ivfpq_topk(embeddings, n_queries=n_queries, k=RERANK_POOL,
                       nprobe=nprobe).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cands, n_queries, k)


# ---------------------------------------------------------------------
# Scalar quantization (SQ8): one byte per dimension. The fifth ANN
# layout next to brute-force / sign-LSH / IVF / PQ — faiss's SQ8: keep
# every dimension but store it as an 8-bit level between the corpus-wide
# per-dimension min and max. 4× smaller than float32 (vs PQ's 64×) with
# far less quantization error, so it is the standard "cheap compression
# first" step before PQ is justified.

SQ_LEVELS = 255   # 8-bit code: levels 0..255
def sq8_train(embeddings: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Train the SQ8 quantizer: per-dimension [min, max] over the
    quantized corpus, as ONE map-side-combined aggregate row (2×dim
    aggregates, no explode, no shuffle of vector payloads). The result
    is the entire 'codebook' — 2×dim integers — broadcast everywhere."""
    # Fixed-dim contract: wrong-length vectors (corrupt rows at 100 TB)
    # are excluded by the size filter, and the per-dim access is get()
    # — TOTAL, NULL on out-of-bounds, ignored by min/max — so the
    # aggregate cannot throw even if Spark evaluates its input
    # projection on rows the filter drops (CLAUDE.md totality
    # invariant; the indexed q[i] form threw INVALID_ARRAY_INDEX).
    q = quantized(embeddings).where(F.size("q") == dim)
    return q.agg(
        F.array(*[F.min(F.expr(f"get(q, {i})")) for i in range(dim)])
        .alias("mn"),
        F.array(*[F.max(F.expr(f"get(q, {i})")) for i in range(dim)])
        .alias("mx"))


def sq8_encode(embeddings: DataFrame, trained: DataFrame,
               dim: int = EMB_DIM) -> DataFrame:
    """Encode each vector against the broadcast per-dim ranges:
    code[i] = ((q[i]-mn[i]) * SQ_LEVELS) div (mx[i]-mn[i]) ∈ [0, 255]
    (constant dims code to 0). Pure codegen transform — zero shuffle,
    the corpus streams through once, exactly the shape an encode pass
    over 100 TB needs."""
    return (
        # same fixed-dim contract as sq8_train; get(q, i) keeps the
        # projection total even if evaluated on filtered rows
        quantized(embeddings).where(F.size("q") == dim)
        .crossJoin(F.broadcast(trained))
        .select(
            "vec_id",
            F.expr(
                f"transform(sequence(0, {dim - 1}), i -> "
                f"if(mx[i] > mn[i], "
                f"((get(q, i) - mn[i]) * {SQ_LEVELS}) div (mx[i] - mn[i]), "
                f"0L))"
            ).alias("code"))
    )


def sq8_decode(coded: DataFrame, trained: DataFrame,
               dim: int = EMB_DIM) -> DataFrame:
    """Reconstruct the quantized-domain vector from its 8-bit code:
    x̂[i] = mn[i] + (code[i]·(mx[i]-mn[i])) div SQ_LEVELS. Distances must
    be computed on DECODED values — the raw codes are shifted by the
    per-dim minimum, and a shifted dot product is not monotone in the
    true one (pinned by test_sq8_rerank_recall_beats_compressed_scan,
    which caught exactly this: both engines agreed on the wrong metric,
    so only a semantic property test could see it)."""
    return (
        coded.crossJoin(F.broadcast(trained))
        .select("vec_id", F.expr(
            f"transform(sequence(0, {dim - 1}), i -> "
            f"mn[i] + (code[i] * (mx[i] - mn[i])) div {SQ_LEVELS})"
        ).alias("dq"))
    )


def sq8_search(decoded: DataFrame, n_queries: int = N_QUERIES,
               k: int = TOP_K) -> DataFrame:
    """Compressed-domain top-k over a PREBUILT decoded-code frame (the
    build-once/search-many split, mirroring ivf_assign/ivf_search):
    integer dot product on decoded values, per-query rank ≤ k. Queries
    are drawn from the same frame and broadcast."""
    queries = decoded.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("dq").alias("qc"))
    scored = (
        decoded.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot("dq", "qc").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dot",
                F.col("rank").cast("int").alias("rank"))
    )


def sq8_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """SQ8 compressed-domain top-k: integer dot product over decoded
    8-bit codes (both sides encode→decode), per-query rank ≤ k. Same
    streaming scan shape as brute_force_topk but each stored vector is
    4× smaller — at 100 TB the win is IO and cache footprint, not
    arithmetic; compose with IVF lists to also bound WHICH vectors are
    touched. One-shot composition of sq8_train → sq8_encode →
    sq8_decode → sq8_search; production persists the decoded frame and
    calls sq8_search per query batch."""
    trained = sq8_train(embeddings)
    decoded = sq8_decode(sq8_encode(embeddings, trained), trained)
    return sq8_search(decoded, k=k)


def sq8_rerank_topk(embeddings: DataFrame) -> DataFrame:
    """SQ8 as deployed: the compressed scan proposes a RERANK_POOL-sized
    candidate set, the exact integer dot re-ranks it to top-k
    (_exact_rerank: one narrow corpus probe keyed by vec_id). SQ8's
    per-dim error is small, so unlike PQ the pool rarely needs to be
    deep — the composition exists to make the recall exact-verifiable,
    not to rescue it."""
    cands = sq8_topk(embeddings, k=RERANK_POOL).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cands, N_QUERIES, TOP_K)


def hard_negative_topk(embeddings: DataFrame) -> DataFrame:
    """Hard-negative mining for contrastive training pairs: for each
    query vector, the top-k most-similar vectors with a DIFFERENT
    label — the negatives a contrastive loss learns most from.

    Same scan shape as brute_force_topk (queries broadcast, corpus
    streams, no corpus shuffle); the label inequality rides the
    broadcast join as a filter, so mismatched-label pairs never reach
    the ranking window. The deployed scale path swaps the exact scan
    for the IVF/SQ8 candidate stage and re-ranks exactly, identical to
    the ann_*_rerank composition.
    """
    q = quantized(embeddings)
    queries = q.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("query_label"),
        F.col("q").alias("qv"))
    scored = (
        q.crossJoin(F.broadcast(queries))
        .where(F.col("label") != F.col("query_label"))
        .select("query_id", "query_label", "vec_id",
                F.col("label").alias("neg_label"),
                _dot("q", "qv").alias("dot"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= TOP_K)
    )


TRUNC_DIM = 16  # Matryoshka prefix width: first 16 of the 64 dims


def truncated_topk(embeddings: DataFrame, k: int = TOP_K) -> DataFrame:
    """Truncated-dimension ANN (Matryoshka-style): score on the first
    TRUNC_DIM dimensions only — the THIRD compression axis next to PQ
    (fewer codewords) and SQ8 (fewer bits): fewer dims. A 4× prefix cut
    means a 4× cheaper scan and 4× smaller resident vectors; recall
    depends on how much mass the embedding packs into its prefix, so
    the deployed form is the rerank composition below.

    Scan shape identical to brute_force_topk — queries broadcast,
    corpus streams, slice() is codegen — so the speedup is pure
    bytes-per-row, not a different plan.
    """
    q = quantized(embeddings)
    t = q.select("vec_id", F.expr(f"slice(q, 1, {TRUNC_DIM})").alias("tq"))
    queries = t.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("tq").alias("qtv"))
    scored = (
        t.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _dot("tq", "qtv").alias("tdot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("tdot"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "tdot",
                F.col("rank").cast("int").alias("rank"))
    )


def truncated_rerank_topk(embeddings: DataFrame,
                          pool: int = RERANK_POOL) -> DataFrame:
    """Truncated-dim ANN as deployed: the prefix scan proposes a
    ``pool``-sized candidate set, the exact full-width integer dot
    re-ranks to top-k (_exact_rerank — one narrow vec_id-keyed corpus
    probe, O(pool × dim)/query). Same composition contract as
    sq8_rerank_topk/pq_rerank_topk, so the recall-floor property test
    class applies here too."""
    cands = truncated_topk(embeddings, k=pool).select("query_id", "vec_id")
    return _exact_rerank(embeddings, cands, N_QUERIES, TOP_K)


# MMR diversified re-rank: relevance vs redundancy. λ = MMR_A/(MMR_A +
# MMR_B) as integer weights so the greedy scores stay oracle-exact
# (score = MMR_A·rel − MMR_B·max-sim-to-selected; higher = better).
MMR_POOL = 8
MMR_K = 3
MMR_A, MMR_B = 2, 1


def _mmr_candidate_pool(embeddings: DataFrame, n_queries: int,
                        pool: int) -> DataFrame:
    """Shared MMR stage 1 — the DISTRIBUTED part: per-query relevance
    scan bounded to ``pool`` candidates (query side broadcast, corpus
    streams through once, per-query top-pool window). Production
    composes the IVF/PQ candidate stage here instead (identical
    contract to the *_rerank family)."""
    q = quantized(embeddings)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    scored = (
        q.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q", _dot("q", "qv").alias("rel"))
    )
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("vec_id"))
    return (scored.withColumn("_rn", F.row_number().over(w_rel))
            .where(F.col("_rn") <= pool)
            .select("query_id", "vec_id", "q", "rel"))


def mmr_diversified_topk(embeddings: DataFrame, n_queries: int = 4,
                         pool: int = MMR_POOL, k: int = MMR_K,
                         mode: str = "bulk") -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein's MMR): greedily pick, k times, the candidate maximizing
    MMR_A·relevance − MMR_B·max-similarity-to-already-selected — the
    diversity-aware serving layer that keeps a near-dup-heavy corpus
    from returning k copies of one document.

    Scale shape: the DISTRIBUTED stage is candidate generation
    (``_mmr_candidate_pool``); the greedy loop is inherently sequential
    per query, so the default ``mode="bulk"`` collects each query's
    ≤pool candidates into ONE row (collect_list of structs, sorted for
    determinism) and runs all k greedy steps inside a single aggregate
    expression — one job, no unrolled plan, no driver collect; per-row
    work is O(k·pool·k) dots, bounded regardless of corpus size.

    ``mode="unrolled"`` is the engine-portable relational cross-check:
    k UNROLLED join+argmax steps over the pool-bounded frames (pairs ≤
    pool², selected ≤ k) — the form the DuckDB oracle mirrors
    step-for-step. Both tie-break by vec_id (argmax by score DESC,
    vec_id ASC; first pick's score is MMR_A·rel since max_sim = 0), so
    the forms are bit-identical — pinned by
    test_mmr_bulk_equals_unrolled. The unrolled form pays plan-compile
    per step (measured 3.2 s at sf0.1 vs well under 1 s bulk) and a
    driver collect; keep it for oracle work only."""
    if k < 1:
        # sequence(1, 0) is the DESCENDING [1, 0] in Spark — without
        # this guard the bulk form would run two greedy steps for k=0
        # (and the unrolled form one); zero picks means an empty frame
        return embeddings.sparkSession.createDataFrame(
            [], "query_id bigint, vec_id bigint, rel bigint, "
                "score bigint, mmr_rank int")
    cand = _mmr_candidate_pool(embeddings, n_queries, pool)
    if mode == "bulk":
        return _mmr_greedy_bulk(cand, k)
    # persist the pool: every greedy step's rem/sc branch and the pairs
    # self-join re-reference it — without the cache the unrolled plan
    # recomputes the corpus scan once PER BRANCH (~2k times), which is
    # exactly the lineage blow-up connected_components/pagerank guard
    # against. Released below after the ≤ n_queries·k result rows are
    # materialized (the pagerank cache-lifetime pattern, graph.py).
    cand = cand.persist()
    w_rel = Window.partitionBy("query_id").orderBy(
        F.desc("rel"), F.asc("vec_id"))
    a = cand.select("query_id", F.col("vec_id").alias("a_vec"),
                    F.col("q").alias("aq"))
    b = cand.select("query_id", F.col("vec_id").alias("b_vec"),
                    F.col("q").alias("bq"))
    pairs = (a.join(b, "query_id")
             .where(F.col("a_vec") != F.col("b_vec"))
             .select("query_id", "a_vec", "b_vec",
                     _dot("aq", "bq").alias("sim")))
    pool_slim = cand.select("query_id", "vec_id", "rel")
    selected = (pool_slim.withColumn("_rn", F.row_number().over(w_rel))
                .where(F.col("_rn") == 1)
                .select("query_id", "vec_id", "rel",
                        (F.col("rel") * MMR_A).cast("bigint").alias("score"),
                        F.lit(1).cast("int").alias("mmr_rank")))
    for t in range(2, k + 1):
        ms = (pairs.join(selected.select("query_id",
                                         F.col("vec_id").alias("b_vec")),
                         ["query_id", "b_vec"])
              .groupBy("query_id", F.col("a_vec").alias("vec_id"))
              .agg(F.max("sim").alias("max_sim")))
        rem = pool_slim.join(selected.select("query_id", "vec_id"),
                             ["query_id", "vec_id"], "left_anti")
        sc = (rem.join(ms, ["query_id", "vec_id"])
              .select("query_id", "vec_id", "rel",
                      (F.col("rel") * MMR_A - F.col("max_sim") * MMR_B)
                      .cast("bigint").alias("score")))
        w_sc = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("vec_id"))
        pick = (sc.withColumn("_rn", F.row_number().over(w_sc))
                .where(F.col("_rn") == 1)
                .select("query_id", "vec_id", "rel", "score",
                        F.lit(t).cast("int").alias("mmr_rank")))
        selected = selected.unionByName(pick)
    rows = selected.collect()
    cand.unpersist()
    return embeddings.sparkSession.createDataFrame(
        rows, schema="query_id bigint, vec_id bigint, rel bigint, "
                     "score bigint, mmr_rank int")


def _mmr_greedy_bulk(cand: DataFrame, k: int) -> DataFrame:
    """The production MMR greedy: one row per query holding its sorted
    candidate pool, all k picks computed inside ONE aggregate
    expression — no per-step plan, no driver collect. Semantics are
    exactly the unrolled form's: step score = MMR_A·rel −
    MMR_B·max-dot-to-selected (0 when nothing is selected — the first
    pick), argmax ties by vec_id via array_min on struct(-score,
    vec_id). Totality: the if-guard stops appending once the pool is
    exhausted (pool < k), so array_min never sees an empty array and a
    query with an empty pool yields zero rows, same as unrolled.
    sort_array fixes collect_list's nondeterministic order."""
    grouped = cand.groupBy("query_id").agg(
        F.expr("sort_array(collect_list(struct(vec_id, rel, q)))")
        .alias("pool"))
    sel = (
        f"aggregate(sequence(1, {k}), "
        "cast(array() as array<struct<vec_id: bigint, rel: bigint, "
        "score: bigint, mmr_rank: int, qv: array<bigint>>>), "
        "(sel, t) -> if(size(sel) >= size(pool), sel, array_append(sel, "
        "transform(array(array_min(transform("
        "filter(pool, c -> !exists(sel, s -> s.vec_id = c.vec_id)), "
        f"c -> struct(-({MMR_A} * c.rel - {MMR_B} * coalesce(array_max("
        "transform(sel, s -> aggregate(zip_with(c.q, s.qv, "
        "(x, y) -> x * y), 0L, (acc, v) -> acc + v))), 0L)) as negscore, "
        "c.vec_id as vec_id, c.rel as rel, c.q as q)))), "
        "b -> named_struct('vec_id', b.vec_id, 'rel', b.rel, "
        "'score', -b.negscore, 'mmr_rank', t, 'qv', b.q))[0])))"
    )
    return (
        grouped.select("query_id", F.explode(F.expr(sel)).alias("s"))
        .select("query_id", F.col("s.vec_id").alias("vec_id"),
                F.col("s.rel").alias("rel"),
                F.col("s.score").cast("bigint").alias("score"),
                F.col("s.mmr_rank").cast("int").alias("mmr_rank"))
    )


def ivf_recall_audit(embeddings: DataFrame, nprobe: int = 1) -> DataFrame:
    """Per-query recall@k of the IVF index against the exact scan — the
    index-quality dashboard row a deployed ANN store recomputes after
    every build/re-cluster (bench/ann_scale.py measures the same
    number offline; this is its first-class oracle-gated form).

    recall_bps = hits·10000 div k with the exact top-k as truth (the
    standard recall@k denominator — an IVF list shorter than k counts
    as misses). Deterministic: both rankings tie-break by vec_id, so
    the hit set is engine-reproducible. Scale shape: the truth scan is
    the expensive side (exact top-k); production samples n_queries ≪
    corpus and reuses the persisted index for the approx side — the
    audit costs one bounded scan, not a second index build."""
    truth = brute_force_topk(embeddings).select("query_id", "vec_id")
    approx = ivf_topk(embeddings, nprobe=nprobe).select("query_id", "vec_id")
    hits = (truth.join(approx, ["query_id", "vec_id"])
            .groupBy("query_id").agg(F.count("*").alias("n_hit")))
    base = truth.select("query_id").distinct()
    return (
        base.join(hits, "query_id", "left")
        .select("query_id",
                F.coalesce("n_hit", F.lit(0)).cast("int").alias("n_hit"),
                F.expr(f"coalesce(n_hit, 0L) * 10000 div {TOP_K}")
                .cast("bigint").alias("recall_bps"))
    )
