"""Deduplication operators for training-data pipelines.

All hash arithmetic is plain integer math (a*x + b mod p), NOT engine
hash builtins, so the DuckDB oracle can recompute bit-identical values.
Every stage is relational (explode → groupBy → join): at 100 TB each is a
shuffle whose key is chosen to avoid skew (token values, band buckets),
and the candidate-pair space is bounded by LSH banding instead of O(n²).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from movement_spark.operators.text import word_bigram_expr
from movement_spark.sources.tokens import TOK_MOD

# MinHash parameters — keep in sync with oracle SQL in queries.py.
MINHASH_K = 16          # signature length
MINHASH_BANDS = 4       # bands of 4 rows each
MINHASH_P = 1_000_003   # prime modulus
A_MULT, A_OFF = 4097, 31
B_MULT, B_OFF = 7919, 101
SHINGLE_MOD = 1024      # coarse shingle universe so near-dups exist
# band bucket = chained-mod mix of the band's rows. A positional SUM
# (sig*31^pos) aliases badly — min-hash values concentrate near 0, so
# distinct signature tuples land on equal sums at measurable rates; the
# (b*MIX + s) % Q chain has ~1/Q random collision probability.
BUCKET_MIX = 1_000_003
BUCKET_Q = 2_147_483_647

SIMHASH_MULT = 2654435761
SIMHASH_BITS = 32


def exact_dedup_stats(documents: DataFrame) -> DataFrame:
    """Exact dedup via content digest: md5(text) groups. One row out."""
    return documents.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        (F.count("*") - F.countDistinct(F.md5("text"))).alias("n_dupes"),
    )


def doc_shingles(tokens: DataFrame) -> DataFrame:
    """Doc → distinct coarse shingles (token % SHINGLE_MOD).

    explode is vectorized JVM-side; distinct() is a map-side-combined
    aggregate keyed (doc_id, shingle) — no skew (shingles are uniform).
    """
    return (
        tokens
        .select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", (F.col("t") % SHINGLE_MOD).alias("sh"))
        .distinct()
    )


def minhash_coeffs(j: int) -> tuple[int, int]:
    """Per-row hash coefficients: (A_MULT^(j+1), B_MULT^(j+1)) mod P —
    pairwise-INDEPENDENT across rows. The previous family was linear in
    j ((A_MULT*j + A_OFF, B_MULT*j + B_OFF)): for a fixed shingle the 16
    hash values formed an arithmetic progression in j, so one
    low-hashing shingle could own EVERY row of a band, and any two docs
    containing that shingle band-collided regardless of similarity —
    measured as superlinear candidate false positives at ≥1M docs
    (bench/dedup_scale.py). Power coefficients break the linearity; the
    oracle SQL injects the identical 16 pairs as a VALUES table."""
    return pow(A_MULT, j + 1, MINHASH_P), pow(B_MULT, j + 1, MINHASH_P)


def _hash_j(j: int) -> F.Column:
    # bigint arithmetic: with a production-width shingle universe the
    # multiplier*shingle product overflows int32 (ANSI mode raises)
    a, b = minhash_coeffs(j)
    return ((F.lit(a).cast("bigint") * F.col("sh")
             + F.lit(b)) % MINHASH_P)


def shard_signature_expr(dialect: str = "spark",
                         shingle_mod: int = SHINGLE_MOD) -> str:
    """Per-SHARD MinHash signature as ONE in-row expression — no
    aggregation, no state: each of the k min-hashes is an array_min
    over the token array (min is duplicate-insensitive, so skipping the
    per-shard shingle distinct is exact), folded into a single bigint
    by the same chained-mod mix the band buckets use. This is the
    signature the STREAMING near-dup monitor computes per arriving row
    (the batch family signs per DOC across shards via the wide
    aggregate above — different key, same hash family).

    Emitted for both engines from one coefficient loop (``dialect`` =
    'spark' | 'duckdb') so the pipeline and its oracle can never drift.
    An empty/NULL token array (the flush sentinel) folds to NULL.
    """
    amin = "array_min" if dialect == "spark" else "list_min"
    tr = "transform" if dialect == "spark" else "list_transform"
    parts = []
    for j in range(MINHASH_K):
        a, b = minhash_coeffs(j)
        parts.append(
            f"{amin}({tr}(tokens, t -> (cast({a} as bigint)"
            f" * (t % {shingle_mod}) + {b}) % {MINHASH_P}))")
    sig = parts[0]
    for p in parts[1:]:
        sig = f"(({sig}) * {BUCKET_MIX} + {p}) % {BUCKET_Q}"
    return sig


def minhash_signatures(tokens: DataFrame,
                       shingle_mod: int = SHINGLE_MOD) -> DataFrame:
    """MinHash signature per doc, WIDE form: one shuffle keyed doc_id
    with MINHASH_K min-aggregate columns (map-side partial min does most of the
    work). The naive relational form — explode a doc×k grid then
    min-agg — moves k× the rows through the shuffle; at 10^12 docs that
    k× is the whole game. min() is duplicate-insensitive, so the
    per-doc shingle distinct (a second shuffle) is skipped too.

    ``shingle_mod`` sizes the shingle universe: the default is the
    deliberately-coarse FIXTURE value (so the tiny oracle corpus has
    near-dups at all); production/scale runs pass a wide modulus
    (bench/dedup_scale.py uses ~10^6) — a universe much smaller than
    the corpus saturates and every doc collides with every other.
    """
    sh = (
        tokens.select("doc_id", F.explode("tokens").alias("t"))
        .select("doc_id", (F.col("t") % shingle_mod).alias("sh"))
    )
    return sh.groupBy("doc_id").agg(
        *[F.min(_hash_j(j)).alias(f"s{j}") for j in range(MINHASH_K)])


def minhash_band_buckets(tokens: DataFrame,
                         shingle_mod: int = SHINGLE_MOD) -> DataFrame:
    """Band each signature: bucket id = chained-mod mix of the band's
    rows ((...((r0*MIX + r1) % Q)*MIX + r2...) % Q), computed straight
    from the wide signature columns — no second aggregation. Docs
    sharing a (band, bucket) are near-dup candidates. The mix (not a
    positional sum) keeps distinct signature tuples from aliasing onto
    one bucket — see BUCKET_MIX note above; intermediate magnitude is
    bounded by Q*MIX ≈ 2.1e15, safely inside bigint."""
    rows_per_band = MINHASH_K // MINHASH_BANDS
    wide = minhash_signatures(tokens, shingle_mod=shingle_mod)
    bands = []
    for b in range(MINHASH_BANDS):
        bucket = F.col(f"s{b * rows_per_band}").cast("bigint")
        for p in range(1, rows_per_band):
            bucket = (bucket * BUCKET_MIX
                      + F.col(f"s{b * rows_per_band + p}")) % BUCKET_Q
        bands.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return (
        wide.select("doc_id", F.explode(F.array(*bands)).alias("bb"))
        .select("doc_id", "bb.band", "bb.bucket")
    )


def minhash_lsh_stats(tokens: DataFrame) -> DataFrame:
    """Scale-bounded LSH output: per band, how many buckets collide and the
    implied candidate-pair count sum C(n,2). Avoids materializing O(n²)
    pairs — the property that keeps this runnable at 10^12 docs."""
    buckets = minhash_band_buckets(tokens)
    per_bucket = buckets.groupBy("band", "bucket").agg(F.count("*").alias("n"))
    return (
        per_bucket.where(F.col("n") > 1)
        .groupBy("band")
        .agg(F.count("*").alias("n_colliding_buckets"),
             F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("bigint")
             .alias("n_candidate_pairs"))
    )


JACCARD_MOD = 64  # coarse enough that docs genuinely overlap
JACCARD_SAMPLE_MOD = 25  # did % 25 == 0: the all-pairs Jaccard sample


def ngram_jaccard_pairs(tokens: DataFrame) -> DataFrame:
    """N-gram Jaccard similarity over a deterministic doc sample.

    Shingle = coarse 2-gram: consecutive (token % JACCARD_MOD) pairs packed
    into one bigint — coarse enough that near-dup docs overlap. The sample
    (did % JACCARD_SAMPLE_MOD == 0) bounds the pair space for the
    all-pairs oracle
    shape; the production path is ``lsh_verified_neardups``, where the
    pair space is bounded by MinHash band buckets instead of a sample.
    """
    base = tokens.where(F.col("did") % JACCARD_SAMPLE_MOD == 0)
    gram_expr = (
        "if(n_tok >= 2, "
        "transform(sequence(0, n_tok - 2), "
        f"i -> cast(tokens[i] % {JACCARD_MOD} as bigint) * {JACCARD_MOD} "
        f"   + cast(tokens[i+1] % {JACCARD_MOD} as bigint)), "
        f"array())"
    )
    grams = (
        base.select("doc_id", F.explode(F.expr(gram_expr)).alias("g"))
        .distinct()
    )
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(b, (F.col("a.g") == F.col("b.g"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", "n_inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")).alias("n_union"))
        .where(F.col("n_inter") * 100 >= F.col("n_union"))  # jaccard >= 0.01
    )


def doc_ngrams(tokens: DataFrame,
               gram_mod: int = JACCARD_MOD) -> DataFrame:
    """Doc → distinct packed 2-grams (the exact-verification feature set
    shared by ngram_jaccard_pairs and the LSH-fed path). ``gram_mod``
    defaults to the coarse fixture modulus (oracle parity); scale runs
    pass a wide prime so unrelated docs don't alias into the same
    grams."""
    gram_expr = (
        "if(n_tok >= 2, "
        "transform(sequence(0, n_tok - 2), "
        f"i -> cast(tokens[i] % {gram_mod} as bigint) * {gram_mod} "
        f"   + cast(tokens[i+1] % {gram_mod} as bigint)), "
        f"array())"
    )
    return (
        tokens.select("doc_id", F.explode(F.expr(gram_expr)).alias("g"))
        .distinct()
    )


def lsh_candidate_pairs(tokens: DataFrame,
                        shingle_mod: int = SHINGLE_MOD) -> DataFrame:
    """Distinct candidate pairs from the MinHash band buckets — the
    production pair generator: the only pair-producing join is keyed by
    (band, bucket), so the pair space stays LSH-bounded instead of
    O(n²), and a pair colliding in several bands is deduplicated before
    any downstream work fans out."""
    buckets = minhash_band_buckets(tokens, shingle_mod=shingle_mod)
    other = buckets.select(F.col("doc_id").alias("doc_b"),
                           F.col("band").alias("band_b"),
                           F.col("bucket").alias("bucket_b"))
    return (
        buckets.join(other,
                     (F.col("band") == F.col("band_b"))
                     & (F.col("bucket") == F.col("bucket_b"))
                     & (F.col("doc_id") < F.col("doc_b")))
        .select(F.col("doc_id").alias("doc_a"), "doc_b")
        .distinct()
    )


def _lsh_pair_overlap(tokens: DataFrame,
                      shingle_mod: int = SHINGLE_MOD,
                      gram_mod: int = JACCARD_MOD) -> DataFrame:
    """(doc_a, doc_b, n_inter, sz_a, sz_b) for every LSH candidate pair —
    the shared exact-verification core of the Jaccard and containment
    paths. MinHash band buckets propose candidate pairs; gram extraction
    runs solely over candidate docs (semi-join pushdown), and the
    intersection join is keyed (doc, gram) — every stage's row count is
    bounded by the LSH collisions, never the corpus squared.

    The candidate set is consumed three times (doc_a extraction, doc_b
    extraction, the intersection join), so it is persisted — otherwise
    the whole MinHash/banding chain re-executes per consumer. Candidates
    are LSH-bounded (collisions, not corpus²), so the cache is small by
    construction; Spark's LRU reclaims it.
    """
    from pyspark import StorageLevel

    cands = lsh_candidate_pairs(tokens, shingle_mod=shingle_mod) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    cand_docs = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    grams = doc_ngrams(tokens.join(cand_docs, "doc_id", "semi"),
                       gram_mod=gram_mod)
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("sz"))
    ga = grams.select(F.col("doc_id").alias("doc_a"), "g")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "g")
    inter = (
        cands.join(ga, "doc_a")
        .join(gb, ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return inter.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", "n_inter", "sz_a", "sz_b")


# LSH-verified pairs are kept at jaccard (or containment) >= 1/2
JACCARD_DEN = CONTAINMENT_DEN = 2


def lsh_verified_neardups(tokens: DataFrame,
                          shingle_mod: int = SHINGLE_MOD,
                          gram_mod: int = JACCARD_MOD) -> DataFrame:
    """The production LSH → exact-Jaccard pipeline, sample-free: MinHash
    band buckets propose candidate pairs; exact n-gram Jaccard verifies
    ONLY those pairs (keep if jaccard >= 1/JACCARD_DEN). This is the
    at-scale wiring of ngram_jaccard_pairs' sampled shape. The moduli
    default to the fixture values (oracle parity); bench/dedup_scale.py
    passes production-width ones and measures candidate growth vs
    corpus² at 10M docs."""
    return (
        _lsh_pair_overlap(tokens, shingle_mod=shingle_mod,
                          gram_mod=gram_mod)
        .select("doc_a", "doc_b", "n_inter",
                (F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
                .alias("n_union"))
        .where(F.col("n_inter") * JACCARD_DEN >= F.col("n_union"))
    )


def lsh_containment_pairs(tokens: DataFrame) -> DataFrame:
    """Asymmetric shingle containment over the LSH candidate set:
    |A∩B| / min(|A|, |B|) in integer permille. Jaccard misses the
    subset-duplication case (a short doc wholly embedded in a long one
    scores low because the union is dominated by the long doc);
    containment against the SMALLER gram set flags exactly that. Keep a
    pair when containment >= 1/CONTAINMENT_DEN. Same LSH-bounded plan as
    lsh_verified_neardups — the only new work is the final projection."""
    ov = _lsh_pair_overlap(tokens)
    small = F.least(F.col("sz_a"), F.col("sz_b"))
    return (
        ov.where(F.col("n_inter") * CONTAINMENT_DEN >= small)
        .select("doc_a", "doc_b", "n_inter", small.alias("sz_small"),
                F.expr("(n_inter * 1000) div least(sz_a, sz_b)")
                .alias("containment_pmil"))
    )


INGEST_BATCH_MOD = 5


def incremental_ingest_dedup(documents: DataFrame) -> DataFrame:
    """Incremental-ingestion dedup: a new document batch is screened
    against the fingerprint manifest of the already-ingested corpus —
    the daily-crawl shape where the corpus is huge and append-only and
    only the increment is new work. Corpus = doc_id % INGEST_BATCH_MOD != 0,
    batch = the rest (deterministic stand-ins for yesterday/today).

    The manifest join is keyed by content fingerprint (text.py:
    fingerprint_expr — plain integer polynomial, oracle-recomputable),
    so at 100 TB it is ONE shuffle of (fingerprint) pairs; the manifest
    side would be a bucketed table on fingerprint in production, making
    the screen a co-located join with zero manifest movement."""
    from movement_spark.operators.text import fingerprint_expr

    fp = F.expr(fingerprint_expr())
    corpus_manifest = (
        documents.where(F.col("doc_id") % INGEST_BATCH_MOD != 0)
        .select(fp.alias("fingerprint"))
        .distinct()
        .withColumn("seen", F.lit(1))
    )
    batch = (
        documents.where(F.col("doc_id") % INGEST_BATCH_MOD == 0)
        .select("doc_id", "source", fp.alias("fingerprint"))
    )
    return (
        batch.join(corpus_manifest, "fingerprint", "left")
        .groupBy("source")
        .agg(F.count("*").alias("n_batch"),
             F.sum(F.when(F.col("seen").isNotNull(), 1).otherwise(0))
             .cast("bigint").alias("n_dup_vs_corpus"),
             F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
             .cast("bigint").alias("n_novel"))
    )


LABEL_MAX_ITERS = 20  # min-label propagation rounds before giving up


def dup_cluster_labels(tokens: DataFrame) -> DataFrame:
    """Connected components over the near-dup candidate graph: group
    pairwise matches into duplicate CLUSTERS (the step that turns pair
    lists into keep-one-per-cluster dedup decisions).

    Iterative min-label propagation: every doc starts labeled with its
    own numeric id; each round every doc takes the min label among
    itself and its neighbors; fixpoint = components labeled by their
    min member. Each round is one shuffle (edge join + min-agg) over
    O(E) rows — the label-propagation shape that scales where a
    driver-side union-find cannot; rounds needed = graph diameter
    (near-dup clusters are shallow). The loop is driver-side CONTROL
    only — all data stays distributed; convergence is checked with a
    single scalar aggregate per round.
    """
    _, labels = _sampled_component_labels(tokens)
    return (
        labels.groupBy("label")
        .agg(F.count("*").alias("n_docs"),
             F.min("doc_id").alias("rep_doc"))
        .select(F.col("label").alias("component"), "n_docs", "rep_doc")
    )


def _sampled_component_labels(tokens: DataFrame):
    """Shared preamble of dup_cluster_labels and
    dedup_canonical_manifest: deterministic did-mod sample → vertex
    set → near-dup candidate pairs → min-label propagation. One
    definition so the sampling and pair predicate (mirrored in both
    DuckDB oracles) cannot drift between the two queries. Returns
    (sampled rows, converged (doc_id, label) frame)."""
    sample = tokens.where(F.col("did") % JACCARD_SAMPLE_MOD == 0)
    verts = sample.select("doc_id", "did").distinct()
    pairs = ngram_jaccard_pairs(tokens).select("doc_a", "doc_b")
    labels = _propagate_min_labels(
        verts.select("doc_id", F.col("did").alias("label")), pairs)
    return sample, labels


def _propagate_min_labels(labels: DataFrame, pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation to a fixpoint: ``labels`` is
    (doc_id, label) with every doc initially labeled by its own numeric
    id; ``pairs`` is the undirected match relation (doc_a, doc_b), one
    row per unordered pair. Each round every doc takes the min label
    among itself and its neighbors — one shuffle (edge join + min-agg)
    over O(E) rows; rounds needed = component diameter. The driver holds
    only the per-round convergence scalar. Raises if LABEL_MAX_ITERS rounds
    don't converge (partial labels would silently diverge from the
    recursive-CTE oracle; for deep graphs switch to pointer-doubling
    large-star/small-star, O(log d) rounds)."""
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"),
                     F.col("doc_a").alias("doc_b")))
    edges = edges.cache()
    converged = False
    for _ in range(LABEL_MAX_ITERS):
        labels = labels.cache()
        neighbor_min = (
            edges.join(labels, edges.doc_a == labels.doc_id)
            .groupBy(F.col("doc_b").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, "doc_id", "left")
            .select("doc_id",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label"))
        )
        updated = updated.cache()
        changed = (
            labels.select(F.sum("label").alias("s")).collect()[0].s
            != updated.select(F.sum("label").alias("s")).collect()[0].s
        )
        labels.unpersist()
        labels = updated
        if not changed:
            converged = True
            break
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"label propagation did not converge within {LABEL_MAX_ITERS} "
            f"rounds: a candidate-graph component has diameter > "
            f"{LABEL_MAX_ITERS}; results would be partial")
    return labels


def dedup_canonical_manifest(tokens: DataFrame) -> DataFrame:
    """The keep/drop DECISION of the dedup pipeline, end to end: near-dup
    pairs → connected components → one CANONICAL doc per component (most
    tokens, ties to the smallest doc_id) → a per-component retention
    manifest: docs kept/dropped and token volume saved. This is the
    artifact a production dedup job writes so the downstream corpus
    build (and an audit) can reproduce exactly which bytes were cut.

    Scale shape: label propagation is the dedup_cluster_labels loop
    (one shuffle per round); canonical election is a per-component
    max_by — components are near-dup clusters and therefore small, so
    the window/argmax never sees a skewed key. One extra shuffle total
    over the cluster step.
    """
    from pyspark.sql.window import Window

    sample, labels = _sampled_component_labels(tokens)
    doc_tok = sample.groupBy("doc_id", "did").agg(
        F.sum("n_tok").cast("bigint").alias("tok"))
    member = labels.join(doc_tok, "doc_id")
    w = Window.partitionBy("label").orderBy(F.desc("tok"), F.asc("did"))
    ranked = member.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("label").alias("component"))
        .agg(F.count("*").alias("n_docs"),
             F.max(F.when(F.col("rk") == 1, F.col("doc_id")))
             .alias("canonical_doc"),
             F.max(F.when(F.col("rk") == 1, F.col("tok"))).cast("bigint")
             .alias("canon_tok"),
             (F.sum("tok")
              - F.max(F.when(F.col("rk") == 1, F.col("tok"))))
             .cast("bigint").alias("dropped_tok"))
    )


SIMHASH_BANDS = 4  # 8-bit bands of the 32-bit simhash
SIMHASH_SAMPLE_MOD = 50       # simhash_docs: did % 50 == 0
SIMHASH_PAIR_SAMPLE_MOD = 10  # simhash_neardup_pairs samples wider
SIMHASH_MAX_HAMMING = 8


def simhash_neardup_pairs(tokens: DataFrame) -> DataFrame:
    """Complete the SimHash dedup pipeline: hash → banded candidate pairs
    → exact hamming verify (the hash-alone query is ``simhash_docs``).

    The 32-bit simhash splits into 4 byte-bands; docs sharing any
    (band, value) become candidates (shuffle key = band value — never
    all-pairs), then ``bit_count(xor)`` keeps pairs at hamming distance
    <= SIMHASH_MAX_HAMMING. For a bound < SIMHASH_BANDS the banding is
    EXACT by pigeonhole; above it recall follows band collisions — the
    standard LSH trade. The oracle mirrors the banded path, so the
    result set is deterministic either way.
    """
    sh = simhash_docs(tokens, sample_mod=SIMHASH_PAIR_SAMPLE_MOD)
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 (F.shiftright(F.col("simhash"), 8 * b) % 256).alias("bv"))
        for b in range(SIMHASH_BANDS)
    ]
    bands = (
        sh.select("doc_id", "simhash",
                  F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", "simhash", "bb.band", "bb.bv")
    )
    other = bands.select(F.col("doc_id").alias("doc_b"),
                         F.col("simhash").alias("sim_b"),
                         F.col("band").alias("band_b"),
                         F.col("bv").alias("bv_b"))
    pairs = (
        bands.join(other,
                   (F.col("band") == F.col("band_b"))
                   & (F.col("bv") == F.col("bv_b"))
                   & (F.col("doc_id") < F.col("doc_b")))
        .select(F.col("doc_id").alias("doc_a"), "doc_b",
                F.col("simhash").alias("sim_a"), "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_docs(tokens: DataFrame,
                 sample_mod: int = SIMHASH_SAMPLE_MOD) -> DataFrame:
    """32-bit SimHash per sampled doc, from coarse shingles.

    bit b of h(sh) with h = (sh * SIMHASH_MULT) mod 2^32; simhash bit b set
    iff sum over shingles of (2*bit-1) > 0. Pure integer/bit arithmetic.

    Wide form (same rewrite as minhash_signatures): the 32 bit-votes are
    32 sum-aggregate columns in the ONE distinct-shingle shuffle — the
    doc×32 exploded grid would move 32× the rows. Votes are
    duplicate-SENSITIVE (unlike min), so the per-doc shingle distinct
    stays.
    """
    sh = doc_shingles(tokens.where(F.col("did") % sample_mod == 0))
    hv = (F.col("sh") * SIMHASH_MULT % F.lit(1 << 32))
    votes = sh.select("doc_id", hv.alias("hv")).groupBy("doc_id").agg(
        *[F.sum(F.shiftright(F.col("hv"), b) % 2 * 2 - 1).alias(f"v{b}")
          for b in range(SIMHASH_BITS)])
    bit_terms = [
        F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for b in range(SIMHASH_BITS)
    ]
    total = bit_terms[0]
    for t in bit_terms[1:]:
        total = total + t
    return votes.select("doc_id", total.cast("bigint").alias("simhash"))


# Wide (60-bit) SimHash — the SCALE configuration. The 32-bit form
# above banded into 4 bytes: 256 buckets per band means candidate
# pairs ~ n²/128 once the corpus outgrows the bucket space — a
# fixture-sized config (fine at the oracle corpus, quadratic at 10^7+).
# Band width must track log2(corpus): 4×15-bit bands (32768 buckets)
# hold random collisions to n²·4/2^15 while true near-dups still
# collide by pigeonhole for hamming < 4. The 60-bit hash is two
# independent 30-bit prime-mod multiplicative halves stacked — plain
# int64 arithmetic, no overflow, and no weak low bits (prime modulus,
# unlike mod-2^k which passes the shingle's low bits straight through).
SIMHASH_W_BITS = 60
SIMHASH_W_HALF = 30
SIMHASH_W_P = 1_073_741_789   # prime < 2^30
SIMHASH_W_K1 = 2_654_435_761
SIMHASH_W_K2 = 1_103_515_245
SIMHASH_W_BAND_BITS = 15
SIMHASH_W_MAX_HAMMING = 15  # same similarity fraction as 8/32


def _simhash_wide_hv() -> F.Column:
    sh = F.col("sh").cast("bigint")  # int32 sh * 2.6e9 overflows int32
    h1 = (sh * SIMHASH_W_K1) % SIMHASH_W_P
    h2 = (sh * SIMHASH_W_K2) % SIMHASH_W_P
    return (h1 % (1 << SIMHASH_W_HALF)) * (1 << SIMHASH_W_HALF) \
        + (h2 % (1 << SIMHASH_W_HALF))


def simhash_docs_wide(tokens: DataFrame,
                      sample_mod: int = SIMHASH_SAMPLE_MOD) -> DataFrame:
    """60-bit SimHash per sampled doc — same wide-aggregate shape as
    simhash_docs (the 60 bit-votes are sum columns in ONE
    distinct-shingle shuffle), scale-width hash (see constants note)."""
    sh = doc_shingles(tokens.where(F.col("did") % sample_mod == 0))
    votes = sh.select("doc_id", _simhash_wide_hv().alias("hv")) \
        .groupBy("doc_id").agg(
            *[F.sum(F.shiftright(F.col("hv"), b) % 2 * 2 - 1).alias(f"v{b}")
              for b in range(SIMHASH_W_BITS)])
    total = None
    for b in range(SIMHASH_W_BITS):
        term = F.when(F.col(f"v{b}") > 0,
                      F.lit(1 << b).cast("bigint")) \
            .otherwise(F.lit(0).cast("bigint"))
        total = term if total is None else total + term
    return votes.select("doc_id", total.cast("bigint").alias("simhash"))


def simhash_wide_neardup_pairs(tokens: DataFrame) -> DataFrame:
    """SimHash dedup pipeline at scale width: 60-bit hash → 4×15-bit
    band candidates → exact bit_count(xor) verify over EVERY doc (no
    sample). Identical plan shape to simhash_neardup_pairs (band-keyed
    shuffle, never all-pairs), but the 32768-bucket bands keep the
    candidate set from going quadratic until corpus ~ bucket-space
    scale. SIMHASH_W_MAX_HAMMING is the same similarity fraction as the
    32-bit form (8/32 ≈ 15/60)."""
    sh = simhash_docs_wide(tokens, sample_mod=1)
    n_bands = SIMHASH_W_BITS // SIMHASH_W_BAND_BITS
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 (F.shiftright(F.col("simhash"), SIMHASH_W_BAND_BITS * b)
                  % (1 << SIMHASH_W_BAND_BITS)).alias("bv"))
        for b in range(n_bands)
    ]
    bands = (
        sh.select("doc_id", "simhash",
                  F.explode(F.array(*band_structs)).alias("bb"))
        .select("doc_id", "simhash", "bb.band", "bb.bv")
    )
    other = bands.select(F.col("doc_id").alias("doc_b"),
                         F.col("simhash").alias("sim_b"),
                         F.col("band").alias("band_b"),
                         F.col("bv").alias("bv_b"))
    pairs = (
        bands.join(other,
                   (F.col("band") == F.col("band_b"))
                   & (F.col("bv") == F.col("bv_b"))
                   & (F.col("doc_id") < F.col("doc_b")))
        .select(F.col("doc_id").alias("doc_a"), "doc_b",
                F.col("simhash").alias("sim_a"), "sim_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        pairs.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= SIMHASH_W_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


SEG_W = 8  # words per dedup segment


def segment_dedup_stats(documents: DataFrame) -> DataFrame:
    """Sub-document (segment-level) dedup profile: each doc is cut into
    fixed-width SEG_W-word segments and a segment occurring more than
    once ANYWHERE in the corpus marks boilerplate — the pass that
    catches repeated headers/footers exact whole-doc dedup misses.

    Per source: segment volume, occurrences of corpus-duplicated
    segments, distinct segments, and an integer-permille dup rate.

    Scale shape: the segment explode is one projection (no shuffle); the
    frequency count and the attribution join both shuffle on the segment
    key. Duplicate detection is global across sources by design. At
    100 TB the join key would be a 128-bit digest of the segment rather
    than the string itself (hash builtins are fine INSIDE a plan — they
    are kept out of checked output values only), cutting shuffle bytes
    ~5×; the string key here keeps the oracle engine-exact. Docs shorter
    than one segment are excluded in both engines.
    """
    words = documents.select(
        "doc_id", "source", F.split("text", " ").alias("w"))
    eligible = words.where(F.size("w") >= SEG_W)
    segs = eligible.select(
        "doc_id", "source",
        F.explode(F.expr(
            f"transform(sequence(0, int(size(w) div {SEG_W}) - 1), "
            f"i -> array_join(slice(w, i * {SEG_W} + 1, {SEG_W}), ' '))"
        )).alias("seg"))
    seg_counts = segs.groupBy("seg").agg(F.count("*").alias("n_occ"))
    return (
        segs.join(seg_counts, "seg")
        .groupBy("source")
        .agg(F.count("*").alias("n_segs"),
             F.sum((F.col("n_occ") > 1).cast("int")).cast("bigint")
             .alias("n_dup_occ"),
             F.countDistinct("seg").alias("n_distinct_segs"))
        .withColumn("dup_permille",
                    F.expr("(n_dup_occ * 1000) div n_segs"))
    )


FUZZY_MAX_LEV = 4


def fuzzy_blocked_matches(part: DataFrame) -> DataFrame:
    """Blocked fuzzy record linkage (entity resolution): candidate
    pairs come ONLY from equality blocks (noun word + size), then the
    expensive edit-distance predicate runs inside each block.

    The classic two-stage linkage plan — blocking is to string matching
    what LSH banding is to Jaccard dedup (dedup.py:lsh_candidate_pairs):
    the O(n²) comparison space never materializes; the join key bounds
    it to O(sum block²). At 100 TB the block key comes from a cheap
    canonical form (phonetic code, sorted tokens, or an LSH bucket) and
    the block-size distribution is audited first (chunk_stats) so one
    hot block can't quadratically dominate — the same skew discipline as
    every other bucket join here. levenshtein() is classic dynamic-
    programming edit distance, identical in Spark and DuckDB, so the
    verdict is engine-exact.
    """
    blocked = part.select(
        F.col("p_partkey").alias("pk"), F.col("p_name").alias("name"),
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
        F.col("p_size").alias("size"))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (
        a.join(b, (F.col("a.noun") == F.col("b.noun"))
               & (F.col("a.size") == F.col("b.size"))
               & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.noun").alias("noun"),
                F.levenshtein(F.col("a.name"), F.col("b.name")).alias("lev"))
        .where(F.col("lev") <= FUZZY_MAX_LEV)
    )
    return (
        pairs.groupBy("noun")
        .agg(F.count("*").alias("n_pairs"),
             F.min("lev").alias("min_lev"),
             F.sum("lev").cast("bigint").alias("sum_lev"))
    )


def span_ownership_stats(tokens: DataFrame, sample_mod: int = 10,
                         tok_mod: int = TOK_MOD) -> DataFrame:
    """Substring-LEVEL dedup accounting (the span analog of doc-level
    near-dup): every exact packed bigram gets one OWNER — the earliest
    (min-did) doc containing it — and each later doc counts the spans
    it would lose to earlier owners (``n_foreign`` of ``n_grams``,
    plus an exact-integer ppm ratio). This is the bookkeeping pass of
    cross-document span dedup: a doc that is mostly foreign spans is a
    concatenation/quotation of earlier corpus content even when no
    single whole-doc pair is similar enough for the pairwise paths.

    Scale shape: one explode to (doc, gram) distinct pairs, one
    min-agg keyed by gram (map-side combined), one co-keyed join back
    — row counts are O(total grams), never O(docs^2); ownership needs
    no pair enumeration at all. Grams are per-shard (a bigram never
    spans a shard boundary), matching the oracle's per-row lambda.
    """
    from movement_spark.operators.text import packed_bigram_expr

    base = tokens.where(F.col("did") % sample_mod == 0)
    grams = (
        base.select("doc_id", "did",
                    F.explode(F.expr(packed_bigram_expr(tok_mod)))
                    .alias("g"))
        .distinct()
    )
    owners = grams.groupBy("g").agg(F.min("did").alias("owner"))
    return (
        grams.join(owners, "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_grams"),
             F.sum((F.col("owner") < F.col("did")).cast("int"))
             .cast("bigint").alias("n_foreign"))
        .select("doc_id", "n_grams", "n_foreign",
                F.expr("cast(n_foreign * 1000000L div n_grams as bigint)")
                .alias("foreign_ppm"))
    )


def cross_source_dup_matrix(documents: DataFrame) -> DataFrame:
    """Cross-source duplication matrix — the dedup REPORT a corpus-mix
    decision needs: for every source pair, how many distinct SEG_W-word
    segments both carry (licensing overlap, mirror detection, mix
    double-counting; segment-keyed, so it sees shared boilerplate and
    partial mirrors that whole-text equality misses). One segment-keyed
    distinct + self-join on the segment key; the pair expansion is
    bounded per segment by C(n_sources, 2) — a constant — never by
    corpus size. At 100 TB the join key becomes a content digest of the
    segment (hashes allowed in-plan; only checked VALUES stay
    engine-portable) — same plan, ~5× less shuffle width. Output
    ≤ C(n_sources, 2) rows."""
    words = documents.select("source", F.split("text", " ").alias("w"))
    segs = words.where(F.size("w") >= SEG_W).select(
        "source",
        F.explode(F.expr(
            f"transform(sequence(0, int(size(w) div {SEG_W}) - 1), "
            f"i -> array_join(slice(w, i * {SEG_W} + 1, {SEG_W}), ' '))"
        )).alias("seg"))
    s = segs.distinct()
    a = s.select(F.col("seg"), F.col("source").alias("source_a"))
    b = s.select(F.col("seg"), F.col("source").alias("source_b"))
    return (
        a.join(b, "seg")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_segments"))
    )


# Trigram packing width. Unlike SHINGLE_MOD/JACCARD_MOD (deliberately
# coarse so the tiny fixture has near-dups), this DEFAULT is the full
# token-universe width of the derived token table (sources/tokens.py
# TOK_MOD): packing is then INJECTIVE — t0*M² + t1*M + t2 < 2^48 — so
# the coverage metric counts only TRUE repeated trigrams, which is the
# production semantic. Corpora with wider token ids pass their own
# width (aliasing then adds a ~1/M² random floor, like any hash).
TRIGRAM_MOD = TOK_MOD  # the full token universe


def packed_trigram_expr(gram_mod: int) -> str:
    """Packed token-trigram array: a*m² + b*m + c per window (injective
    for token ids < gram_mod); empty for sub-3-token shards. The ONE
    trigram packing rule shared by duplicate_ngram_coverage and
    dup_span_scrub (the text.packed_bigram_expr convention) — change
    it here and in each query's oracle SQL mirror, nowhere else."""
    m = gram_mod
    return (
        f"if(n_tok >= 3, "
        f"transform(sequence(0, n_tok - 3), "
        f"i -> cast(tokens[i] % {m} as bigint) * {m * m} "
        f"   + cast(tokens[i+1] % {m} as bigint) * {m} "
        f"   + cast(tokens[i+2] % {m} as bigint)), "
        f"array())"
    )


def duplicate_ngram_coverage(tokens: DataFrame,
                             gram_mod: int = TRIGRAM_MOD) -> DataFrame:
    """Per-source duplicated-text share — the corpus report the dedup
    literature actually acts on: for every token-trigram INSTANCE, does
    its packed trigram value occur in >= 2 distinct docs corpus-wide?
    Emits, per source, total instances, duplicated instances, and the
    exact integer-bps duplicated share (the "fraction of this source
    that is text seen elsewhere" number that sets dedup budgets and
    per-source mix weights; pairwise Jaccard/LSH tells you WHICH docs
    collide, this tells you HOW MUCH of each source is involved).

    Scale shape: a single linear pipeline, NO self-join and NO
    materialized mid-frame — instances collapse to (source, doc, gram,
    cnt) in ONE map-side-combined aggregate, the corpus-wide doc count
    per gram is a window COUNT over the gram key (one more shuffle, by
    g), and the final rollup shrinks that (docs x distinct-grams) frame
    to n_sources rows. Two shuffles total, each keyed by data that is
    uniform by construction (grams), zero driver-side state. The
    windowed census replaces the join-back-to-an-aggregate shape on
    purpose: Catalyst cannot reuse the aggregate's exchange across the
    two branches (column pruning makes the subtrees differ), so the
    join form either recomputes the explode or checkpoints a
    corpus-sized frame — both wrong at 100 TB."""
    gram_expr = packed_trigram_expr(gram_mod)
    from pyspark.sql.window import Window
    per_doc = (
        tokens
        .select("source", "doc_id", F.explode(F.expr(gram_expr)).alias("g"))
        .groupBy("source", "doc_id", "g")
        .agg(F.count("*").alias("cnt"))
    )
    return (
        per_doc
        .withColumn("n_docs", F.count("*").over(Window.partitionBy("g")))
        .groupBy("source")
        .agg(F.sum("cnt").cast("bigint").alias("total_ngrams"),
             F.sum(F.when(F.col("n_docs") >= 2, F.col("cnt"))
                   .otherwise(F.lit(0))).cast("bigint").alias("dup_ngrams"))
        # integer div (not floor-of-double): matches DuckDB // at any SF
        .select("source", "total_ngrams", "dup_ngrams",
                F.expr("(dup_ngrams * 10000) div total_ngrams")
                .cast("bigint").alias("dup_bps"))
    )


def dup_span_scrub(tokens: DataFrame) -> DataFrame:
    """Span-level dedup scrub manifest — the WHAT-GETS-REMOVED
    companion to ``duplicate_ngram_coverage``: that operator reports
    how much of each source is duplicated text; this one measures the
    effect of actually scrubbing it, duplicated-substring-removal
    style (remove every token position covered by a trigram whose
    value occurs in >= 2 distinct docs corpus-wide). Overlapping
    duplicated trigrams must not double-count a position, so the
    covered set is a per-(shard, position) union, not a sum of 3x the
    duplicated-instance count.

    Input contract: one row per shard with (source, doc_id, seq,
    tokens, n_tok) — positions are per-shard offsets, so the shard key
    (doc_id, seq) identifies the row a position belongs to; the dup
    census stays per-DOC (intra-doc cross-shard repeats are not dups,
    matching the coverage operator).

    Scale shape: linear, no self-join. Instances collapse to one row
    per (doc, gram) carrying its (seq, pos) occurrence list (bounded
    by per-doc repeats of one gram); the corpus-wide census is the
    same windowed COUNT over the gram key the coverage operator uses;
    only rows that survive the >= 2-docs cut re-expand to covered
    positions, so the distinct-positions shuffle is sized by the
    DUPLICATED share of the corpus, not the corpus. Every source
    appears in the manifest (left join), including untouched ones.
    """
    from pyspark.sql.window import Window

    gram_expr = packed_trigram_expr(TRIGRAM_MOD)
    per_doc_gram = (
        tokens
        .select("source", "doc_id", "seq",
                F.posexplode(F.expr(gram_expr)).alias("p", "g"))
        .groupBy("source", "doc_id", "g")
        .agg(F.collect_list(F.struct("seq", "p")).alias("occ"))
    )
    covered = (
        per_doc_gram
        .withColumn("n_docs", F.count("*").over(Window.partitionBy("g")))
        .filter(F.col("n_docs") >= 2)
        .select("source", "doc_id", F.explode("occ").alias("o"))
        .select("source", "doc_id", F.col("o.seq").alias("seq"),
                F.explode(F.array(F.col("o.p"), F.col("o.p") + F.lit(1),
                                  F.col("o.p") + F.lit(2))).alias("cov_pos"))
        .distinct()
    )
    scrub = (
        covered
        .groupBy("source")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("docs_scrubbed"),
             F.count("*").cast("bigint").alias("removed_tokens"))
    )
    base = (
        tokens
        .groupBy("source")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("total_tokens"))
    )
    return (
        base.join(F.broadcast(scrub), "source", "left")
        # integer div (not floor-of-double): matches DuckDB // at any SF
        .select("source", "n_docs", "total_tokens",
                F.coalesce("docs_scrubbed", F.lit(0))
                .cast("bigint").alias("docs_scrubbed"),
                F.coalesce("removed_tokens", F.lit(0))
                .cast("bigint").alias("removed_tokens"),
                # greatest(): a source whose shards are ALL empty has
                # total_tokens = 0 — ANSI div would throw where DuckDB
                # // yields NULL (totality rule, CLAUDE.md); removed is
                # necessarily 0 there, so both engines emit 0 bps
                F.expr("coalesce(removed_tokens, 0) * 10000"
                       " div greatest(total_tokens, 1)")
                .cast("bigint").alias("removed_bps"))
    )


# Exact repeated-substring scrub (Lee et al., "Deduplicating Training
# Data Makes Language Models Better"): remove every token position
# inside a substring of >= EXSUB_K tokens that occurs >= 2 times
# corpus-wide. 50 is the paper's production threshold and works
# unchanged at fixture SF (the derived token table places every shard
# on one master cycle mod 50261, so long exact repeats are plentiful).
EXSUB_K = 50
# phase-1 rolling-hash base/modulus: a*x+b mod p arithmetic only
# (CLAUDE.md hash rule). B > token universe (50261) so the packing is
# injective per step; P = 2^31 - 1 keeps acc*B + t < 2^47 in a bigint.
EXSUB_B = 50263
EXSUB_P = 2147483647


def exact_substring_scrub(tokens: DataFrame, k: int = EXSUB_K) -> DataFrame:
    """Exact duplicated-substring removal accounting, suffix-array
    class: a position is scrubbed iff it lies inside a >= ``k``-token
    substring occurring >= 2 times corpus-wide (instance count, not
    distinct docs — the paper's semantics: a doc self-repeating counts).
    The reduction making this Spark-shaped is exact: position p sits in
    a repeated substring of length >= k  <=>  some k-gram instance
    covering p repeats — every k-window of a repeated span is itself
    repeated, and a repeated k-gram IS a >= k repeated substring. So
    suffix-array output == k-gram census output, position for position.

    Scale shape, two-phase so the corpus never shuffles its text:
    phase 1 hashes every k-gram instance to ONE int64 (polynomial
    rolling hash) and runs the census over the 5-narrow-column
    (source, doc, seq, p, h) frame — the only corpus-sized shuffle
    carries 40 bytes/instance, never k tokens. Phase 2 re-joins ONLY
    hash-duplicated instances (bounded by duplicated volume +
    collision rate, never all-pairs) back to their shards by
    (doc_id, seq), materializes the true k-token slice, and re-runs
    the census on the exact slice — equal slices hash equal, so
    hash-count >= 2 is a superset of exact-count >= 2 and the
    restriction loses nothing: the result is EXACT, collisions only
    cost candidate volume. Covered positions then union per-shard
    (DISTINCT, the dup_span_scrub convention) so overlapping spans
    never double-count. Reference scope: Emitable 1->N expansion +
    collapse (SequenceUtil.java) reshaped as census/verify."""
    from pyspark.sql.window import Window

    shards = tokens.select("source", "doc_id", "seq", "tokens", "n_tok")
    # guarded position generator (totality rule): shards shorter than k
    # contribute no instances instead of a negative-length sequence
    inst = (
        shards
        .select("source", "doc_id", "seq", "tokens",
                F.explode(F.expr(
                    f"if(n_tok >= {k}, sequence(0, n_tok - {k}), "
                    "array())")).alias("p"))
        .select("source", "doc_id", "seq", "p",
                F.expr(f"aggregate(slice(tokens, p + 1, {k}), 0L, "
                       f"(acc, t) -> (acc * {EXSUB_B} + t) % {EXSUB_P})")
                .alias("h"))
    )
    cand = (
        inst
        .withColumn("n_h", F.count("*").over(Window.partitionBy("h")))
        .where(F.col("n_h") >= 2)
        .select("source", "doc_id", "seq", "p")
    )
    # rejoin on the FULL shard key, null-safely: (doc_id, seq) alone
    # would match another source's same-keyed shard (recomputing grams
    # from the wrong tokens), and a plain equi-join would DROP a
    # NULL-keyed shard the phase-1 census counted — while the
    # single-phase oracle, which never joins, keeps it (latent
    # Spark-vs-oracle divergence on arbitrary inputs; the derived
    # token table never exercises either case)
    sh = shards.select(F.col("source").alias("s_source"),
                       F.col("doc_id").alias("s_doc_id"),
                       F.col("seq").alias("s_seq"), "tokens")
    exact = (
        cand.join(sh,
                  F.col("source").eqNullSafe(F.col("s_source"))
                  & F.col("doc_id").eqNullSafe(F.col("s_doc_id"))
                  & F.col("seq").eqNullSafe(F.col("s_seq")))
        .select("source", "doc_id", "seq", "p",
                F.expr(f"slice(tokens, p + 1, {k})").alias("gram"))
        .withColumn("n_exact",
                    F.count("*").over(Window.partitionBy("gram")))
        .where(F.col("n_exact") >= 2)
    )
    covered = (
        exact
        .select("source", "doc_id", "seq",
                F.explode(F.expr(f"sequence(p, p + {k} - 1)"))
                .alias("cov_pos"))
        .distinct()
    )
    scrub = (
        covered
        .groupBy("source")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("docs_scrubbed"),
             F.count("*").cast("bigint").alias("removed_tokens"))
    )
    base = (
        tokens
        .groupBy("source")
        .agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
             F.sum("n_tok").cast("bigint").alias("total_tokens"))
    )
    return (
        base.join(F.broadcast(scrub), "source", "left")
        # integer div (not floor-of-double): matches DuckDB // at any SF
        .select("source", "n_docs", "total_tokens",
                F.coalesce("docs_scrubbed", F.lit(0))
                .cast("bigint").alias("docs_scrubbed"),
                F.coalesce("removed_tokens", F.lit(0))
                .cast("bigint").alias("removed_tokens"),
                # greatest(): a source whose shards are ALL empty has
                # total_tokens = 0 — ANSI div would throw where DuckDB
                # // yields NULL (totality rule, CLAUDE.md); removed is
                # necessarily 0 there, so both engines emit 0 bps
                F.expr("coalesce(removed_tokens, 0) * 10000"
                       " div greatest(total_tokens, 1)")
                .cast("bigint").alias("removed_bps"))
    )


PREFIX_W = 6  # words of document head that define a boilerplate key


def prefix_boilerplate_clusters(documents: DataFrame) -> DataFrame:
    """Template/boilerplate detection by shared document head: docs
    whose first PREFIX_W words are identical form a cluster — the
    cheap pre-pass that catches mirrored pages and form letters before
    the (much costlier) MinHash stage runs, and the canonical-doc
    choice feeds the same keep-min-id scrub convention as
    dedup_canonical_manifest.

    Scale shape: one projection (no explode — a doc contributes exactly
    one key) and one groupBy on the prefix key; the >1 filter rides the
    aggregate. At 100 TB the key would be a 128-bit digest of the
    prefix instead of the string (same note as segment_dedup_stats);
    the string keeps the oracle engine-exact.
    """
    words = documents.select(
        "doc_id", "source", F.split("text", " ").alias("w"))
    pref = (
        words.where(F.size("w") >= PREFIX_W)
        .select("doc_id", "source",
                F.expr(f"array_join(slice(w, 1, {PREFIX_W}), ' ')")
                .alias("prefix"))
    )
    return (
        pref.groupBy("prefix")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("source").alias("n_sources"),
             F.min("doc_id").alias("canonical_doc"))
        .where(F.col("n_docs") > 1)
    )


def doc_novelty_scores(documents: DataFrame) -> DataFrame:
    """Corpus-novelty score per doc: the fraction (bps) of a doc's
    distinct word bigrams whose corpus-FIRST occurrence (min doc_id =
    ingestion order) is this doc — the signal novelty-based curation
    ranks by: late near-copies score ~0, fresh material ~10000.

    Scale shape: ONE heavy exchange. Within-doc gram dedup is
    array_distinct — doc-LOCAL, so the global (doc, gram) DISTINCT
    exchange disappears; first-occurrence attribution is a gram-keyed
    hash MIN (the only corpus-sized shuffle — a hash aggregate, never
    the sort a min-window pays, measured 2.3× slower at 1M docs), and
    n_novel per doc is a RE-AGGREGATE of that gram-level result (one
    row per gram survives, grouped by its first_doc) — never a
    join-back of the gram frame. The totals branch re-reads the corpus
    (one row per doc, no aggregation — only the final doc-keyed join
    of two doc-sized frames shuffles it). At 100 TB the gram key
    becomes a 64-bit packed id or digest (same note as
    segment_dedup_stats); the deterministic min-doc_id rule makes
    incremental recompute safe — a new batch can only lose novelty to
    the existing corpus, never steal it. BENCH/novelty_scale.json
    measures this form against both drafts it replaced.
    """
    # word_bigram_expr is TOTAL (empty, never out-of-bounds, on a
    # 1-word doc): the indexed transform form crashed here on rows the
    # size>=2 filter was meant to drop (caught by
    # test_doc_novelty_matches_model, seed=2 — see the helper's
    # docstring and the CLAUDE.md totality invariant).
    garr = (documents.select("doc_id", F.split("text", " ").alias("w"))
            .where(F.size("w") >= 2)
            .select("doc_id",
                    F.expr(word_bigram_expr()).alias("garr")))
    totals = garr.select(
        "doc_id", F.size("garr").cast("bigint").alias("n_grams"))
    novel = (
        garr.select("doc_id", F.explode("garr").alias("gram"))
        .groupBy("gram")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").cast("bigint").alias("n_novel"))
    )
    return (
        totals.join(novel, totals.doc_id == novel.first_doc, "left")
        .select("doc_id", "n_grams",
                F.coalesce("n_novel", F.lit(0)).cast("bigint")
                .alias("n_novel"))
        .withColumn("novelty_bps", F.expr("(n_novel * 10000) div n_grams"))
    )
