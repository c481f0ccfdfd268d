"""Text analysis operators over the documents table.

Language-ID, quality scoring, token counting, fingerprinting — all as
built-in column expressions (JVM-side, codegen'd); nothing here drops to
Python. Heuristics are intentionally simple/deterministic so the DuckDB
oracle reproduces them exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from movement_spark.sources.tokens import TOK_MOD

STOPWORDS = ("the", "a", "of", "and", "to")
FP_LEN = 64          # chars fingerprinted
FP_MOD = 1_000_000_007


def tokenize_stats(documents: DataFrame) -> DataFrame:
    """Whitespace token counting per source (generated text is
    single-space separated; a BPE-ish regex split is in quality_scores)."""
    words = documents.select(
        "source",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("n_chars_m"),
    )
    return (
        words.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_words").cast("bigint").alias("sum_words"),
             F.sum("n_chars_m").cast("bigint").alias("sum_chars"),
             F.max("n_words").alias("max_words"))
    )


def quality_scores(documents: DataFrame) -> DataFrame:
    """Per-doc quality features → per-source integer-valued aggregates.

    Features: word count, mean word length (x1000 fixed point), stopword
    hits. Quality rank = coarse bucket of words-per-doc.
    """
    feats = documents.select(
        "doc_id", "source",
        F.size(F.split("text", " ")).alias("n_words"),
        F.length("text").alias("len"),
        sum((F.size(F.split(F.col("text"), f" {w} ")) - 1) for w in STOPWORDS)
        .alias("stop_hits"),
    ).withColumn(
        # floor() in both engines (cast double->bigint truncates in Spark
        # but ROUNDS in DuckDB — never rely on cast for this)
        "mean_word_len_x1000",
        F.floor((F.col("len") - F.col("n_words") + 1) * 1000 / F.col("n_words")),
    ).withColumn(
        "quality_bucket",
        F.least(F.floor(F.col("n_words") / 20), F.lit(4)).cast("int"))
    return (
        feats.groupBy("source", "quality_bucket")
        .agg(F.count("*").alias("n_docs"),
             F.sum("stop_hits").cast("bigint").alias("sum_stop_hits"),
             F.sum("mean_word_len_x1000").cast("bigint").alias("sum_mwl"))
    )


def langid_heuristic(documents: DataFrame) -> DataFrame:
    """N-gram language heuristic: per-doc stopword-density score compared
    across 'languages' = per-source densities. Returns per (lang, source)
    score sums so the labeled lang column can be evaluated against the
    heuristic. Integer outputs only."""
    scored = documents.select(
        "lang", "source",
        (F.size(F.split(F.col("text"), " the ")) - 1).alias("en_hits"),
        (F.size(F.split(F.col("text"), " data ")) - 1).alias("tech_hits"),
        F.length("text").alias("len"),
    ).withColumn(
        "en_density_x1000",
        F.floor(F.col("en_hits") * 1000 / F.greatest(F.col("len"), F.lit(1))))
    return (
        scored.groupBy("lang")
        .agg(F.count("*").alias("n_docs"),
             F.sum("en_hits").cast("bigint").alias("sum_en_hits"),
             F.sum("tech_hits").cast("bigint").alias("sum_tech_hits"),
             F.sum("en_density_x1000").cast("bigint").alias("sum_en_density"))
    )


def fingerprint_expr() -> str:
    """Spark SQL expression for the rolling polynomial fingerprint of the
    first FP_LEN chars: h = fold(h*31 + ascii(c)) mod FP_MOD. The ONE
    content-digest rule shared by doc_fingerprints and the incremental-
    ingest dedup manifest — change it here and in each query's oracle
    SQL mirror, nowhere else."""
    return (
        f"aggregate(sequence(1, cast(least(n_chars, {FP_LEN}) as int)), 0L, "
        f"(acc, i) -> (acc * 31 + ascii(substring(text, cast(i as int), 1))) % {FP_MOD})"
    )


FP_SAMPLE_MOD = 25  # doc_fingerprints samples doc_id % 25 == 0


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """Rolling polynomial fingerprint of the first FP_LEN chars:
    h = fold(h*31 + ascii(c)) mod FP_MOD. Order-sensitive content digest
    (the text analog of merged_doc_check's poly hash)."""
    sampled = documents.where(F.col("doc_id") % FP_SAMPLE_MOD == 0)
    fp = fingerprint_expr()
    return sampled.select(
        "doc_id", "lang", "source",
        F.expr(fp).alias("fingerprint"),
        F.least(F.col("n_chars"), F.lit(FP_LEN)).cast("int").alias("fp_len"),
    )


BIGRAM_PMI_SCALE = 1_000_000


def packed_bigram_expr(tok_mod: int) -> str:
    """Packed adjacent-token bigram array: a*tok_mod + b per pair
    (injective for token ids < tok_mod); empty for sub-2-token shards.
    The ONE packing rule shared by bigram PMI, the repetition filter,
    the contamination scan, and the transition graph — change it here
    and in each query's oracle SQL mirror, nowhere else."""
    return (
        f"if(n_tok >= 2, transform(sequence(0, n_tok - 2), "
        f"i -> cast(tokens[i] as bigint) * {tok_mod} "
        f"+ cast(tokens[i+1] as bigint)), "
        f"cast(array() as array<bigint>))"
    )


def word_bigram_expr() -> str:
    """Distinct adjacent word-pair array over the split-words column
    ``w`` —
    the ONE word-bigram rule shared by corpus_verdicts' repetition
    filter and doc_novelty_scores (same convention as
    packed_bigram_expr: change it here and in each oracle SQL mirror,
    nowhere else). TOTAL by construction: zip_with over two slices is
    empty (never out-of-bounds) on sub-2-word docs, so it is safe even
    when Spark evaluates it on rows a filter or CASE guard would drop
    (the indexed transform form threw INVALID_ARRAY_INDEX there —
    CLAUDE.md totality invariant)."""
    return (
        "array_distinct(zip_with(slice(w, 1, size(w) - 1), "
        "slice(w, 2, size(w) - 1), "
        "(a, b) -> concat(a, ' ', b)))"
    )


BIGRAM_TOP_N = 20


def token_bigram_stats(tokens: DataFrame, tok_mod: int = TOK_MOD) -> DataFrame:
    """Top-N token bigrams with integer-scaled PMI — the co-occurrence
    statistic a corpus-analysis pass feeds to tokenizer/quality tooling.

    Bigram key packs the adjacent pair into one bigint (a*tok_mod + b,
    injective for token ids < tok_mod), so the heavy path is explode →
    map-side-combined count — one shuffle keyed by bigram. PMI is kept
    ORACLE-EXACT by reporting floor(c_ab * N * 1e6 / (c_a * c_b)) in
    pure bigint arithmetic instead of a float log (at web scale swap the
    bigint products for decimal(38,0) — same plan). Top-N ties break by
    bigram key, so the cut is deterministic.
    """
    bg_expr = packed_bigram_expr(tok_mod)
    bi = tokens.select(F.explode(F.expr(bg_expr)).alias("bg"))
    bc = bi.groupBy("bg").agg(F.count("*").alias("c_bigram"))
    uc = (tokens.select(F.explode("tokens").alias("t"))
          .groupBy("t").agg(F.count("*").alias("c")))
    tot = bi.agg(F.count("*").alias("n"))
    top = (bc.orderBy(F.desc("c_bigram"), F.asc("bg")).limit(BIGRAM_TOP_N)
           .withColumn("tok_a", F.expr(f"cast(bg div {tok_mod} as int)"))
           .withColumn("tok_b", (F.col("bg") % tok_mod).cast("int")))
    ua = uc.select(F.col("t").alias("tok_a"), F.col("c").alias("c_a"))
    ub = uc.select(F.col("t").alias("tok_b"), F.col("c").alias("c_b"))
    return (
        top.crossJoin(F.broadcast(tot))
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .select("tok_a", "tok_b", "c_bigram", "c_a", "c_b",
                F.expr(f"(c_bigram * n * {BIGRAM_PMI_SCALE}L) div (c_a * c_b)")
                .alias("pmi_scaled"))
    )


REP_FLAG_X1000 = 200  # docs with rep >= 0.2 are flagged


def intra_doc_repetition(tokens: DataFrame,
                         tok_mod: int = TOK_MOD) -> DataFrame:
    """Intra-document repetition filter (the duplicate-n-gram-fraction
    quality signal): per doc, rep = (total_bigrams - distinct_bigrams) /
    total_bigrams over all shards, reported as an exact floor(×1000)
    integer; per-source counts of docs over the flag threshold. Docs
    with fewer than two tokens have no bigrams and are out of scope by
    definition. One shuffle keyed (source, doc_id)."""
    bg_expr = packed_bigram_expr(tok_mod)
    per_doc = (
        tokens.select("source", "doc_id",
                      F.explode(F.expr(bg_expr)).alias("g"))
        .groupBy("source", "doc_id")
        .agg(F.count("*").alias("total"),
             F.countDistinct("g").alias("n_distinct"))
        .withColumn("rep_x1000",
                    F.expr("((total - n_distinct) * 1000) div total"))
    )
    return (
        per_doc.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum((F.col("rep_x1000") >= REP_FLAG_X1000).cast("int"))
             .cast("bigint").alias("n_flagged"),
             F.sum("rep_x1000").cast("bigint").alias("sum_rep_x1000"))
    )


def top_ngram_fraction(tokens: DataFrame, tok_mod: int = TOK_MOD,
                       flag_x1000: int = 150) -> DataFrame:
    """Top-n-gram fraction quality filter — Gopher's OTHER repetition
    rule, complementing ``intra_doc_repetition``: that one measures the
    duplicated share of all bigrams (distinct ratio); this one measures
    how much of the doc its single MOST FREQUENT bigram takes up
    (frac = top_count * 2 / total_tokens, exact floor(x1000) integer).
    A doc of one phrase repeated verbatim scores ~1000+ here while its
    distinct-ratio can stay moderate. Values can exceed 1000 when the
    top bigram self-overlaps ("a a a a") — same artifact as Gopher's
    chars-in-top-ngram definition; it is a filter signal, not a share.

    Only the max count matters, so there is no argmax tie-break to
    specify. Docs with no bigram (< 2 tokens in every shard) are out of
    scope, as in intra_doc_repetition. Scale shape: one shuffle on
    (source, doc_id, gram) with map-side combine, then doc-keyed
    max/total, then the per-source fold — never a corpus-wide gram
    census, so skewed grams stay inside their doc's key space.
    """
    bg_expr = packed_bigram_expr(tok_mod)
    top = (
        tokens.select("source", "doc_id",
                      F.explode(F.expr(bg_expr)).alias("g"))
        .groupBy("source", "doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("source", "doc_id")
        .agg(F.max("c").alias("top_c"))
    )
    totals = tokens.groupBy("source", "doc_id").agg(
        F.sum("n_tok").cast("bigint").alias("n_tok_doc"))
    per_doc = (
        top.join(totals, ["source", "doc_id"])
        # integer div (not floor-of-double): matches DuckDB // at any SF
        .withColumn("frac_x1000",
                    F.expr("(top_c * 2 * 1000) div n_tok_doc"))
    )
    return (
        per_doc.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum((F.col("frac_x1000") >= flag_x1000).cast("int"))
             .cast("bigint").alias("n_flagged"),
             F.sum("frac_x1000").cast("bigint").alias("sum_frac_x1000"),
             F.max("frac_x1000").cast("bigint").alias("max_frac_x1000"))
    )


IDF_SCALE = 1_000_000


TFIDF_TOP_N = 5


def tfidf_top_terms(documents: DataFrame) -> DataFrame:
    """Top-N characteristic terms per source by integer-scaled TF-IDF —
    the vocabulary-profile pass a corpus monitor runs per data source.

    IDF is kept oracle-exact by using the log-free integral form
    floor(N * 1e6 / df) (monotone in 1/df, which is all ranking needs),
    so score = tf * idf is pure bigint arithmetic in both engines — at
    web scale swap the bigint products for decimal(38,0), same plan.
    The heavy path is one explode + two map-side-combined aggregates;
    the vocabulary (term → df) is small by Heaps' law and broadcast.
    Top-N ties break on the term string, so the cut is deterministic.
    """
    from pyspark.sql.window import Window

    words = documents.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("term"))
    tf = words.groupBy("source", "term").agg(F.count("*").alias("tf"))
    dfreq = words.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = documents.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score",
                    F.expr(f"tf * ((n_docs * {IDF_SCALE}L) div df)"))
    )
    rnk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.desc("score"), F.asc("term")))
    return (
        scored.withColumn("rnk", rnk.cast("int"))
        .where(F.col("rnk") <= TFIDF_TOP_N)
        .select("source", "term", F.col("tf").cast("bigint").alias("tf"),
                F.col("df").cast("bigint").alias("df"),
                F.col("score").cast("bigint").alias("score"), "rnk")
    )


SCRUB_PATTERN = "[0-9]+"  # digit runs: the synthetic PII stand-in


def scrub_audit(events: DataFrame) -> DataFrame:
    """Redaction (PII-scrub) audit over the raw ``props`` payload:
    per event_type, how many records carry at least one match of the
    scrub pattern, the total match-run count, and the byte shrinkage
    after replacing every run with a mask char.

    Digit runs stand in for the real pattern set (emails, phone numbers,
    id numbers — swap SCRUB_PATTERN per deployment); the synthetic corpus
    carries digits only in ``props``. Everything is JVM regexp column
    work (regexp_extract_all / regexp_replace) in one map-side-combined
    aggregate — the scan cost IS the regex, which is the true shape of a
    scrub pass over 100 TB: no shuffle beyond the per-type rollup.
    """
    n_runs = F.size(F.expr(
        f"regexp_extract_all(props, '{SCRUB_PATTERN}', 0)"))
    red_len = F.length(F.regexp_replace("props", SCRUB_PATTERN, "#"))
    return (
        events.select(
            "event_type", n_runs.alias("n_runs"),
            F.length("props").alias("len_raw"), red_len.alias("len_red"))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_records"),
             F.sum((F.col("n_runs") > 0).cast("int")).cast("bigint")
             .alias("n_flagged"),
             F.sum("n_runs").cast("bigint").alias("total_runs"),
             F.sum("len_raw").cast("bigint").alias("bytes_raw"),
             F.sum("len_red").cast("bigint").alias("bytes_redacted"))
    )


def normalized_dup_stats(documents: DataFrame) -> DataFrame:
    """Normalization-aware exact dedup: how many near-identical docs
    become exact duplicates once text is canonicalized (lowercase,
    non-alphanumeric runs collapsed to single spaces, trimmed) — the
    standard preprocessing step before hash dedup, quantified per
    source as ``n_dup_norm_only`` = distinct raw texts that collapse
    together under normalization.

    Everything is JVM column expressions + one map-side-combined
    distinct aggregate per source; the normalization regex is the
    parity contract and appears verbatim in the oracle (Java and RE2
    agree on this character-class-only pattern)."""
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "))
    return (
        documents.select("source", "text", norm.alias("norm"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.countDistinct("text").alias("n_distinct_raw"),
             F.countDistinct("norm").alias("n_distinct_norm"),
             (F.countDistinct("text") - F.countDistinct("norm"))
             .cast("bigint").alias("n_dup_norm_only"))
    )


def lm_fluency_scores(tokens: DataFrame, tok_mod: int = TOK_MOD) -> DataFrame:
    """Bigram-LM corpus-fit scorer — the LM-based quality filter of
    pretraining pipelines, kept integer-exact: bigram and prefix counts
    are trained on the corpus itself, and each doc scores
    floor(10⁶ * Σ c(bigram) / Σ c(prefix)) over its shard-internal
    bigrams — common transitions score high, off-distribution text low.
    Ratio-of-sums (not a float log-prob mean) keeps the whole score in
    two bigint sums per doc; at web scale the products move to
    decimal(38,0) and rare bigrams get a min-count floor — same plan.

    Shuffles: bigram count (map-side combined), count joins keyed by
    bigram/prefix, then the per-doc aggregate — every key is
    high-cardinality and even. Output: per-source score profile,
    bounded rows. Docs with zero bigrams (all shards < 2 tokens) are
    out of scope by definition, like intra_doc_repetition.
    """
    bg_expr = packed_bigram_expr(tok_mod)
    bi = tokens.select("source", "doc_id",
                       F.explode(F.expr(bg_expr)).alias("bg"))
    bc = bi.groupBy("bg").agg(F.count("*").alias("c_bigram"))
    pc = (bi.select(F.expr(f"bg div {tok_mod}").alias("p"))
          .groupBy("p").agg(F.count("*").alias("c_prefix")))
    docs = (
        bi.join(bc, "bg")
        .withColumn("p", F.expr(f"bg div {tok_mod}"))
        .join(pc, "p")
        .groupBy("source", "doc_id")
        .agg(F.sum("c_bigram").alias("s_bg"),
             F.sum("c_prefix").alias("s_pf"))
        .select("source",
                F.expr("(s_bg * 1000000L) div s_pf").alias("fluency_ppm"))
    )
    return (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.min("fluency_ppm").alias("min_ppm"),
             F.max("fluency_ppm").alias("max_ppm"),
             F.sum("fluency_ppm").cast("bigint").alias("sum_ppm"))
    )


# --- BPE tokenizer training -------------------------------------------
# The merge-application rule is "leftmost non-overlapping, space-
# delimited literal replace, iterated to fixpoint" — deterministic and
# bit-identical across engines (Spark replace == DuckDB replace), and
# equal to strict sequential BPE everywhere except runs of ≥4 repeats
# of one symbol pair inside a single word, where it still merges the
# same pair the same number of times but may leave the odd singleton in
# a different slot. Tie-breaks: highest count, then (left, right)
# lexicographic.

BPE_MERGES = 8   # merge rounds trained by default
BPE_PASSES = 6   # replace passes per merge (fixpoint for words ≤ 12 syms)


def _bpe_word_counts(documents: DataFrame) -> DataFrame:
    """word → corpus occurrence count, plus the initial space-joined
    character symbolization. This is the ONLY corpus-wide pass BPE
    training makes: everything after operates on the vocabulary table,
    whose size is Heaps'-law bounded (~100M rows at web scale)
    regardless of corpus bytes."""
    return (
        documents.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word").agg(F.count("*").alias("n_occ"))
        .withColumn("syms", F.array_join(F.expr(
            "transform(sequence(1, length(word)), i -> substr(word, i, 1))"
        ), " "))
    )


def _apply_merge(col: F.Column, left: str, right: str) -> F.Column:
    """Apply one merge to a space-delimited symbol string: sentinel-pad,
    replace the delimited pair BPE_PASSES times (each pass is leftmost
    non-overlapping; iteration reaches the fixpoint for any word with
    ≤ 2 × BPE_PASSES symbols), trim."""
    out = F.concat(F.lit(" "), col, F.lit(" "))
    pat, rep = F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
    for _ in range(BPE_PASSES):
        out = F.replace(out, pat, rep)
    return F.trim(out)


def _bpe_merge_list(documents: DataFrame,
                    n_merges: int) -> tuple[list, DataFrame]:
    """Corpus word count + training rounds (see _bpe_rounds).

    The vocabulary is persisted for the duration of the loop — WITHOUT
    it every per-round arg-max job re-runs the corpus word count, and
    the "corpus enters the training exactly once" contract dies. The
    final symbolization is eagerly localCheckpoint'ed (vocab-sized, so
    executor-storage cheap) so the base cache can be released while
    callers keep a lineage-free handle."""
    vocab = _bpe_word_counts(documents).persist()
    try:
        merges, v = _bpe_rounds(vocab, n_merges)
        return merges, v.localCheckpoint(eager=True)
    finally:
        vocab.unpersist()


BPE_CHECKPOINT_EVERY = 8  # rounds between lineage truncations


def _bpe_rounds(vocab: DataFrame, n_merges: int) -> tuple[list, DataFrame]:
    """The training loop over a (word, n_occ, syms) vocabulary frame:
    per round, ONE narrow shuffle counts adjacent symbol pairs over the
    vocabulary (weighted by word frequency), the arg-max pair comes
    back as a control-plane scalar (TakeOrdered — no global sort), and
    the merge is applied as a column expression. Returns (merge rows,
    final symbolized vocabulary).

    Lineage control (VERDICT r03 #3): without truncation each round's
    plan re-derives the whole _apply_merge chain from the base
    vocabulary — O(rounds²) expression recompute that is invisible at
    the 8-merge default but dominates a production 1k-32k merge run.
    Every BPE_CHECKPOINT_EVERY rounds the symbolization is
    localCheckpoint'ed (vocab-sized — Heaps'-law bounded, never corpus
    bytes), the same fixed-point pattern as graph.connected_components;
    the stride amortizes the materialization cost while keeping any
    plan at most BPE_CHECKPOINT_EVERY merges deep."""
    v = vocab
    merges = []
    for r in range(1, n_merges + 1):
        # TOTAL pair expression: zip_with over two slices is empty
        # (never out-of-bounds) on single-symbol words. The size>=2
        # filter is still the semantic guard, but Spark may evaluate a
        # later Project's expressions on rows a Filter would drop
        # (observed on the doc_novelty_scores gram transform), and
        # sequence(1, n) DESCENDS for n < 1 — so the expression itself
        # must not index past the array.
        pairs = v.where(
            F.size(F.split("syms", " ")) >= 2
        ).select("n_occ", F.explode(F.expr(
            "zip_with(slice(split(syms, ' '), 1, "
            "size(split(syms, ' ')) - 1), "
            "slice(split(syms, ' '), 2, size(split(syms, ' ')) - 1), "
            "(l, r) -> struct(l AS l, r AS r))")).alias("p"))
        top = (pairs.groupBy("p.l", "p.r")
               .agg(F.sum("n_occ").alias("n"))
               .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
               .limit(1).collect())
        if not top:
            break
        left, right, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((r, left, right, left + right, int(n)))
        v = v.withColumn("syms", _apply_merge(F.col("syms"), left, right))
        if r % BPE_CHECKPOINT_EVERY == 0 and r < n_merges:
            v = v.localCheckpoint(eager=True)
    return merges, v


def bpe_train(documents: DataFrame,
              n_merges: int = BPE_MERGES) -> DataFrame:
    """BPE tokenizer training (Sennrich-style): learn the `n_merges`
    highest-frequency symbol-pair merges from the corpus.

    Scale shape: one map-side-combinable word-count shuffle over the
    corpus, then every round touches only the vocabulary table — corpus
    bytes never re-enter the loop. The per-round collect is the arg-max
    pair (one row, the same convergence-scalar pattern as the graph
    fixed-points). Output: the merge table itself, n_merges rows."""
    spark = documents.sparkSession
    merges, _ = _bpe_merge_list(documents, n_merges)
    return spark.createDataFrame(
        [(r, l, rt, m, n) for r, l, rt, m, n in merges],
        "rank int, left_sym string, right_sym string, "
        "merged string, n_occ bigint")


def bpe_encode_stats(documents: DataFrame,
                     n_merges: int = BPE_MERGES) -> DataFrame:
    """Apply the trained merges back to the corpus and report the
    compression they buy per source: symbols per word before (chars)
    vs after (BPE tokens), exact integer basis points.

    The encode side is the production-relevant plan: the merge list is
    tiny and broadcast-shaped; encoding joins each word ONCE against
    the final vocabulary symbolization (word → syms is a deterministic
    function of the corpus, so the join replaces re-deriving per
    occurrence), then one per-source rollup."""
    _, vocab = _bpe_merge_list(documents, n_merges)
    vocab_tok = vocab.select(
        "word", F.size(F.split("syms", " ")).alias("n_tok"),
        F.length("word").alias("n_chr"))
    words = (documents
             .select("source", F.explode(F.split("text", " ")).alias("word"))
             .where(F.col("word") != ""))
    return (
        words.join(F.broadcast(vocab_tok), "word")
        .groupBy("source")
        .agg(F.count("*").alias("n_words"),
             F.sum("n_chr").alias("n_chars"),
             F.sum("n_tok").alias("n_tokens"))
        .withColumn("compression_bps",
                    F.expr("(n_tokens * 10000L) div n_chars"))
    )


# ---------------------------------------------------------------------
# Hashed-feature linear classifier (fastText-style inference). The model
# is a weight vector indexed by feature-hash bucket; inference is a pure
# per-row expression: hash each word, look up its bucket weight, sum.
# Here the weight table is itself a deterministic function of the bucket
# id so the oracle can reproduce scores exactly; a real deployment
# swaps `_bucket_weight` for a broadcast map over trained weights —
# same plan, still zero shuffle until the final rollup.

CLS_BUCKETS = 4096       # feature-hash space (power of two, fits int64 math)
CLS_WEIGHT_MOD = 2003    # weight = ((bucket*A + 97) % MOD) - (MOD-1)/2
CLS_WEIGHT_MULT = 2654435761


def classifier_score_expr() -> str:
    """Spark SQL expression: per-doc classifier score over `text`.

    score = Σ_words weight(bucket(word)); word hash is the repo's
    rolling-polynomial convention ((acc*31 + ascii) % FP_MOD, same as
    fingerprint_expr), bucket = hash % CLS_BUCKETS, weight =
    ((bucket * CLS_WEIGHT_MULT + 97) % CLS_WEIGHT_MOD) - 1001 ∈
    [-1001, 1001]. Everything stays in whole-stage codegen: no explode,
    no shuffle, no Python — the inference pass IS the document scan."""
    word_hash = (
        "if(length(w) = 0, 0L, "
        "aggregate(sequence(1, length(w)), 0L, "
        f"(h, i) -> (h * 31 + ascii(substring(w, cast(i as int), 1))) % {FP_MOD}))"
    )
    return (
        "aggregate(split(text, ' '), 0L, (acc, w) -> acc + "
        f"((({word_hash} % {CLS_BUCKETS}) * {CLS_WEIGHT_MULT}L + 97) "
        f"% {CLS_WEIGHT_MOD}) - {(CLS_WEIGHT_MOD - 1) // 2})"
    )


def hashed_classifier_scores(documents: DataFrame) -> DataFrame:
    """Per-source inference manifest of the hashed linear classifier:
    how many docs score positive (kept by the quality gate), the score
    mass, and the extremes. One corpus scan + one map-side-combined
    rollup — the exact shape of classifier-filter passes (fastText
    quality/langid gates) over a 100 TB corpus."""
    scored = documents.select(
        "source", F.expr(classifier_score_expr()).alias("score"))
    return (
        scored.groupBy("source")
        .agg(F.count("*").alias("n_docs"),
             F.sum((F.col("score") > 0).cast("int")).cast("bigint")
             .alias("n_pos"),
             F.sum("score").cast("bigint").alias("sum_score"),
             F.min("score").cast("bigint").alias("min_score"),
             F.max("score").cast("bigint").alias("max_score"))
    )


# ---------------------------------------------------------------------
# BM25 retrieval. Inverted-index scoring re-expressed relationally: the
# postings list of a term = the exploded (doc, term) pairs for that term
# only. Filtering to the query's terms happens BEFORE any shuffle, so
# the data that moves is O(postings of the query terms), not the corpus
# — the relational form of "look up the posting lists". IDF uses the
# same log-free integral surrogate as tfidf_top_terms (monotone in the
# true idf, which is all ranking needs); the tf-saturation term keeps
# BM25's k1=6/5, b=3/4 as EXACT rational arithmetic so both engines
# floor-divide identical integers.

BM25_TERMS = ("dup", "merge", "query")   # rare + mid + common df
BM25_IDF_SCALE = 1000
BM25_K = 10


def bm25_topk(documents: DataFrame, terms: tuple = BM25_TERMS,
              k: int = BM25_K) -> DataFrame:
    """Top-k docs for a term query under integer-exact BM25.

    score(d) = Σ_t idf(t) * 22·tf·S div (10·tf·S + 3·S + 9·dl·N)
    with idf(t) = (N * BM25_IDF_SCALE) div df(t), S = Σ doc lengths,
    N = corpus size — the k1=1.2, b=0.75 BM25 saturation written as one
    integer floor-division (products ≤ ~1e15 at sf1; swap bigint for
    decimal(38,0) beyond that, same plan). Docs that contain no query
    term are pruned at the SCAN by an array_contains disjunction, so
    explode fan-out and the (doc, term) shuffle see only matching docs;
    df/N/S come from one tiny broadcast aggregate each."""
    from pyspark.sql.window import Window

    term_list = ", ".join(f"'{t}'" for t in terms)
    stats = documents.select(
        F.size(F.split("text", " ")).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("s_dl"))
    prune = " or ".join(
        f"array_contains(split(text, ' '), '{t}')" for t in terms)
    hits = (
        documents.where(F.expr(prune))
        .select("doc_id", F.size(F.split("text", " ")).alias("dl"),
                F.explode(F.split("text", " ")).alias("term"))
        .where(F.expr(f"term in ({term_list})"))
    )
    tf = hits.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"), F.max("dl").alias("dl"))
    dfreq = hits.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("idf", F.expr(f"(n_docs * {BM25_IDF_SCALE}L) div df"))
        .withColumn("part", F.expr(
            "(idf * 22 * tf * s_dl) div "
            "(10 * tf * s_dl + 3 * s_dl + 9 * dl * n_docs)"))
    )
    doc_scores = scored.groupBy("doc_id").agg(
        F.sum("part").cast("bigint").alias("score"),
        F.count("*").cast("int").alias("n_terms_hit"))
    # TakeOrderedAndProject: per-partition top-k then a driver merge of
    # k rows per partition — never a global sort. The rank window runs
    # over the ≤k surviving rows only.
    # asc_nulls_last: a NULL-doc_id doc (degenerate corpora) must sort
    # where DuckDB's default (NULLS LAST) puts it, not Spark's ASC
    # default (nulls first) — rank parity on tie groups depends on it
    top = doc_scores.orderBy(F.desc("score"),
                             F.asc_nulls_last("doc_id")).limit(k)
    rnk = F.row_number().over(
        Window.orderBy(F.desc("score"), F.asc_nulls_last("doc_id")))
    return top.withColumn("rank", rnk.cast("int"))


# ---------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (RRF) of a lexical BM25 list
# and a hashed bag-of-words "dense" list — the standard two-leg hybrid
# search of RAG pipelines (Cormack et al.'s RRF: score = Σ 1/(K+rank)),
# kept integer-exact as Σ RRF_SCALE div (K + rank). Each leg is a scan
# plus a bounded top-R (TakeOrderedAndProject — never a global sort);
# the fusion join sees ≤ 2R rows, broadcast trivially. The dense leg is
# a feature-hashed query/document dot product computed as ONE aggregate
# over the words (Σ_w qv[bucket(w)] — the hashed-BoW dot with a constant
# query vector needs no per-doc vector materialization), length-
# normalized by integer division so long docs don't dominate.
# ---------------------------------------------------------------------

RRF_K = 60                 # the canonical RRF damping constant
RRF_SCALE = 1_000_000_000  # integer-exact 1/(K+rank) surrogate
HYB_BUCKETS = 16           # feature-hash width of the dense leg
HYB_R = 50                 # per-leg candidate depth fed to the fusion
HYB_K = 10                 # fused results returned


def _word_hash_py(w: str) -> int:
    """Python mirror of the repo's rolling word hash ((acc*31 + ascii)
    mod FP_MOD — classifier_score_expr / fingerprint_expr convention)
    for driver-side constants like the hashed query vector."""
    h = 0
    for c in w:
        h = (h * 31 + ord(c)) % FP_MOD
    return h


def hashed_query_vector(terms: tuple = BM25_TERMS) -> list:
    """qv[b] = number of query terms feature-hashed into bucket b of
    HYB_BUCKETS."""
    qv = [0] * HYB_BUCKETS
    for t in terms:
        qv[_word_hash_py(t) % HYB_BUCKETS] += 1
    return qv


def hashed_bow_topk(documents: DataFrame, terms: tuple = BM25_TERMS,
                    k: int = HYB_R) -> DataFrame:
    """Dense-leg top-k: length-normalized hashed-BoW dot product.

    score(d) = (Σ_w qv[bucket(w)]) * 1000 div max(dl, 1) with qv the
    constant hashed query vector — one whole-stage-codegen aggregate
    per doc, zero shuffle before the bounded top-k. greatest(dl, 1)
    keeps the division total on empty docs (CLAUDE.md totality rule)."""
    from pyspark.sql.window import Window

    qv = hashed_query_vector(terms)
    qv_lit = "array(" + ", ".join(f"{v}L" for v in qv) + ")"
    word_hash = (
        "if(length(w) = 0, 0L, "
        "aggregate(sequence(1, length(w)), 0L, "
        f"(h, i) -> (h * 31 + ascii(substring(w, cast(i as int), 1))) % {FP_MOD}))"
    )
    dot = (f"aggregate(split(text, ' '), 0L, (acc, w) -> acc + "
           f"element_at({qv_lit}, "
           f"cast({word_hash} % {HYB_BUCKETS} as int) + 1))")
    scored = documents.select(
        "doc_id",
        F.expr(f"({dot}) * 1000 div greatest(size(split(text, ' ')), 1)")
        .alias("sem_score"))
    top = scored.orderBy(F.desc("sem_score"),
                         F.asc_nulls_last("doc_id")).limit(k)
    rnk = F.row_number().over(
        Window.orderBy(F.desc("sem_score"), F.asc_nulls_last("doc_id")))
    return top.withColumn("rank", rnk.cast("int"))


def hybrid_rrf_topk(documents: DataFrame, terms: tuple = BM25_TERMS,
                    r: int = HYB_R, k: int = HYB_K) -> DataFrame:
    """RRF fusion of the BM25 and hashed-BoW top-R lists.

    rrf(d) = Σ_legs RRF_SCALE div (RRF_K + rank_leg(d)) over the legs
    that surfaced d (absent leg contributes 0 — the standard RRF
    treatment of out-of-list docs). Returns the fused top-k with each
    leg's rank preserved (NULL where a leg missed the doc). Both legs
    are ≤ r rows, so the full-outer fusion join and the final top-k are
    driver-trivial at any corpus size; corpus-sized work is exactly two
    scans (one per leg)."""
    from pyspark.sql.window import Window

    lex = bm25_topk(documents, terms, k=r).select(
        "doc_id", F.col("rank").alias("lex_rank"))
    sem = hashed_bow_topk(documents, terms, k=r).select(
        "doc_id", F.col("rank").alias("sem_rank"))
    fused = (
        lex.join(sem, "doc_id", "full_outer")
        .withColumn("rrf_score", F.expr(
            f"coalesce({RRF_SCALE}L div ({RRF_K} + lex_rank), 0L) + "
            f"coalesce({RRF_SCALE}L div ({RRF_K} + sem_rank), 0L)"))
    )
    top = fused.orderBy(F.desc("rrf_score"),
                        F.asc_nulls_last("doc_id")).limit(k)
    rnk = F.row_number().over(
        Window.orderBy(F.desc("rrf_score"), F.asc_nulls_last("doc_id")))
    return top.withColumn("rank", rnk.cast("int")).select(
        "doc_id", "rrf_score", F.col("lex_rank").cast("int").alias("lex_rank"),
        F.col("sem_rank").cast("int").alias("sem_rank"), "rank")


def source_percentile_cut(documents: DataFrame) -> DataFrame:
    """Per-source percentile quality gate: keep docs whose mean-word-
    length score clears their OWN source's exact median — the
    distribution-relative cut that survives sources with different
    baseline quality (an absolute threshold over- or under-prunes any
    source whose distribution is shifted).

    Scale shape: per-source exact percentile (one agg), the ≤n_sources
    threshold table broadcast back, one rollup. Exact percentile sorts
    each group's values; at 100 TB swap in approx_percentile or a
    fixed-width histogram quantile — the join-back contract is
    unchanged. Median comparison is exact: scores are integers ≤~10^4,
    interpolated medians are .0/.5 doubles, identical in both engines.
    """
    n_words = F.size(F.split("text", " "))
    feats = documents.select(
        "doc_id", "source",
        F.floor((F.length("text") - n_words + 1) * 1000 / n_words)
        .alias("mwl"))
    med = feats.groupBy("source").agg(
        F.percentile("mwl", 0.5).alias("med_mwl"))
    return (
        feats.join(F.broadcast(med), "source")
        .groupBy("source", "med_mwl")
        .agg(F.count("*").alias("n_docs"),
             F.sum((F.col("mwl") >= F.col("med_mwl")).cast("int"))
             .cast("bigint").alias("n_kept"))
        .withColumn("kept_bps", F.expr("(n_kept * 10000) div n_docs"))
        .select("source", "n_docs", "n_kept", "kept_bps",
                F.col("med_mwl").cast("double").alias("med_mwl"))
    )
