"""Property-based tests (hypothesis) for the zip mechanics and ordering.

The reference's runtime test randomizes thread/batch parameters over 20
loops (TestLocalParallelStreamRuntime.java:43-59); the disciplined form
of that idea is property testing against an executable model: each
distributed operator is compared to a few-line pure-Python simulation
of the PAPER's semantics (cycle/pinion/slip-wheel, SURVEY.md §1.4) over
many generated gear sizes. derandomize keeps CI deterministic.
"""

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

from movement_spark.operators.mechanics import pinion_zip, slip_wheel, zip_uneven

SET = settings(max_examples=8, deadline=None, derandomize=True)


def _gear(spark, vals, col):
    return spark.createDataFrame([(v,) for v in vals], f"{col} INT")


def _model_pinion(a, b, rotations):
    """Pure-Python PinionSystem: A runs `rotations` turns, B restarts
    when exhausted (PinionSystem.java:104-113)."""
    out = []
    gpos = 0
    for _ in range(rotations):
        for x in a:
            out.append((x, b[gpos % len(b)]))
            gpos += 1
    return sorted(out)


@SET
@given(na=st.integers(1, 7), nb=st.integers(1, 7), rot=st.integers(1, 3))
def test_pinion_matches_model(spark, na, nb, rot):
    a = [10 + i for i in range(na)]
    b = [100 + i for i in range(nb)]
    df = pinion_zip(_gear(spark, a, "x"), _gear(spark, b, "y"), "x", "y",
                    rotations=rot)
    got = sorted((r.x, r.y) for r in df.select("x", "y").collect())
    assert got == _model_pinion(a, b, rot)


@SET
@given(na=st.integers(1, 6), k=st.integers(1, 4))
def test_slip_wheel_matches_model(spark, na, k):
    a = [10 + i for i in range(na)]
    b = [100 + i for i in range(na * k)]  # exactly k notches per A element
    df = slip_wheel(_gear(spark, a, "x"), _gear(spark, b, "y"), "x", "y",
                    notches=k)
    got = sorted((r.x, r.y) for r in df.select("x", "y").collect())
    model = sorted((a[i], b[i * k + j]) for i in range(na) for j in range(k))
    assert got == model


@SET
@given(na=st.integers(0, 5), nb=st.integers(0, 5))
def test_zip_uneven_covers_both_tails(spark, na, nb):
    if na == 0 and nb == 0:
        return
    a = [10 + i for i in range(na)]
    b = [100 + i for i in range(nb)]
    df = zip_uneven(_gear(spark, a, "x"), _gear(spark, b, "y"), "x", "y")
    rows = df.select("pos", "x", "y").collect()
    assert len(rows) == max(na, nb)
    nulls_x = sum(1 for r in rows if r.x is None)
    nulls_y = sum(1 for r in rows if r.y is None)
    assert nulls_x == max(na, nb) - na
    assert nulls_y == max(na, nb) - nb


@SET
@given(seed=st.integers(0, 10_000))
def test_merge_digest_invariant_under_shuffle(spark, sf_dir, seed):
    """The ordered-merge digest must be invariant to ANY input row order
    (the engine may not rely on arrival order — Movement's threads never
    guaranteed one)."""
    from movement_spark.operators.ordering import merged_doc_check
    from movement_spark.sources.tokens import token_sequences
    t = token_sequences(spark, sf_dir).limit(40)
    shuffled = (
        t.withColumn("_r", F.pmod(F.xxhash64(F.col("doc_id"), F.col("seq"),
                                             F.lit(seed)), F.lit(997)))
        .orderBy("_r").drop("_r").repartition(5)
    )
    base = merged_doc_check(t).orderBy("doc_id").collect()
    perm = merged_doc_check(shuffled).orderBy("doc_id").collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in perm]


@SET
@given(size=st.integers(1, 9), consumed=st.integers(1, 40))
def test_cyclic_replay_matches_model(spark, size, consumed):
    """CyclicReplay.take(n) must equal the pure-Python endless repetition
    (CyclicStream.java:46-58), and the odometer must follow the
    startCounter law (completedRotations = starts - 1)."""
    from movement_spark.operators.mechanics import CyclicReplay
    vals = [10 + i for i in range(size)]
    rep = CyclicReplay(_gear(spark, vals, "v"), "v")
    got = [r.v for r in rep.take(consumed).orderBy("tick").collect()]
    assert got == [vals[i % size] for i in range(consumed)]
    starts = -(-consumed // size)  # ceil
    assert rep.starts(consumed) == starts
    assert rep.completed_rotations(consumed) == max(0, starts - 1)


@SET
@given(n=st.integers(1, 200), ctx=st.sampled_from([4, 16, 64]))
def test_packing_invariants(spark, n, ctx):
    """Packing laws over random doc-length mixes: windows cover exactly
    total_tok + tail_waste tokens; waste < one window; boundary docs
    cannot exceed windows - 1 (a seam needs two windows) or n_docs."""
    from movement_spark.operators.dataset import sequence_packing_stats
    docs = spark.range(n).select(
        F.lit("s").alias("source"),
        F.concat(F.lit("d"), F.format_string("%06d", F.col("id"))).alias("doc_id"),
        F.lit(0).alias("seq"),
        (1 + F.pmod(F.xxhash64("id"), F.lit(3 * ctx))).cast("int").alias("n_tok"))
    stats = sequence_packing_stats(docs, context_len=ctx).collect()[0]
    assert stats.n_windows * ctx == stats.total_tok + stats.tail_waste_tok
    assert 0 <= stats.tail_waste_tok < ctx
    assert stats.n_docs == n
    assert 0 <= stats.n_boundary_docs <= min(n, max(stats.n_windows - 1, 0))


@SET
@given(n=st.integers(50, 400))
def test_split_is_stable_partition(spark, n):
    """The split assignment is a PARTITION (every doc in exactly one
    split) and a pure function of doc_id — two independent evaluations
    over different row layouts agree exactly."""
    from movement_spark.operators.dataset import split_column
    docs = spark.range(n).select(F.col("id").alias("doc_id"))
    a = docs.repartition(7).withColumn("split", split_column(F.col("doc_id")))
    b = docs.repartition(3).withColumn("split", split_column(F.col("doc_id")))
    assert a.count() == n
    joined = a.join(b.withColumnRenamed("split", "split_b"), "doc_id")
    assert joined.where(F.col("split") != F.col("split_b")).count() == 0
    assert joined.count() == n


# ---- round-2 operator laws ------------------------------------------


@SET
@given(seed=st.integers(0, 10_000), window=st.sampled_from([30, 60, 120]))
def test_bin_join_equals_theta_join_on_random_intervals(spark, seed, window):
    """The bin-join rewrite must reproduce the naive theta join for ANY
    point set and window width — including points on bin boundaries and
    intervals that straddle exactly one boundary."""
    from pyspark.sql.window import Window as W

    n = 40
    ts = [((seed * 7919 + i * 104729) % 3600) for i in range(n)]
    rows = [(i, t, "error" if (seed + i) % 5 == 0 else "view")
            for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, "event_id INT, ets LONG, event_type STRING")
    err = df.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("iid"), F.col("ets").alias("w_start"))
    # bin rewrite (mirrors joins.incident_attribution)
    spans = err.select(
        "iid", "w_start",
        F.explode(F.array_distinct(F.array(
            F.expr(f"w_start div {window}"),
            F.expr(f"(w_start + {window} - 1) div {window}")))).alias("bin"))
    probe = df.select("event_id", "ets",
                      F.expr(f"ets div {window}").alias("bin"))
    fast = (spans.join(probe, "bin")
            .where((F.col("ets") >= F.col("w_start"))
                   & (F.col("ets") < F.col("w_start") + window))
            .select("iid", "event_id"))
    naive = (err.crossJoin(df.select("event_id", "ets"))
             .where((F.col("ets") >= F.col("w_start"))
                    & (F.col("ets") < F.col("w_start") + window))
             .select("iid", "event_id"))
    assert sorted(map(tuple, fast.collect())) == \
        sorted(map(tuple, naive.collect()))


@SET
@given(x=st.integers(0, 10**14))
def test_isqrt_expr_is_exact(spark, x):
    """The SQL isqrt used by temperature mixing must equal Python's
    arbitrary-precision math.isqrt for any bigint, including values
    where float sqrt rounds the wrong way."""
    import math

    from movement_spark.operators.dataset import _isqrt_expr

    got = spark.sql(
        f"SELECT {_isqrt_expr(str(x))} AS s").collect()[0].s
    assert got == math.isqrt(x)


@SET
@given(a=st.integers(0, 4095), b=st.integers(0, 4095))
def test_zvalue_interleave_is_bijective(spark, a, b):
    """De-interleaving the z-value must recover both coordinates — the
    property that makes z-range scans prune on either dimension."""
    from movement_spark.operators.layout import Z_BITS, spark_zvalue

    z = spark.sql(
        f"SELECT {spark_zvalue(str(a), str(b))} AS z").collect()[0].z
    ra = sum(((z >> (2 * i)) & 1) << i for i in range(Z_BITS))
    rb = sum(((z >> (2 * i + 1)) & 1) << i for i in range(Z_BITS))
    assert (ra, rb) == (a, b)


def _model_dupcov(rows):
    """Pure-Python duplicate_ngram_coverage: per-source (total, dup,
    bps) where an instance is duplicated iff its trigram occurs in >= 2
    distinct docs corpus-wide."""
    from collections import Counter, defaultdict
    per_doc = Counter()
    docs_per_gram = defaultdict(set)
    for source, doc, toks in rows:
        for i in range(len(toks) - 2):
            g = tuple(toks[i:i + 3])
            per_doc[(source, doc, g)] += 1
            docs_per_gram[g].add(doc)
    agg = {}
    for (source, doc, g), cnt in per_doc.items():
        tot, dup = agg.get(source, (0, 0))
        agg[source] = (tot + cnt,
                       dup + (cnt if len(docs_per_gram[g]) >= 2 else 0))
    return {s: (t, d, d * 10000 // t) for s, (t, d) in agg.items()}


@SET
@given(seed=st.integers(0, 10_000))
def test_duplicate_ngram_coverage_matches_model(spark, seed):
    """The windowed-census coverage operator must agree with the
    executable model on random tiny corpora over a 5-symbol alphabet
    (small alphabet forces heavy cross-doc and intra-doc collisions —
    both dup branches and the short-doc dropout get exercised)."""
    import random

    from movement_spark.operators.dedup import duplicate_ngram_coverage

    rng = random.Random(seed)
    rows = [
        (f"s{rng.randrange(2)}", f"d{i}",
         [rng.randrange(5) for _ in range(rng.randrange(9))])
        for i in range(rng.randrange(1, 7))
    ]
    expected = _model_dupcov(rows)
    toks = spark.createDataFrame(
        [(s, d, t, len(t)) for s, d, t in rows],
        "source string, doc_id string, tokens array<int>, n_tok int")
    got = {r["source"]: (r["total_ngrams"], r["dup_ngrams"], r["dup_bps"])
           for r in duplicate_ngram_coverage(toks).collect()}
    assert got == expected


def _doc_id(d, null_at):
    """Generated doc_id: index ``null_at`` is a NULL doc_id."""
    return None if d == null_at else f"d{d}"


def _scrub_manifest(rows, covered):
    """Per-source (n_docs, total, docs_scrubbed, removed, bps) of a
    scrub model's covered (source, doc, seq, pos) set; every source
    present, bps = removed*10000 // max(total, 1). Doc counts skip a
    NULL doc_id, as the operators' countDistinct does."""
    from collections import defaultdict

    per_src = defaultdict(lambda: [set(), 0, set(), 0])
    for source, doc, seq, toks in rows:
        st = per_src[source]
        st[0].add(doc)
        st[1] += len(toks)
    for source, doc, seq, pos in covered:
        st = per_src[source]
        st[2].add(doc)
        st[3] += 1
    return {s: (len(d - {None}), t, len(ds - {None}), r,
                r * 10000 // max(t, 1))
            for s, (d, t, ds, r) in per_src.items()}


def _model_exsub(rows, k):
    """Pure-Python exact_substring_scrub: a position is removed iff
    some k-gram instance covering it has >= 2 EXACT occurrences
    corpus-wide (instance count — the Lee-et-al. reduction); per-source
    (n_docs, total, docs_scrubbed, removed, bps) with every source
    present and bps = removed*10000 // max(total, 1)."""
    from collections import Counter

    grams = Counter()
    inst = []
    for source, doc, seq, toks in rows:
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p:p + k])
            grams[g] += 1
            inst.append((source, doc, seq, p, g))
    covered = set()
    for source, doc, seq, p, g in inst:
        if grams[g] >= 2:
            covered.update((source, doc, seq, pos)
                           for pos in range(p, p + k))
    return _scrub_manifest(rows, covered)


@SET
@given(seed=st.integers(0, 10_000))
def test_exact_substring_scrub_matches_model(spark, seed):
    """The two-phase (hash census -> exact verify) scrub must agree
    with the executable single-phase model on random tiny corpora over
    a 3-symbol alphabet at k=3 — heavy cross-doc, cross-shard, and
    intra-doc repeats, short/empty shards, and occasionally a source
    whose shards are ALL empty (total_tokens = 0: the greatest()
    denominator must yield 0 bps, not an ANSI divide-by-zero)."""
    import random

    from movement_spark.operators.dedup import exact_substring_scrub

    rng = random.Random(seed)
    # doc index 3 is a NULL doc_id: its positions scrub like any
    # other shard's, but countDistinct never counts it as a doc
    rows = [
        (f"s{rng.randrange(2)}", _doc_id(rng.randrange(4), null_at=3), i,
         [rng.randrange(3) for _ in range(rng.randrange(8))])
        for i in range(rng.randrange(1, 7))
    ]
    expected = _model_exsub(rows, k=3)
    toks = spark.createDataFrame(
        [(s, d, q, t, len(t)) for s, d, q, t in rows],
        "source string, doc_id string, seq int, tokens array<int>, "
        "n_tok int")
    got = {r["source"]: (r["n_docs"], r["total_tokens"],
                         r["docs_scrubbed"], r["removed_tokens"],
                         r["removed_bps"])
           for r in exact_substring_scrub(toks, k=3).collect()}
    assert got == expected


def _model_span_scrub(rows):
    """Pure-Python dup_span_scrub: a position is removed iff some
    covering trigram occurs in >= 2 DISTINCT docs (per-doc census —
    unlike the exact-substring scrub's instance count); per-source
    (n_docs, total, docs_scrubbed, removed, bps), every source present,
    bps = removed*10000 // max(total, 1)."""
    from collections import defaultdict

    docs_per_gram = defaultdict(set)
    inst = []
    for source, doc, seq, toks in rows:
        for p in range(len(toks) - 2):
            g = tuple(toks[p:p + 3])
            docs_per_gram[g].add(doc)
            inst.append((source, doc, seq, p, g))
    covered = set()
    for source, doc, seq, p, g in inst:
        if len(docs_per_gram[g]) >= 2:
            covered.update((source, doc, seq, pos)
                           for pos in range(p, p + 3))
    return _scrub_manifest(rows, covered)


@SET
@given(seed=st.integers(0, 10_000))
def test_dup_span_scrub_matches_model(spark, seed):
    """The span-scrub manifest must agree with the executable model on
    random tiny corpora over a 4-symbol alphabet — overlapping covered
    trigram unions, the per-DOC census (intra-doc repeats never
    scrub), cross-shard position keying, empty shards, and the
    all-empty source (0 bps via the total denominator)."""
    import random

    from movement_spark.operators.dedup import dup_span_scrub

    rng = random.Random(seed)
    # doc -> source is FUNCTIONAL (the tables' invariant): the census
    # counts (source, doc) rows per gram, which equals distinct docs
    # only under that invariant
    rows = []
    for i in range(rng.randrange(1, 7)):
        d = rng.randrange(5)  # d=4: a NULL doc_id (one census group)
        rows.append((f"s{d % 2}", _doc_id(d, null_at=4), i,
                     [rng.randrange(4) for _ in range(rng.randrange(8))]))
    expected = _model_span_scrub(rows)
    toks = spark.createDataFrame(
        [(s, d, q, t, len(t)) for s, d, q, t in rows],
        "source string, doc_id string, seq int, tokens array<int>, "
        "n_tok int")
    got = {r["source"]: (r["n_docs"], r["total_tokens"],
                         r["docs_scrubbed"], r["removed_tokens"],
                         r["removed_bps"])
           for r in dup_span_scrub(toks).collect()}
    assert got == expected


def _model_semdedup(vecs, k, iters, cos_p, cos_q):
    """Pure-Python semantic_dedup: Lloyd rounds (seeds = first k ids,
    integer L2, ties to lower cluster, floor means) then within-cluster
    integer-exact cosine pairs and keep-lowest-id pruning."""
    from collections import defaultdict

    q = {i: v for i, v in vecs}
    dim = len(vecs[0][1])
    cent = {c: list(q[c]) for c in range(k)}
    assigned = {}
    for _ in range(iters):
        assigned = {
            i: min((sum((x - y) ** 2 for x, y in zip(qv, cv)), c)
                   for c, cv in cent.items())[1]
            for i, qv in q.items()}
        members = defaultdict(list)
        for i, c in assigned.items():
            members[c].append(i)
        cent = {c: [sum(q[i][d] for i in ms) // len(ms)
                    for d in range(dim)]
                for c, ms in members.items()}
    out = {}
    members = defaultdict(list)
    for i, c in assigned.items():
        members[c].append(i)
    for c, ms in members.items():
        ms.sort()
        pairs, pruned = 0, set()
        for x in range(len(ms)):
            for y in range(x + 1, len(ms)):
                a, b = ms[x], ms[y]
                dot = sum(p * r for p, r in zip(q[a], q[b]))
                na = sum(p * p for p in q[a])
                nb = sum(p * p for p in q[b])
                if dot > 0 and dot * dot * cos_q * cos_q >= \
                        na * nb * cos_p * cos_p:
                    pairs += 1
                    pruned.add(b)
        out[c] = (len(ms), pairs, len(pruned),
                  len(pruned) * 10000 // len(ms))
    return out


@SET
@given(seed=st.integers(0, 10_000))
def test_semantic_dedup_matches_model(spark, seed):
    """semantic_dedup must agree with the executable model on random
    tiny corpora: integer coordinates in [-500, 500] divided by 1000
    are exactly recoverable through the float32 embedding column and
    round(x*1000), so the model runs on the identical quantized
    vectors. Small dim + a low threshold force hits, misses, dot<=0
    exclusions, uneven Lloyd clusters, and emptied seed clusters."""
    import random

    from movement_spark.operators.similarity import semantic_dedup

    rng = random.Random(seed)
    k = rng.randrange(2, 4)
    n = rng.randrange(k + 1, k + 9)
    iters = rng.randrange(1, 3)
    dim = rng.randrange(2, 4)
    vecs = [(i, [rng.randrange(-500, 501) for _ in range(dim)])
            for i in range(n)]
    expected = _model_semdedup(vecs, k, iters, 1, 4)
    emb = spark.createDataFrame(
        [(i, [x / 1000.0 for x in v], 0) for i, v in vecs],
        "vec_id bigint, embedding array<float>, label int")
    got = {r["cluster"]: (r["n_vecs"], r["n_pairs"], r["n_pruned"],
                          r["pruned_bps"])
           for r in semantic_dedup(emb, k=k, iters=iters).collect()}
    assert got == expected


def _model_novelty(docs):
    """Pure-Python doc_novelty_scores: per doc, distinct word bigrams;
    a gram's first occurrence belongs to the min doc_id holding it;
    novelty_bps = (novel * 10000) // n_grams. Docs under 2 words drop."""
    per_doc = {}
    for did, text in docs:
        w = text.split(" ")
        if len(w) < 2:
            continue
        per_doc[did] = {f"{w[i - 1]} {w[i]}" for i in range(1, len(w))}
    first = {}
    for did in sorted(per_doc):
        for g in per_doc[did]:
            first.setdefault(g, did)
    return {did: (len(g), sum(1 for x in g if first[x] == did),
                  (sum(1 for x in g if first[x] == did) * 10000) // len(g))
            for did, g in per_doc.items()}


@SET
@given(seed=st.integers(0, 10_000))
def test_doc_novelty_matches_model(spark, seed):
    """The rewritten split-aggregate novelty operator must agree with
    the executable model on random tiny corpora over a 4-word alphabet
    (tiny vocab forces heavy cross-doc bigram collisions, exercising
    first-occurrence ties, zero-novelty docs, and the <2-word drop)."""
    import random

    from movement_spark.operators.dedup import doc_novelty_scores

    rng = random.Random(seed)
    docs = [
        (i, " ".join(f"w{rng.randrange(4)}"
                     for _ in range(rng.randrange(7))))
        for i in range(rng.randrange(1, 8))
    ]
    expected = _model_novelty(docs)
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_bps"])
           for r in doc_novelty_scores(df).collect()}
    assert got == expected


def _model_percentile_cut(docs):
    """Pure-Python source_percentile_cut: mwl = floor((chars - words
    + 1) * 1000 / words); per-source exact interpolated median
    (quantile_cont); keep mwl >= median."""
    import math
    from collections import defaultdict
    by_src = defaultdict(list)
    for _did, src, text in docs:
        w = text.split(" ")
        by_src[src].append(
            math.floor((len(text) - len(w) + 1) * 1000 / len(w)))
    out = {}
    for src, vals in by_src.items():
        xs = sorted(vals)
        pos = (len(xs) - 1) * 0.5
        lo, hi = int(pos), min(int(pos) + 1, len(xs) - 1)
        med = xs[lo] + (pos - lo) * (xs[hi] - xs[lo])
        kept = sum(1 for v in vals if v >= med)
        out[src] = (len(vals), kept, (kept * 10000) // len(vals),
                    float(med))
    return out


@SET
@given(seed=st.integers(0, 10_000))
def test_source_percentile_cut_matches_model(spark, seed):
    """The per-source exact-median gate must agree with the executable
    model on random tiny corpora — exercises interpolated medians on
    even counts, all-equal sources (everything keeps), and 1-doc
    sources (the doc IS its median)."""
    import random

    from movement_spark.operators.text import source_percentile_cut

    rng = random.Random(seed)
    docs = [
        (i, f"s{rng.randrange(3)}",
         " ".join("w" * rng.randrange(1, 7)
                  for _ in range(rng.randrange(1, 6))))
        for i in range(rng.randrange(1, 10))
    ]
    expected = _model_percentile_cut(docs)
    df = spark.createDataFrame(docs, "doc_id bigint, source string, "
                                     "text string")
    got = {r["source"]: (r["n_docs"], r["n_kept"], r["kept_bps"],
                         r["med_mwl"])
           for r in source_percentile_cut(df).collect()}
    assert got == expected


def _model_top_ngram(shards, tok_mod):
    """Pure-Python top_ngram_fraction: per doc, the count of its most
    frequent within-shard bigram ×2×1000 int-div total tokens, folded
    per source. Docs whose every shard has < 2 tokens are out of
    scope. Packing mirrors packed_bigram_expr exactly: a*tok_mod + b
    over RAW ids (injective for ids < tok_mod — no wrap)."""
    from collections import Counter, defaultdict
    grams = defaultdict(Counter)
    totals = defaultdict(int)
    for src, did, toks in shards:
        totals[(src, did)] += len(toks)
        for a, b in zip(toks, toks[1:]):
            grams[(src, did)][a * tok_mod + b] += 1
    per_src = defaultdict(list)
    for key, ctr in grams.items():
        frac = (max(ctr.values()) * 2 * 1000) // totals[key]
        per_src[key[0]].append(frac)
    return {s: (len(fr), sum(1 for f in fr if f >= 150), sum(fr), max(fr))
            for s, fr in per_src.items()}


@SET
@given(seed=st.integers(0, 10_000))
def test_top_ngram_fraction_matches_model(spark, seed):
    """Gopher's top-n-gram repetition rule must agree with the model on
    random shard sets over a 3-token alphabet (heavy bigram repeats,
    self-overlap fractions > 1000, sub-2-token shards)."""
    import random

    from movement_spark.operators.text import top_ngram_fraction

    rng = random.Random(seed)
    shards = [
        (f"s{rng.randrange(2)}", rng.randrange(3),
         [rng.randrange(3) for _ in range(rng.randrange(6))])
        for _ in range(rng.randrange(1, 8))
    ]
    expected = _model_top_ngram(shards, tok_mod=50261)
    df = spark.createDataFrame(
        [(s, d, t, len(t)) for s, d, t in shards],
        "source string, doc_id int, tokens array<int>, n_tok int")
    got = {r["source"]: (r["n_docs"], r["n_flagged"],
                         r["sum_frac_x1000"], r["max_frac_x1000"])
           for r in top_ngram_fraction(df).collect()}
    assert got == expected


@SET
@given(seed=st.integers(0, 10_000))
def test_source_cap_matches_model(spark, seed):
    """The salted two-phase cap must equal the direct global top-cap
    model — the operator's whole correctness claim is that phase 1
    (top-cap inside each salt bucket) never discards a final keeper.
    Random sparse doc_ids vary the salt-bucket occupancy; char masses
    check WHICH docs were kept, not just how many."""
    import random

    from movement_spark.operators.dataset import (
        CAP_PER_KEY, CAP_PRI_ADD, CAP_PRI_MOD, CAP_PRI_MULT,
        source_cap_manifest)

    rng = random.Random(seed)
    ids = rng.sample(range(10_000), rng.randrange(1, 20))
    docs = [(did, f"s{rng.randrange(2)}", f"l{rng.randrange(2)}",
             rng.randrange(1, 500)) for did in ids]

    groups = {}
    for did, src, lang, n_chars in docs:
        pri = (did * CAP_PRI_MULT + CAP_PRI_ADD) % CAP_PRI_MOD
        groups.setdefault((src, lang), []).append((pri, did, n_chars))
    expected = {}
    for k, rows in groups.items():
        rows.sort()
        kept = rows[:CAP_PER_KEY]
        expected[k] = (len(rows), len(kept), len(rows) - len(kept),
                       sum(r[2] for r in kept), sum(r[2] for r in rows))

    df = spark.createDataFrame(
        [(d, s, lg, c, f"t{d}") for d, s, lg, c in docs],
        "doc_id bigint, source string, lang string, n_chars bigint, "
        "text string")
    got = {(r["source"], r["lang"]): (r["n_docs"], r["n_kept"],
                                      r["n_dropped"], r["sum_chars_kept"],
                                      r["sum_chars"])
           for r in source_cap_manifest(df).collect()}
    assert got == expected


def test_shard_hash_independent_of_split_bucket():
    """The shuffled-shard hash must use a DISTINCT MULTIPLIER from the
    train/val/test split hash: with a shared multiplier the two hashes
    differ by a constant, and since that constant and 100 are both
    divisible by 4, shard % 4 was fully determined by the split bucket
    — every split bucket's docs confined to 4 of the 16 shards. With
    independent hashes each bucket's ~200 docs (of 20k) must reach ALL
    shards. Oracle-invisible bug class (DuckDB mirrors the same
    formula), so this model check is the only gate."""
    from movement_spark.operators.dataset import (
        N_SHARDS, SHUFFLE_A, SHUFFLE_B, SPLIT_A, SPLIT_B, SPLIT_P)

    assert SHUFFLE_A != SPLIT_A, "shard hash must not share the split multiplier"
    reach: dict[int, set[int]] = {}
    for doc_id in range(20_000):
        bucket = ((doc_id * SPLIT_A + SPLIT_B) % SPLIT_P) % 100
        shard = ((doc_id * SHUFFLE_A + SHUFFLE_B) % SPLIT_P) % N_SHARDS
        reach.setdefault(bucket, set()).add(shard)
    starved = {b: sorted(s) for b, s in reach.items() if len(s) < N_SHARDS}
    assert not starved, f"split buckets confined to a shard subset: {starved}"


def test_dsir_zero_target_lang_tokens_degrades_not_crashes(spark):
    """A corpus with ZERO target-lang tokens must yield ratio 0
    everywhere (nothing selected), not DIVIDE_BY_ZERO under ANSI —
    tot_tgt is 0 there, and the fixture always contains target-lang
    docs so neither oracle parity nor the empty-table sweep reaches
    this branch."""
    from movement_spark.operators.dataset import dsir_importance_weights

    docs = spark.createDataFrame(
        [(i, "s0", "de", 20, "ein kurzer text hier") for i in range(6)],
        "doc_id bigint, source string, lang string, n_chars int, "
        "text string")
    rows = dsir_importance_weights(docs, target_lang="en").collect()
    assert rows, "per-lang manifest must still be emitted"
    assert all(r["n_selected"] == 0 and r["sum_avg_ppm"] == 0
               for r in rows)
