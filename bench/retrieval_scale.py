#!/usr/bin/env python3
"""Measured scale evidence for the round-4 retrieval additions:
hybrid_rrf_topk (two-leg fusion: BM25 + hashed-BoW dense), the dense
leg alone (scan-bound), mmr_diversified_topk (pool-bounded greedy
re-rank over a growing corpus), and ivf_filtered_topk vs the
unfiltered IVF search at the same nprobe.

Document corpus: the textops_scale generator (30-word docs over a
1024-word vocab with three rare query terms qa/qb/qc) so the BM25 leg
exercises its scan-level prune. Vector corpus: the ann_scale clustered
generator with an ORTHOGONAL int label (vec_id % 10) — the realistic
filtered-search case where the predicate attribute (language, license)
does NOT align with the vector clusters, so filtering genuinely thins
every probed list instead of riding the centroid structure.

Claims measured, not asserted:
- the dense leg is scan-bound (docs/s flat-ish across 10×);
- hybrid fusion costs ≈ the sum of its legs (the ≤2R-row fusion join
  is free);
- MMR's greedy unroll is corpus-size-independent: its wall tracks the
  candidate-generation scan, so (mmr_sec − brute-pool_sec) stays flat
  across a 10× corpus;
- filtered IVF at the same nprobe costs no more than unfiltered (the
  predicate drops candidates BEFORE the ranking window) while
  returning only matching-label rows.

Writes BENCH/retrieval_scale.json and a marked section in
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402
from pyspark.sql.window import Window                            # noqa: E402

from movement_spark.operators.similarity import (                # noqa: E402
    _dot, ivf_assign, ivf_assign_arrow, ivf_filtered_topk, ivf_search,
    ivf_topk,
    mmr_diversified_topk, quantized,
)
from movement_spark.operators.text import (                      # noqa: E402
    bm25_topk, hashed_bow_topk, hybrid_rrf_topk,
)
from movement_spark.session import get_spark                     # noqa: E402

SECTION_START = "<!-- retrieval_scale:start -->"
SECTION_END = "<!-- retrieval_scale:end -->"

P = 2_147_483_647
QUERY_TERMS = ("qa", "qb", "qc")
HYB_R = 50
DIM = 32
N_CLUSTERS = 256
MMR_POOL = 8
MMR_K = 3
N_QUERIES = 4


def text_corpus(spark: SparkSession, n_docs: int) -> DataFrame:
    """Same shape as bench/textops_scale.py's generator."""
    u = "((did * 2654435761L + i * 48271L) % 2147483647L)"
    word = (f"case when {u} % 1000 < 2 then 'qa' "
            f"when {u} % 500 = 0 then 'qb' "
            f"when {u} % 200 = 0 then 'qc' "
            f"else concat('w', {u} % 1024) end")
    return (
        spark.range(n_docs).selectExpr("id as did")
        .selectExpr(
            "did as doc_id",
            "if(did % 2 = 0, 's0', concat('s', 1 + did % 127)) as source",
            "if(did % 2 = 0, 'l0', concat('l', did % 4)) as lang",
            "cast(100 + did % 400 as bigint) as n_chars",
            f"array_join(transform(sequence(0, cast(20 + did % 21 as int)"
            f" - 1), i -> {word}), ' ') as text",
        )
    )


def vec_corpus(spark: SparkSession, n_vecs: int, dim: int = DIM,
               n_clusters: int = N_CLUSTERS) -> DataFrame:
    """Clustered float vectors (ann_scale generator) with an ORTHOGONAL
    int label (vec_id % 10): the filter attribute must not align with
    the vector clusters or the filtered-search cost is vacuous."""
    center = (f"(cast((cast(c as bigint) * 1103515245"
              f" + j * 2654435761) % {P} as double)"
              f" / {P} - 0.5)")
    noise = (f"(cast((id * 48271 + j * 69621) % {P} as double)"
             f" / {P} - 0.5) * 0.1")
    return (
        spark.range(n_vecs)
        .selectExpr("id", f"cast(id % {n_clusters} as int) as c")
        .selectExpr(
            "id as vec_id",
            "cast(id % 10 as int) as label",
            f"transform(sequence(0, {dim - 1}), j -> "
            f"  cast({center} + {noise} as float)) as embedding",
        )
    )


def _run_pool_stage(emb: DataFrame, n_queries: int, pool: int) -> None:
    """ONLY the candidate-generation stage mmr runs first (the brute
    pool scan + per-query top-pool window) — timed as its own form so
    the greedy unroll's cost is the difference of medians."""
    q = quantized(emb)
    queries = q.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qv"))
    scored = (q.crossJoin(F.broadcast(queries))
              .where(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id", "q",
                      _dot("q", "qv").alias("rel")))
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"),
                                               F.asc("vec_id"))
    n = (scored.withColumn("_rn", F.row_number().over(w))
         .where(F.col("_rn") <= pool).count())
    assert n == n_queries * pool


def _materialize_count(df: DataFrame) -> int:
    df = df.persist()
    try:
        return df.count()
    finally:
        df.unpersist()


def interleaved_medians(forms: dict, rounds: int = 3) -> dict:
    """Per-form median over interleaved rounds (CLAUDE.md protocol:
    back-to-back single shots measured the same plan at 107.9 s then
    36.9 s — ordering/warm-up effects only cancel across rounds)."""
    times: dict[str, list] = {k: [] for k in forms}
    for _ in range(rounds):
        for k, fn in forms.items():
            t0 = time.perf_counter()
            fn()
            times[k].append(time.perf_counter() - t0)
    return {k: sorted(v)[len(v) // 2] for k, v in times.items()}


def _materialize(df: DataFrame, tag: str) -> tuple:
    """Write the generated frame to parquet and read it back — timing a
    lazily generated frame charges each form a different number of
    generator recomputes (CLAUDE.md form-comparison rule)."""
    d = tempfile.mkdtemp(prefix=f"ms_retr_{tag}_")
    df.write.mode("overwrite").parquet(d)
    return df.sparkSession.read.parquet(d), d


def run_doc_level(spark: SparkSession, n_docs: int) -> dict:
    docs, d = _materialize(text_corpus(spark, n_docs), "docs")
    med = interleaved_medians({
        "dense": lambda: hashed_bow_topk(
            docs, terms=QUERY_TERMS, k=HYB_R).collect(),
        "bm25": lambda: bm25_topk(
            docs, terms=QUERY_TERMS, k=HYB_R).collect(),
        "hybrid": lambda: hybrid_rrf_topk(
            docs, terms=QUERY_TERMS, r=HYB_R, k=10).collect(),
    })
    shutil.rmtree(d, ignore_errors=True)
    return {
        "n_docs": n_docs,
        "dense_leg_sec": round(med["dense"], 1),
        "dense_docs_per_sec": round(n_docs / med["dense"], 1),
        "bm25_leg_sec": round(med["bm25"], 1),
        "hybrid_sec": round(med["hybrid"], 1),
        "hybrid_docs_per_sec": round(n_docs / med["hybrid"], 1),
        "fusion_overhead_sec": round(
            med["hybrid"] - med["dense"] - med["bm25"], 1),
    }


def run_vec_level(spark: SparkSession, n_vecs: int) -> dict:
    # lay the corpus out as <dir>/embeddings.parquet so the streaming
    # ingest runner (which reads the codebook from an sf_dir layout)
    # and the batch forms share one materialized input
    sf_tmp = tempfile.mkdtemp(prefix="ms_retr_sf_")
    vec_corpus(spark, n_vecs).write.mode("overwrite").parquet(
        os.path.join(sf_tmp, "embeddings.parquet"))
    emb = spark.read.parquet(os.path.join(sf_tmp, "embeddings.parquet"))
    d = sf_tmp
    counts: dict[str, int] = {}

    def _unf():
        counts["unf"] = ivf_topk(emb, n_queries=10, k=10,
                                 n_centroids=N_CLUSTERS, nprobe=2).count()

    def _fil():
        counts["fil"] = ivf_filtered_topk(
            emb, n_queries=10, k=10, n_centroids=N_CLUSTERS,
            nprobe=2).count()

    def _mmr():
        counts["mmr"] = len(mmr_diversified_topk(
            emb, n_queries=N_QUERIES, pool=MMR_POOL, k=MMR_K).collect())

    # the amortized production read path: search against a PERSISTED
    # index (build excluded — it amortizes over every query batch).
    # JVM only: an Arrow gather+einsum search form was built and
    # MEASURED SLOWER (1M vecs, nprobe=2: 10-query batch 1.6 s JVM vs
    # 1.9 s Arrow; 1000-query batch 6.8 s vs 8.1 s) — unlike the
    # build, search ships each corpus vector once PER (query, probe)
    # pairing, so the Arrow boundary's flat-column serialization
    # outweighs the einsum win and the plan is shuffle/window-bound,
    # not lambda-bound. The form was removed; this note is the
    # evidence for why only the BUILD has an Arrow path.
    index_df, index_dir = _materialize(
        ivf_assign_arrow(emb, n_centroids=N_CLUSTERS), "idx")

    def _sjvm():
        counts["sjvm"] = ivf_search(
            index_df, N_CLUSTERS, n_queries=10, k=10, nprobe=2).count()

    med = interleaved_medians({
        "pool": lambda: _run_pool_stage(emb, N_QUERIES, MMR_POOL),
        "mmr": _mmr,
        "ivf_unf": _unf,
        "ivf_fil": _fil,
        "search_jvm": _sjvm,
        # persist+count+unpersist: a bare count() lets Catalyst PRUNE
        # the argmin projection entirely (measured 1.5 s for a "build"
        # the persisted form runs in ~80 s) — materialize the full
        # index like ann_scale does, or the comparison measures a
        # filtered count, not the build
        "build_jvm": lambda: _materialize_count(
            ivf_assign(emb, n_centroids=N_CLUSTERS)),
        "build_arrow": lambda: _materialize_count(
            ivf_assign_arrow(emb, n_centroids=N_CLUSTERS)),
    })
    shutil.rmtree(index_dir, ignore_errors=True)
    # streaming ANN ingest throughput: pre-staged chunks (staging cost
    # excluded — production ingests from an existing landing zone),
    # one timed end-to-end run incl. the sink read-back fold
    from movement_spark.streaming.pipeline import (
        run_streaming_ann_ingest, stage_embedding_stream)
    ingest_stage = tempfile.mkdtemp(prefix="ms_retr_ing_")
    # 64 chunks: micro-batch parallelism for a stateless file-source
    # pipeline IS the file count — 16 files capped the argmin at half
    # the machine (measured 5.3k vecs/s; the batch build on the same
    # corpus does 12.8k on full local[32])
    stage_embedding_stream(spark, sf_tmp, ingest_stage, n_chunks=64)
    ing = {}
    for mode in ("jvm", "arrow"):
        t0 = time.perf_counter()
        manifest = run_streaming_ann_ingest(
            spark, sf_tmp, n_centroids=N_CLUSTERS, stage_dir=ingest_stage,
            sink_dir=tempfile.mkdtemp(prefix="ms_retr_ingsink_"),
            checkpoint_dir=tempfile.mkdtemp(prefix="ms_retr_ingck_"),
            assign=mode)
        n_assigned = manifest.agg(F.sum("n_vecs")).collect()[0][0]
        ing[mode] = time.perf_counter() - t0
        assert n_assigned == n_vecs
    # arrow is the deployed ingest default (pipeline.py) — report it as
    # the headline; the jvm oracle form stays as the comparison row
    ingest_mode = "arrow"
    t_ing = ing[ingest_mode]
    shutil.rmtree(ingest_stage, ignore_errors=True)

    shutil.rmtree(d, ignore_errors=True)
    assert counts["mmr"] == N_QUERIES * MMR_K
    return {
        "n_vecs": n_vecs,
        "build_jvm_sec": round(med["build_jvm"], 1),
        "build_arrow_sec": round(med["build_arrow"], 1),
        "build_speedup": round(med["build_jvm"]
                               / max(med["build_arrow"], 1e-9), 1),
        # the mode the two unsuffixed keys measure, so rounds compare
        # like with like
        "ann_ingest_mode": ingest_mode,
        "ann_ingest_sec": round(t_ing, 1),
        "ann_ingest_vecs_per_sec": round(n_vecs / t_ing, 1),
        # primary = arrow (the deployed default); jvm is the
        # engine-portable oracle form kept as the comparison row
        "ann_ingest_jvm_sec": round(ing["jvm"], 1),
        "ann_ingest_jvm_vecs_per_sec": round(n_vecs / ing["jvm"], 1),
        "mmr_pool_stage_sec": round(med["pool"], 1),
        "mmr_total_sec": round(med["mmr"], 1),
        "mmr_greedy_overhead_sec": round(med["mmr"] - med["pool"], 1),
        "mmr_vecs_per_sec": round(n_vecs / med["mmr"], 1),
        "ivf_unfiltered_sec": round(med["ivf_unf"], 1),
        "ivf_unfiltered_rows": counts["unf"],
        "ivf_filtered_sec": round(med["ivf_fil"], 1),
        "ivf_filtered_rows": counts["fil"],
        "search_persisted_sec": round(med["search_jvm"], 1),
    }


def main() -> None:
    doc_levels = [int(x) for x in os.environ.get(
        "MS_RETR_LEVELS", "1000000,10000000").split(",") if x]
    vec_levels = [int(x) for x in os.environ.get(
        "MS_RETR_VEC_LEVELS", "100000,1000000").split(",") if x]
    spark = get_spark(
        app_name="ms_retrieval_scale", master="local[32]",
        extra_conf={
            "spark.sql.shuffle.partitions": "64",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    def _calibrate() -> float:
        vals = []
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(200_000_000).selectExpr(
                "sum(id * 2654435761L % 1000003) AS s").collect()
            vals.append(time.perf_counter() - t0)
        return round(sorted(vals)[1], 3)

    calib_pre = _calibrate()
    doc_rows, vec_rows = [], []
    for n in doc_levels:
        r = run_doc_level(spark, n)
        doc_rows.append(r)
        print(json.dumps(r))
    for n in vec_levels:
        r = run_vec_level(spark, n)
        vec_rows.append(r)
        print(json.dumps(r))
    calib_post = _calibrate()
    spark.stop()

    # a level axis skipped via env (dev re-runs of one axis) reuses the
    # previous JSON's rows so the section stays complete
    json_path = os.path.join(REPO, "BENCH", "retrieval_scale.json")
    if (not doc_rows or not vec_rows) and os.path.exists(json_path):
        with open(json_path) as f:
            prev = json.load(f)
        doc_rows = doc_rows or prev.get("doc_levels", [])
        vec_rows = vec_rows or prev.get("vec_levels", [])

    result = {
        "generated_at": datetime.now(timezone.utc).isoformat(),
        "calibration_sec_pre": calib_pre,
        "calibration_sec_post": calib_post,
        "doc_levels": doc_rows,
        "vec_levels": vec_rows,
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "retrieval_scale.json"),
              "w") as f:
        json.dump(result, f, indent=2)

    dh = "| docs | dense leg (s) | dense docs/s | BM25 leg (s) | hybrid (s) | fusion overhead (s) |"
    ds = "|---|---|---|---|---|---|"
    dl = [f"| {r['n_docs']:,} | {r['dense_leg_sec']} | "
          f"{r['dense_docs_per_sec']:,.0f} | {r['bm25_leg_sec']} | "
          f"{r['hybrid_sec']} | {r['fusion_overhead_sec']} |"
          for r in doc_rows]
    vh = ("| vectors | MMR pool stage (s) | MMR total (s) | greedy overhead (s) "
          "| IVF nprobe=2 (s) | filtered (s) | rows unf/fil |")
    vs = "|---|---|---|---|---|---|---|"
    vl = [f"| {r['n_vecs']:,} | {r['mmr_pool_stage_sec']} | "
          f"{r['mmr_total_sec']} | {r['mmr_greedy_overhead_sec']} | "
          f"{r['ivf_unfiltered_sec']} | {r['ivf_filtered_sec']} | "
          f"{r['ivf_unfiltered_rows']}/{r['ivf_filtered_rows']} |"
          for r in vec_rows]
    bh = ("| vectors | build JVM (s) | build Arrow (s) | speedup "
          "| search persisted-idx (s) "
          "| ingest Arrow=default (s) | Arrow vecs/s "
          "| ingest JVM (s) | JVM vecs/s |")
    bs = "|---|---|---|---|---|---|---|---|---|"
    bl = [f"| {r['n_vecs']:,} | {r['build_jvm_sec']} | "
          f"{r['build_arrow_sec']} | {r['build_speedup']}× | "
          f"{r['search_persisted_sec']} | "
          f"{r['ann_ingest_sec']} | {r['ann_ingest_vecs_per_sec']:,.0f} | "
          f"{r['ann_ingest_jvm_sec']} | "
          f"{r['ann_ingest_jvm_vecs_per_sec']:,.0f} |"
          for r in vec_rows]
    bd, bv = doc_rows[-1], vec_rows[-1]
    section = f"""{SECTION_START}
## Retrieval family at scale (measured, {result['generated_at']})

hybrid_rrf_topk / hashed_bow_topk / mmr_diversified_topk /
ivf_filtered_topk on the textops document generator (30-word docs,
rare query terms) and the ann_scale clustered vector generator with an
ORTHOGONAL vec_id%10 label, local[32], calibration pre/post
{calib_pre}/{calib_post} s:

{dh}
{ds}
{chr(10).join(dl)}

{vh}
{vs}
{chr(10).join(vl)}

{bh}
{bs}
{chr(10).join(bl)}

- The dense leg is scan-bound ({bd['dense_docs_per_sec']:,.0f} docs/s
  at {bd['n_docs']:,} docs): the hashed-BoW dot is one codegen
  aggregate per doc against the constant query vector — no explode, no
  shuffle before the bounded top-R.
- Hybrid fusion adds nothing beyond its legs: overhead
  (hybrid − dense − bm25) is {doc_rows[0]['fusion_overhead_sec']} s at
  {doc_rows[0]['n_docs']:,} docs and {bd['fusion_overhead_sec']} s at
  {bd['n_docs']:,} — the fusion join itself sees ≤2R = {2 * HYB_R}
  rows at any corpus size, and in the one-job form the two leg
  subtrees schedule as CONCURRENT stages, so a negative overhead means
  the overlap beat running the legs back-to-back.
- MMR's greedy unroll is corpus-size-independent as designed: the
  k={MMR_K}-step overhead is {vec_rows[0]['mmr_greedy_overhead_sec']} s
  at {vec_rows[0]['n_vecs']:,} and {bv['mmr_greedy_overhead_sec']} s at
  {bv['n_vecs']:,} vectors — the wall tracks the candidate-generation
  scan (pool stage), exactly the *_rerank composition contract.
- The JVM index build is compute-bound on the 256-centroid
  interpreted higher-order-function dot loop (Catalyst does not
  codegen lambda bodies — the pq_encode class of bound);
  ivf_assign_arrow does the same exact int64 argmax as one numpy
  matmul per Arrow batch and builds the identical index (pinned by
  test_ivf_assign_arrow_matches_jvm) {bv['build_speedup']}× faster at
  {bv['n_vecs']:,} vectors ({bv['build_jvm_sec']} →
  {bv['build_arrow_sec']} s).
- The SEARCH side does NOT carry that bound: over a persisted index
  (the amortized read path) the 10-query nprobe=2 batch completes in
  {bv['search_persisted_sec']} s at {bv['n_vecs']:,} vectors — the
  end-to-end ivf walls above are ~all index BUILD, which the oracle
  queries deliberately include to stay self-contained. An Arrow
  gather+einsum search form was built and measured SLOWER (1000-query
  batch: 6.8 s JVM vs 8.1 s Arrow) — search ships each corpus vector
  once per (query, probe) pairing, so the Arrow boundary's
  serialization outweighs the einsum win; the plan is shuffle-bound.
  The form was removed: only the BUILD (one ship per vector, matmul
  against a broadcast codebook) clears the Arrow-boundary bar.
- Streaming ANN ingest inherits the same bound and the same fix: the
  stateless per-micro-batch assignment (no state store, no watermark,
  no stream-side shuffle) runs {bv['ann_ingest_vecs_per_sec']:,.0f}
  vecs/s with assign="arrow" (the deployed DEFAULT since round 5) vs
  {bv['ann_ingest_jvm_vecs_per_sec']:,.0f} vecs/s on the
  engine-portable JVM form the registered oracle query pins, at
  {bv['n_vecs']:,} vectors, end-to-end incl. the exactly-once sink
  write and read-back fold (manifests identical —
  test_ann_ingest_arrow_equals_jvm); micro-batch parallelism equals
  the staged-file count.
- Filtered IVF at the same nprobe costs about the unfiltered search
  ({bv['ivf_filtered_sec']} vs {bv['ivf_unfiltered_sec']} s at
  {bv['n_vecs']:,}): the label predicate drops candidates BEFORE the
  ranking window, so the filter buys selectivity without a join back
  to the corpus ({bv['ivf_filtered_rows']} matching-label rows vs
  {bv['ivf_unfiltered_rows']} unfiltered).
{SECTION_END}"""

    md_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    md = open(md_path).read() if os.path.exists(md_path) else ""
    if SECTION_START in md and SECTION_END in md:
        md = (md.split(SECTION_START)[0] + section
              + md.split(SECTION_END)[1])
    else:
        md = md.rstrip() + "\n\n" + section + "\n"
    with open(md_path, "w") as f:
        f.write(md)


if __name__ == "__main__":
    main()
