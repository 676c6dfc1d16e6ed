"""sf1 evidence run: flagship + dedup family at 10x the sf0.1 corpus.

Partition-count cliffs (too-few input splits, single-block codepaths,
driver-side materializations) scale with DATA, not with query logic —
passing at sf0.1 does not prove sf1. This job synthesizes an
sf1-equivalent corpus (deterministic 10x replication of the sf0.1
tables with key offsets — same generator-derived geo/text semantics,
no external data) into a scratch dir, runs the flagship spatial join
and the dedup family on it under the SHIPPED session config (12g local
JVM), and writes one markdown evidence table.

    python -m osm_io_spark.jobs.sf1_evidence --out BENCH/SF1.md

Each query reports wall seconds + output rows; completing at all is the
OOM/cliff evidence, the timings are the throughput record.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from pyspark.sql import functions as F

from ..session import get_spark

SRC = "/root/testdata/sf0.1"
REPL = 10


def _write_nation(spark, out_dir: str) -> None:
    """10x nation replica (r5-final addition: the distance-join /
    IDW site table) — written separately so pre-existing _DONE dirs
    from earlier rounds pick it up on the next run."""
    reps = spark.range(REPL).select(F.col("id").alias("_r"))
    na = spark.read.parquet(f"{SRC}/nation.parquet").select("n_nationkey")
    na_max = na.agg(F.max("n_nationkey")).collect()[0][0] + 1
    (na.crossJoin(F.broadcast(reps))
     .select((F.col("n_nationkey") + F.col("_r") * na_max)
             .alias("n_nationkey"))
     .repartition(4)
     .write.mode("overwrite").parquet(f"{out_dir}/nation.parquet"))


def synthesize(spark, out_dir: str) -> None:
    """10x replicas with shifted keys; parquet written once, reused."""
    done_flag = os.path.join(out_dir, "_DONE")
    if os.path.exists(done_flag):
        if not os.path.exists(os.path.join(out_dir, "nation.parquet")):
            _write_nation(spark, out_dir)
        return
    os.makedirs(out_dir, exist_ok=True)
    reps = spark.range(REPL).select(F.col("id").alias("_r"))

    li = spark.read.parquet(f"{SRC}/lineitem.parquet") \
        .select("l_orderkey", "l_linenumber")
    li_max = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    (li.crossJoin(F.broadcast(reps))
     .select((F.col("l_orderkey") + F.col("_r") * li_max).alias("l_orderkey"),
             "l_linenumber")
     .repartition(64)
     .write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet"))

    pt = spark.read.parquet(f"{SRC}/part.parquet").select("p_partkey")
    pt_max = pt.agg(F.max("p_partkey")).collect()[0][0] + 1
    # keep p_partkey % 10 residues intact (the polygon-family selectors)
    pt_step = ((pt_max + 9) // 10) * 10
    (pt.crossJoin(F.broadcast(reps))
     .select((F.col("p_partkey") + F.col("_r") * pt_step).alias("p_partkey"))
     .repartition(16)
     .write.mode("overwrite").parquet(f"{out_dir}/part.parquet"))

    docs = spark.read.parquet(f"{SRC}/documents.parquet") \
        .select("doc_id", "text")
    (docs.crossJoin(F.broadcast(reps))
     .select((F.col("doc_id") + F.col("_r") * 10_000).alias("doc_id"), "text")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/documents.parquet"))

    ev = spark.read.parquet(f"{SRC}/events.parquet") \
        .select("event_id", "event_type")
    ev_max = ev.agg(F.max("event_id")).collect()[0][0] + 1
    ev_step = ((ev_max + 49) // 50) * 50   # keep event_id % 50 residues
    (ev.crossJoin(F.broadcast(reps))
     .select((F.col("event_id") + F.col("_r") * ev_step).alias("event_id"),
             "event_type")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/events.parquet"))

    emb = spark.read.parquet(f"{SRC}/embeddings.parquet") \
        .select("vec_id", "embedding")
    (emb.crossJoin(F.broadcast(reps))
     .select((F.col("vec_id") + F.col("_r") * 10_000).alias("vec_id"),
             "embedding")
     .repartition(32)
     .write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet"))

    _write_nation(spark, out_dir)
    open(done_flag, "w").close()


def run(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default="/tmp/osm_io_spark_sf1")
    ap.add_argument("--out", default=None, help="markdown evidence file")
    ap.add_argument("--cpus", default=None)
    ap.add_argument("--ngram-optin", action="store_true",
                    help="also time the exact quadratic ngram join "
                         "(max_candidate_pairs=None) past the guard")
    args = ap.parse_args(argv)

    spark = get_spark("sf1-evidence", master=(
        f"local[{args.cpus}]" if args.cpus else None))
    spark.sparkContext.setLogLevel("ERROR")

    synthesize(spark, args.dir)

    from .. import queries as Q

    names = [
        "j7_spatial_cell_join", "entry_flagship",
        "dedup_exact", "dedup_minhash_lsh", "dedup_simhash",
        "dedup_ngram_jaccard", "dedup_phash_hamming", "text_vocab",
        "o2_global_order",
        # round-2 additions: connected components over the (replica-
        # dense) pair graph, the full curation decision, sampling,
        # chunking — the training-pipeline spine at 10x
        "dedup_clusters", "corpus_curation", "sample_mixture",
        "text_chunks",
        # round-4 additions: packed-sequence slicing (global prefix sum
        # at 10x) and exact-substring spans (linear window volume at a
        # duplicate-saturated 10x corpus — the no-guard-needed claim)
        "pack_sequences", "dedup_substring",
        # round-5-final additions: the spatial analytics layer at 10x
        # (zonal/coverage over the 6M-row probe; overlap's cover fan-
        # out; geohash pure projection; IDW's one-scan value join)
        "zonal_stats", "coverage_audit", "overlap_join",
        "tile_geohash", "idw_interpolation",
    ]
    fns = dict(Q.QUERIES)
    fns["entry_flagship"] = Q.q_entry_flagship

    results = {}

    def timed(name, fn):
        (dt,), n = Q.time_runs(fn, 1)
        dt = round(dt, 2)
        results[name] = {"s": dt, "rows": n}
        print(f"# {name}: {dt}s rows={n}", flush=True)
        return n

    for name in names:
        if name == "dedup_ngram_jaccard":
            # at 10x the candidate-volume guard fires BY DESIGN
            # (measured crossover: 156s exact vs 13.7s minhash) — the
            # routed row records the guard + the scale route's timing;
            # --ngram-optin re-times the exact quadratic run
            t0 = time.perf_counter()
            try:
                rows = fns[name](spark, args.dir).count()
                results[name] = {
                    "s": round(time.perf_counter() - t0, 2), "rows": rows}
            except ValueError as e:
                dt = round(time.perf_counter() - t0, 2)
                results[name] = {
                    "s": dt, "rows": None,
                    "guard": "candidate-volume guard raised; "
                             "scale route = dedup_minhash_lsh"}
                print(f"# {name}: guard raised in {dt}s — routed to "
                      f"minhash ({e})", flush=True)
            if args.ngram_optin:
                # IDENTICAL workload to the routed registry row (the
                # partial-duplication corpus, same n/min_pct) with the
                # guard lifted — the routed-vs-exact contrast is
                # apples-to-apples; both exact methods timed (this
                # corpus is duplicate-SATURATED: candidates ≈ output,
                # prefix's weakest regime — measured 1.4x ahead even
                # here; its decisive win is the boilerplate corpus in
                # BENCH/NGRAM.md)
                from ..operators import dedup as DDng
                from ..queries import _partial_corpus
                for m in ("prefix", "inverted"):
                    timed(f"dedup_ngram_exact_{m}",
                          lambda m=m: DDng.ngram_jaccard_pairs(
                              _partial_corpus(spark, args.dir), n=3,
                              min_pct=50, max_candidate_pairs=None,
                              method=m).count())
            continue
        timed(name, lambda name=name: fns[name](spark, args.dir).count())

    # --- ANN at 10x with a PERSISTED, REUSED index (round-3 item):
    # build once over the 20k-vector corpus, then run two successive
    # query batches against the same (centroids, index) pair — the
    # amortization claim is search ≪ build and batch2 ≈ batch1 (no
    # rebuild). Batch 1 also carries measured recall vs brute force.
    from ..operators import ann as ANN
    emb = spark.read.parquet(f"{args.dir}/embeddings.parquet")

    built_box = {}

    def _build():
        cent, idx = ANN.ivf_build(emb, n_centroids=64)
        cent, idx = cent.persist(), idx.persist()
        built_box["built"] = (cent, idx)
        return cent.count() + idx.count()

    timed("ann_ivf_build_20k", _build)
    built = built_box["built"]
    q1 = emb.filter(F.col("vec_id") < 10)
    q2 = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20))

    def _search(q):
        return lambda: ANN.ivf_topk(q, emb, k=5, n_probe=8,
                                    built=built).count()

    timed("ann_ivf_search_batch1", _search(q1))
    timed("ann_ivf_search_batch2", _search(q2))
    approx = ANN.ivf_topk(q1, emb, k=5, n_probe=8, built=built)
    exact = ANN.brute_force_topk(q1, emb, k=5)
    rec = (ANN.with_recall(approx, exact, k=5)
           .agg(F.round(F.mean("recall_at_k"), 3)).collect()[0][0])
    results["ann_ivf_search_batch1"]["recall"] = float(rec)
    print(f"# ann_ivf recall_at_5 vs brute force at 10x: {rec}")

    # --- self-kNN graph at 20k vectors: the exact blocked-GEMM graph
    # (quadratic GEMM, shuffle-light) and its IVF scale path, which at
    # this size prunes to ~n_probe/n_centroids of the pair work
    timed("knn_graph_20k", lambda: ANN.knn_graph(emb, k=5).count())
    timed("knn_graph_ivf_20k",
          lambda: ANN.knn_graph_ivf(emb, k=5, n_centroids=64,
                                    n_probe=8).count())

    # --- multimodal image near-dup at 10x the registry image count:
    # the registry query is fixed at 240 synthetic images; scale the
    # IDENTICAL pipeline (same images_with_twins corpus builder as the
    # registry queries, so this measures the same thing) to 2400.
    from ..operators import dedup as DDop
    from ..operators import multimodal as MM
    from ..queries import ensure_shipped
    from ..sources import synth as SY

    def _mm():
        ensure_shipped(spark)
        both = SY.images_with_twins(spark, 2400, partitions=32,
                                    with_phash=True)
        stats = MM.decode_stats(both).select("image_id", "phash_calc")
        return DDop.hamming_near_dup_pairs(
            stats, max_k=4, nbits=63, fp_col="phash_calc",
            id_col="image_id").count()

    timed("mm_phash_near_dup_10x", _mm)

    out = {"metric": "sf1_evidence", "sf_equivalent": 1.0,
           "n_lineitem": REPL * 600_000, "cores":
           spark.sparkContext.defaultParallelism, "queries": results}
    print(json.dumps(out))

    if args.out:
        from .mdout import write_preserving
        md = (
            "# sf1 evidence run\n\n"
            f"10x-replicated sf0.1 corpus ({REPL * 600_000:,} lineitem "
            f"rows → {REPL * 600_000 * 10:,}-ish probe ids, 200k part, "
            "100k docs incl. the corpus doubling, 20k embeddings) on "
            f"local[{out['cores']}] with the SHIPPED session config "
            "(12g JVM heap). Completion without OOM at 10x sf0.1 is "
            "the partition-cliff evidence; detailed plan audits live "
            "in BENCH/PLANS.md.\n\n"
            "The `ann_ivf_*` rows are the round-3 index-reuse evidence: "
            "ivf_build runs ONCE over the 20k-vector corpus (persisted "
            "centroids + assignment index), then two successive query "
            "batches search against the same built pair — amortization "
            "= search ≪ build and batch2 ≈ batch1 (no rebuild); batch 1 "
            "carries mean recall@5 vs brute force. "
            "`mm_phash_near_dup_10x` is the registry image pipeline "
            "(resize twin → recomputed phash → pigeonhole hamming "
            "bands) at 10x the registry image count.\n\n"
            "| query | seconds | rows |\n|---|---|---|\n")
        for name, r in results.items():
            extra_col = (f" (recall@5 {r['recall']})"
                         if "recall" in r else "")
            md += f"| {name} | {r['s']} | {r['rows']}{extra_col} |\n"
        write_preserving(args.out, md)
    return out


if __name__ == "__main__":
    run()
