"""Render BENCH/PLANS.md: physical operator trees + scan pruning
evidence for the headline queries, with the structural audit verdicts.

    python -m osm_io_spark.jobs.plan_report [--sf-dir DIR] [--out PATH]
"""

from __future__ import annotations

import argparse

from .. import queries as Q
from ..plans import audit as A
from ..session import get_spark

REPORT_QUERIES = [
    ("j7_spatial_cell_join", "flagship cell equi-join: probe stays "
     "shuffle-free, polygon covers broadcast"),
    ("j8_pip_refine", "general-polygon join + Arrow PIP refine"),
    ("j10_raster_vector", "raster-tile↔vector assignment"),
    ("j1_sortmerge_group_join", "fact-fact group join (SMJ/shuffle is "
     "the correct strategy here — both sides large at scale)"),
    ("j4_broadcast_lookup", "two chained dimension lookups: broadcast, "
     "never SMJ"),
    ("a2_bounding_box", "partial+final aggregate (the reference's "
     "atomic-merge pattern, planned by Catalyst)"),
    ("a5_latest_version", "latest-version window dedup"),
    ("dedup_minhash_lsh", "minhash signature + banded self-join"),
    ("dedup_phash_hamming", "pigeonhole hamming band join (image/text "
     "fingerprint near-dup)"),
    ("rollup_multires", "hierarchical cell ROLLUP"),
    ("dedup_embedding_ivf", "IVF-candidate embedding dedup: bucketed "
     "equi-join on centroid_id + per-cluster GEMM verify, no cross "
     "join"),
    ("sample_mixture", "deterministic mixture sampling: a pure "
     "pushed-down filter — no shuffle, no RNG"),
    ("text_chunks", "fixed-window chunking: single scan + per-row "
     "array ops, tokens never explode individually"),
    ("text_vocab", "vocabulary top-k via TakeOrderedAndProject "
     "(round-2 fix: no corpus-wide single-partition window)"),
    ("pack_sequences", "training-sequence packing: scale-safe global "
     "prefix sum (range shuffle + Arrow cumsum — NO single-task "
     "window) then per-row slice arithmetic + bounded explode"),
    ("dedup_substring", "exact-substring spans: window-hash frequency "
     "aggregate + match-back equi-join (linear — the quadratic "
     "pair-count shuffle of similarity dedup never appears), span "
     "merge windowed per document only"),
    ("mm_caption_audit", "cross-modal audit: pigeonhole phash bands ∪ "
     "md5(caption) equi-join candidates, one pinned decode feeding "
     "every branch"),
    ("j9_knn_ring_expansion", "planar exact kNN: the build side is "
     "small here, so the shared kNN driver runs one broadcast numpy "
     "top-k mapInPandas pass over the deduped probes — the one "
     "exchange is that dedup, no join, no window (pinned in "
     "tests/test_plan_audit.py)"),
    ("s2_knn_join", "spherical exact kNN: the same driver and the same "
     "one-pass shape as j9_knn_ring_expansion over unit xyz "
     "coordinates; the S2 ancestor rounds run only past 4096 build "
     "rows"),
    ("s2_cellid", "true S2 encode: Hilbert scan 4 levels per LOOKUP4 "
     "step, ~9 chained projections in one fused codegen stage small "
     "enough to JIT — no UDF, no shuffle"),
    ("s2_containment_join", "mixed-level S2 containment: each point's "
     "ancestors at the distinct cover levels exploded into one key, ONE "
     "broadcast hash equi-join on it — never a nested-loop range join, "
     "never a Union of per-level joins"),
    ("s2_distance_join", "spherical distance join / ST_DWithin (r5e): "
     "per-site cap covers broadcast, one ancestor-key containment "
     "equi-join for candidates (probe side never shuffles), haversine "
     "refine as codegen trig Columns in the same stage — never a cross "
     "join; the DuckDB oracle runs the index-free cross join and hash "
     "equality proves the cover pruning lossless"),
    ("s2_cap_cover_join", "spherical cap cover+refine: driver-side "
     "mixed-level covers broadcast, one ancestor-key equi-join for "
     "candidates, dot-product refine inside the same stage"),
    ("s2_polygon_cover_join", "spherical polygon cover+refine: "
     "driver-side mixed-level polygon covers broadcast, one "
     "ancestor-key equi-join for candidates, winding-number PIP refine "
     "as a batched numpy mapInPandas (no shuffle after the candidate "
     "join)"),
    ("s2_osm_polygon_join", "OSM-assembled polygons through the S2 "
     "spine (r5): DISTRIBUTED per-polygon covers (mapInPandas — no "
     "driver-side planning), one ancestor-key equi-join for "
     "candidates, broadcast rings dim, even-odd winding refine with "
     "holes"),
    ("tile_cover_assign", "slippy tile fan-out (r5): bbox→tile-range "
     "Column math + two explodes in the scan's stage — zero shuffle, "
     "no driver collect, scale-guarded per polygon"),
    ("vector_tiles", "vector-tile build (r5): fan-out pipelined into "
     "the clip/simplify/quantize mapInPandas kernel. The registry "
     "entry's exchanges/SMJs all belong to the upstream PBF fixture "
     "POLYGON ASSEMBLY (way/relation joins); the tiling stage itself "
     "adds only the deliberate round-robin widen before the kernel — "
     "pinned in tests/test_tiles.py::test_vector_tiles_single_widen_"
     "plan"),
    ("mvt_tiles", "MVT sink (r5): encode_mvt_layers with one polygon "
     "layer — one hash repartition on the tile key + in-partition sort "
     "+ single mapInPandas encode pass, never a tiny-group "
     "applyInPandas. As with vector_tiles, the fixture assembly owns "
     "every other exchange in this plan"),
    ("tile_pyramid", "slippy heatmap pyramid (r5) — NOTE the plan "
     "below shows only the final cascade step: each level's partial "
     "is pinned by a lazy localCheckpoint (fan-out rule), which "
     "truncates the printed lineage exactly as s2_multires_rollup's "
     "does; the cascade's exactness is oracled (tile_pyramid)"),
    ("heatmap_tiles", "PNG heatmap raster sink (r5): Column binning + "
     "one groupBy over the full point table (map-side partial agg), "
     "then the repartition+sort+single-mapInPandas painter — the "
     "only full-table pass is the first aggregation"),
    ("heatmap_pyramid", "one-pass heatmap pyramid (r5): same "
     "checkpoint-truncated cascade shape as tile_pyramid (each "
     "level's global-pixel bins pinned); per-level exactness vs "
     "direct-from-leaves is oracled"),
    ("ctx_reverse_index", "context-index reverse lookup (r5c): one "
     "hash aggregation over the exploded edge union — hot objects "
     "(a node in 10^4 ways) combine map-side (partial_count) before "
     "the single shuffle"),
    ("ctx_cascade_discard", "the roadmap's cascade-discard example "
     "(r5c): broadcast-gated deleted set, bool_and liveness partial-"
     "aggregated per node, tag shield as a post-join filter — no "
     "anti-join chain, one shuffle on the node key"),
    ("ctx_dangling_refs", "dangling-ref audit (r5c): one null-safe "
     "LEFT ANTI join per auditable ref_type (never NOT IN — Spark "
     "plans NOT IN as a null-aware anti join that degenerates to "
     "nested-loop), union aggregated with map-side partials"),
    ("vector_tile_points", "point-feature fan-out (r5d): continuous "
     "tile coords + 3x3 neighbor explode + one filter — pure Column, "
     "zero shuffle, no Python eval, lineitem scan pruned to the two "
     "id columns (pinned in tests/test_plan_audit.py)"),
    ("vector_tile_lines", "line-feature build (r5d): same one-stage "
     "cover→widen→mapInPandas shape as vector_tiles with the "
     "open-polyline split kernel; every other exchange belongs to "
     "the fixture way assembly"),
    ("mvt_layered_tiles", "multi-layer MVT sink (r5d): the same "
     "encoder over three normalized feature frames, unioned into ONE "
     "tile-key repartition + in-partition sort + single encode pass; "
     "the per-layer attribute joins are key equi-joins planned by "
     "Catalyst (broadcast at fixture scale)"),
    ("osm_geodesic_stats", "geodesic measures (r5 final): way length "
     "+ ring area as codegen trig Columns over per-way/ring window "
     "lags — no Python eval in the measure stages, never a global "
     "window; the fixture assembly owns the joins in this plan"),
    ("zonal_stats", "zonal statistics (r5 final): flagship broadcast "
     "cover join (probe never shuffles) feeding ONE groupBy on "
     "polygon_id — partial_count/min/max/sum combine map-side, so "
     "the single shuffle carries |polygons| rows, not |images|"),
    ("tile_quadkey", "quadkey addressing (r5 final): Morton bit math "
     "+ conv/lpad base-4 render + substring ancestor — one fused "
     "codegen projection over the pruned scan, zero shuffle, no UDF"),
    ("tile_geohash", "geohash addressing (r5 final): same zero-"
     "shuffle pure-projection shape as tile_quadkey with the base-32 "
     "conv + translate alphabet render"),
    ("coverage_audit", "spatial anti-join / coverage audit (r5 "
     "final): broadcast cover join + refine → distinct matched ids "
     "(shuffle bounded by join selectivity) → hash-partitioned LEFT "
     "ANTI on img_id → per-coarse-cell partial agg; the probe is "
     "scanned twice, never collected, and no broadcast grows with "
     "the probe side"),
    ("idw_interpolation", "IDW interpolation (r5 final): s2_knn_join "
     "neighbor pairs (the shared exact kNN driver) broadcast against ONE "
     "scan of the sample table, chord→arc + 1/d^p weights as codegen "
     "Columns, |sites|-row final agg — no sample-side shuffle "
     "anywhere downstream of the kNN"),
    ("overlap_join", "rect overlap join (r5 final): both covers are "
     "pure-Column explodes into ONE cell equi-join; strict-overlap "
     "refine + corner-ownership dedup run inside the join's stage, so "
     "the duplicate-free pair set exits with ZERO additional shuffle "
     "(no distinct, no cartesian; AQE broadcasts a side only while "
     "it is small)"),
    ("spatial_dbscan", "distributed DBSCAN (r5f): eps-pair candidates "
     "from ONE self hash equi-join on the eps-sized cell key (probe "
     "9-offset pure-Column fan-out vs build own-cell — never a cross "
     "join), exact-double refine in the join stage, pinned pair frame "
     "fanning into degree agg / CC edges / border assignment; the "
     "quadratic risk is guarded by an EXACT candidate-volume pre-count "
     "at cell granularity before the join launches"),
    ("overlap_dissolve", "conflation dissolve (r5f): overlap_join "
     "self-edges (duplicate-free corner ownership) → distributed CC → "
     "one label join + partial agg; area summed as quantized BIGINT, "
     "never a raw double SUM"),
    ("hotspot_gistar", "Gi* hotspot z-scores (r5f): one partial-agg "
     "groupBy to cell counts, 9-offset fan-out self-join at CELL "
     "granularity (rows = occupied cells, not points), broadcast "
     "1-row global aggregate — the point table is shuffled exactly "
     "once, everything after runs on the tiny cell universe"),
    ("trip_segments", "trajectory segmentation (r5f): one per-user "
     "window (lag + running-sum seg ids — partitioned, never a "
     "global single-task window) + one groupBy reduction"),
]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="BENCH/PLANS.md")
    args = ap.parse_args(argv)

    spark = get_spark("plan-report", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    for name, why in REPORT_QUERIES:
        df = Q.QUERIES[name](spark, args.sf_dir)
        plan = A.formatted_plan(df)
        rep = {
            "shuffles": A.count_op(plan, "Exchange"),
            "broadcast_joins": A.count_op(plan, "BroadcastHashJoin"),
            "smj": A.count_op(plan, "SortMergeJoin"),
        }
        scans = "\n".join(
            f"  - `{s['location']}`: {s['n_cols']} cols {s['cols']}"
            + (f", pushed: `{s['pushed']}`" if s["pushed"] else "")
            for s in A.scan_summaries(plan))
        sections.append(
            f"## {name}\n\n{why}.\n\n"
            f"shuffle exchanges: **{rep['shuffles']}** · broadcast joins: "
            f"**{rep['broadcast_joins']}** · sort-merge joins: **{rep['smj']}**\n\n"
            f"scans (column pruning):\n{scans}\n\n"
            f"```\n{A.operator_tree(plan)}\n```\n")

    header = (
        "# BENCH/PLANS — physical-plan evidence\n\n"
        "Generated by `python -m osm_io_spark.jobs.plan_report`. The scale\n"
        "contract lives in the plan: the flagship probe path must be\n"
        "shuffle-free with the polygon side broadcast, dimension lookups\n"
        "broadcast (never sort-merge), scans column-pruned to what the\n"
        "query touches. `tests/test_plan_audit.py` pins these shapes in CI.\n\n")
    from .mdout import write_preserving
    write_preserving(args.out, header + "\n".join(sections))
    print(f"wrote {args.out}")


if __name__ == "__main__":
    main()
