"""Distributed density-based spatial clustering (DBSCAN) on the cell
grid — the clustering member of the spatial-analytics family
(containment join J7/J8, kNN J9, distance join, zonal stats, IDW).

Semantics (Ester et al. 1996, made order-independent):

* metric: squared euclidean degrees, ``(Δlat)² + (Δlon)² ≤ eps²`` —
  the same exact-double planar metric as the kNN join (operators/knn),
  so the oracle's refine boolean is bit-identical cross-engine (pure
  IEEE multiply/add, no trig).
* ``p`` is **core** iff its eps-ball holds ≥ ``min_pts`` points
  *including p itself* (the sklearn ``min_samples`` convention).
* clusters = connected components of core points under eps-adjacency;
  ``cluster_id`` = min member id (canonical, deterministic).
* a non-core point is **border** if it has ≥1 core neighbor; classic
  DBSCAN assigns border points to whichever cluster scans them first
  (scan-order-dependent!) — here a border point joins the *minimum*
  cluster id among its core neighbors, making the full labeling a
  pure function of the input.
* remaining points are **noise** (``cluster_id = -1`` — kept non-null
  so the cross-engine hash compares int64, not NaN-laden float).

Plan shape (scale-first — grid-partitioned GDBSCAN):
  1. each point gets its cell at the coarsest resolution whose cell
     height ≥ eps, so the full eps-ball of any point lies inside the
     3×3 Chebyshev disk of its cell (same covering argument as
     operators/knn; longitude wraps mod 2^res, the metric itself does
     not wrap — wrap only ever ADDS candidates).
  2. candidate generation = ONE self equi-join on the cell key: the
     probe side fans out to its 9 disk cells (pure-Column explode, the
     vector_tile_points pattern), the build side stays on its own
     cell. Every true eps-pair appears in BOTH directions, which is
     exactly what the per-point degree count needs — no post-join
     dedup shuffle (dedup_clusters canonicalizes edges internally).
  3. degrees / core flags: one map-side-combinable groupBy on the
     pinned pair frame.
  4. components: operators/dedup.dedup_clusters (hash-min propagation
     with O(log n) large/small-star fallback) over core-core edges.
  5. border assignment: one groupBy-min over the (non-core → core)
     directed pairs joined to the core labels.

The pair frame is lazily localCheckpoint-pinned — degrees, core-core
edges and border assignment all read it (CLAUDE.md fan-out rule).

Skew / scale guard: eps-graph candidate volume is quadratic in cell
occupancy, so before the self-join the per-cell counts are aggregated
into an EXACT directed-candidate count (one tiny cells×9 self-join —
the ngram-router pattern); past ``max_candidate_pairs`` this raises
with guidance instead of launching a quadratic join (a 100 TB corpus
with million-point cells needs a smaller eps or a pre-aggregation to
cell granularity, and the error says so).

Reference tie-in: the reference engine ships the spatial *index*
roadmap (README.md:44-45); density clustering over that index is the
canonical downstream analytics consumer (same role zonal_stats plays
for the containment join).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import cells as C
from .dedup import dedup_clusters


def _fine_res(eps: float, max_res: int = 30) -> int | None:
    """Coarsest resolution whose cell DIAGONAL ≤ eps (cell w = 2h, so
    diag = h·√5): two points sharing such a cell are within eps by
    construction. None when eps is so small the cap can't honor the
    bound (then contraction is skipped — correctness never depends on
    it)."""
    need = 180.0 * math.sqrt(5.0) / eps
    r = math.ceil(math.log2(need)) if need > 1 else 0
    if 180.0 * math.sqrt(5.0) / (1 << r) > eps:  # log2 rounded down
        r += 1
    return r if r <= max_res else None


def _grid_res(eps: float, max_res: int = 15) -> int:
    """Coarsest resolution with cell height (180/2^res) ≥ eps, clamped
    to [0, max_res]. Cell width is 2× the height, so height is the
    binding side of the 3×3-disk covering argument."""
    res = 0
    while res < max_res and 180.0 / (1 << (res + 1)) >= eps:
        res += 1
    return res


def dissolve_rects(rects: DataFrame, res: int,
                   id_col: str = "polygon_id") -> DataFrame:
    """Dissolve a rectangle set into overlap-connected components —
    the merge step of a conflation pipeline (overlap_join scores
    candidate matches; dissolve collapses transitive overlap groups
    into one record each).

    Returns (component_id, n_members, left, bottom, right, top,
    area_u): component_id = min member id, n_members counts input
    ROWS (duplicate-id rows count like the dup-key-aware oracles),
    l/b/r/t the merged extent, and area_u the summed footprint area
    quantized to integer 1e-10 deg² units — float SUMs are
    order-dependent, so the per-row double area (identical expression
    tree in both engines) is floored to a BIGINT before the aggregate
    (the money-quantization rule from the queries module header).

    Plan: edges from ``overlap_join_rect(rects, rects)`` (ONE cell-key
    hash equi-join, duplicate-free by intersection-corner ownership),
    components via ``dedup_clusters`` (O(log n) fallback), then one
    broadcast-eligible label join + partial agg. Exact union GEOMETRY
    is deliberately out of scope (that is the vector-tile clip layer's
    job); the merged extent + quantized area is the dissolve summary a
    dedup/conflation pipeline consumes."""
    from .spatial_join import overlap_join_rect

    base = rects.select(F.col(id_col).cast("long").alias("_id"),
                        "left", "bottom", "right", "top")
    pairs = (overlap_join_rect(base, base, res=res,
                               a_id="_id", b_id="_id")
             .filter(F.col("a_id") != F.col("b_id"))
             .select(F.col("a_id").alias("id_a"),
                     F.col("b_id").alias("id_b")))
    ids = base.select("_id").distinct()
    labels = (dedup_clusters(pairs, ids, id_col="_id")
              .select(F.col("_id"),
                      F.col("cluster_id").alias("component_id")))
    area_u = F.floor((F.col("right") - F.col("left"))
                     * (F.col("top") - F.col("bottom"))
                     * F.lit(1e10) + F.lit(0.5)).cast("long")
    return (base.join(labels, "_id")
            .groupBy("component_id")
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("left").alias("left"),
                 F.min("bottom").alias("bottom"),
                 F.max("right").alias("right"),
                 F.max("top").alias("top"),
                 F.sum(area_u).alias("area_u")))


def dbscan(points: DataFrame, eps: float, min_pts: int,
           id_col: str = "pt_id", lat_col: str = "lat",
           lon_col: str = "lon",
           max_candidate_pairs: int = 2_000_000_000,
           stats: dict | None = None) -> DataFrame:
    """(id_col, role, cluster_id) — role ∈ {'core','border','noise'},
    cluster_id = min point id of the component (−1 for noise).

    ``points`` must carry unique ``id_col`` values and VALID
    coordinates (lat ∈ [-90, 90], lon ∈ [-180, 180]): the grid clamps
    out-of-range values into border cells, which keeps candidate
    generation complete for valid inputs but would let the
    CC contraction treat two far-apart invalid points as same-cell
    neighbors. ``eps`` is in degrees under the planar
    squared-euclidean metric (see module docstring), ``min_pts``
    counts the point itself. eps > 45° raises ValueError: its grid is
    narrower than the 3 columns the neighbour fan-out needs.
    """
    if eps <= 0:
        raise ValueError(f"eps must be positive, got {eps}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    res = _grid_res(eps)
    n = 1 << res
    eps_sq = eps * eps

    pts = points.select(F.col(id_col).cast("long").alias("_id"),
                        F.col(lat_col).alias("_lat"),
                        F.col(lon_col).alias("_lon"))
    grid = [f"{C.grid_sql('_lon', res, 180.0, 360.0)} AS _gx",
            f"{C.grid_sql('_lat', res, 90.0, 180.0)} AS _gy"]
    # fine sub-grid for CC contraction (below): cell diagonal ≤ eps,
    # so same-cell core points are mutually eps-connected
    res_f = _fine_res(eps)
    if res_f is not None:
        grid.append(f"{C.grid_sql('_lon', res_f, 180.0, 360.0)} * "
                    f"{1 << res_f} + "
                    f"{C.grid_sql('_lat', res_f, 90.0, 180.0)} AS _fkey")
    pts = pts.selectExpr("*", *grid)
    # pin the keyed point frame: it fans out to the guard, both join
    # sides, the flags frame and the final assembly (CLAUDE.md fan-out
    # rule — unpinned, the upstream projection + any source shuffle
    # re-executes once per branch; the plan audit showed 4 scans)
    pts = (pts.withColumn("_key", F.col("_gx") * F.lit(n) + F.col("_gy"))
           .localCheckpoint(eager=False))

    # --- scale guard: exact directed-candidate volume from per-cell
    # counts (cells ≪ points, so this pre-pass is cheap); the probe
    # fan-out below replicates each LEFT row 9×, so candidates =
    # Σ_{cells c,d adjacent} count(c)·count(d) including c = d.
    cellcounts = pts.groupBy("_gx", "_gy").agg(
        F.count(F.lit(1)).alias("_n"))
    probe_cells = (C.disk3_fanout(cellcounts, res, "_gx", "_gy",
                                  "_nx", "_ny")
                   .select((F.col("_nx") * n + F.col("_ny")).alias("_key"),
                           F.col("_n").alias("_np")))
    build_cells = cellcounts.select(
        (F.col("_gx") * n + F.col("_gy")).alias("_key"),
        F.col("_n").alias("_nb"))
    est = (probe_cells.join(build_cells, "_key")
           .agg(F.sum(F.col("_np") * F.col("_nb")).alias("c"))
           .first()["c"]) or 0
    if stats is not None:
        stats["res"] = res
        stats["candidate_pairs"] = int(est)
    if est > max_candidate_pairs:
        raise RuntimeError(
            f"dbscan: eps={eps} produces ~{est:,} candidate pairs at grid "
            f"res {res} (> {max_candidate_pairs:,}); the eps-graph is too "
            "dense to materialize — shrink eps, pre-aggregate points to "
            "cell granularity, or raise max_candidate_pairs deliberately")

    # --- directed candidate pairs: probe fans out to its 3×3 disk,
    # build stays on its own cell; refine with the exact metric.
    probe = (C.disk3_fanout(pts, res, "_gx", "_gy", "_px", "_py")
             .select(F.col("_id").alias("_ida"),
                     F.col("_lat").alias("_lata"),
                     F.col("_lon").alias("_lona"),
                     (F.col("_px") * n + F.col("_py")).alias("_key")))
    build = pts.select(F.col("_id").alias("_idb"),
                       F.col("_lat").alias("_latb"),
                       F.col("_lon").alias("_lonb"), "_key")
    dlat = F.col("_lata") - F.col("_latb")
    dlon = F.col("_lona") - F.col("_lonb")
    pairs = (probe.join(build, "_key")
             .filter((F.col("_ida") != F.col("_idb"))
                     & (dlat * dlat + dlon * dlon <= F.lit(eps_sq)))
             .select("_ida", "_idb")
             .localCheckpoint(eager=False))

    # --- degrees → core flags (count includes the point itself)
    deg = pairs.groupBy("_ida").agg(F.count(F.lit(1)).alias("_nn"))
    flags = (pts.select("_id")
             .join(deg, F.col("_id") == F.col("_ida"), "left")
             .select("_id",
                     ((F.coalesce("_nn", F.lit(0)) + 1) >= min_pts
                      ).alias("_core")))
    core_ids = flags.filter("_core").select("_id")

    # --- components over core-core edges (min-id labels). The CC
    # input is contracted first (the GDBSCAN hub-contraction): all
    # core points sharing a res_f cell (diagonal ≤ eps) are mutually
    # connected by construction, so each fine cell collapses to its
    # min core id as a SUPERNODE and the eps-graph's dense-hotspot
    # cliques (|edges| ≈ density·n) shrink to the occupied-cell graph
    # before any CC iteration runs — the reduction factor grows with
    # density, exactly where a Zipf-distributed 10^12-point table
    # hurts (measured: CC construct 10.8s of a 36s 1M-point run at
    # local[4]; pre-contraction the CC alone was 47s on the same
    # corpus). Component labels are unchanged: contraction of connected
    # subsets preserves the component partition, and min-id labels
    # survive because each supernode carries its cell's min id.
    cc_stats: dict = {}
    if res_f is not None:
        core_cells = (pts.select("_id", "_fkey")
                      .join(core_ids, "_id"))
        sn = (core_cells.groupBy("_fkey")
              .agg(F.min("_id").alias("_sn")))
        core_map = (core_cells.join(sn, "_fkey")
                    .select("_id", "_sn")
                    .localCheckpoint(eager=False))  # feeds edges + expand
        ma = core_map.select(F.col("_id").alias("_ida"),
                             F.col("_sn").alias("_sna"))
        mb = core_map.select(F.col("_id").alias("_idb"),
                             F.col("_sn").alias("_snb"))
        cedges = (pairs.join(ma, "_ida").join(mb, "_idb")
                  .filter(F.col("_sna") != F.col("_snb"))
                  .select(F.col("_sna").alias("id_a"),
                          F.col("_snb").alias("id_b")))
        sn_ids = sn.select(F.col("_sn").alias("_id"))
        sn_labels = (dedup_clusters(cedges, sn_ids, id_col="_id",
                                    stats=cc_stats)
                     .select(F.col("_id").alias("_sn"),
                             F.col("cluster_id").alias("_clabel")))
        labels = (core_map.join(sn_labels, "_sn")
                  .select(F.col("_id").alias("_cid"), "_clabel"))
        cc_stats["contracted"] = True
    else:
        ca = core_ids.select(F.col("_id").alias("_ida"))
        cb = core_ids.select(F.col("_id").alias("_idb"))
        edges = (pairs.join(ca, "_ida").join(cb, "_idb")
                 .select(F.col("_ida").alias("id_a"),
                         F.col("_idb").alias("id_b")))
        labels = (dedup_clusters(edges, core_ids, id_col="_id",
                                 stats=cc_stats)
                  .select(F.col("_id").alias("_cid"),
                          F.col("cluster_id").alias("_clabel")))
        cc_stats["contracted"] = False
    if stats is not None:
        stats["cc"] = cc_stats

    # --- border assignment: non-core → min cluster among core nbrs
    noncore = flags.filter(~F.col("_core")).select(
        F.col("_id").alias("_ida"))
    border = (pairs.join(noncore, "_ida")
              .join(labels, F.col("_idb") == F.col("_cid"))
              .groupBy("_ida").agg(F.min("_clabel").alias("_blabel")))

    out = (flags
           .join(labels, F.col("_id") == F.col("_cid"), "left")
           .join(border, F.col("_id") == F.col("_ida"), "left")
           .select(
               F.col("_id").alias(id_col),
               F.when(F.col("_core"), F.lit("core"))
                .when(F.col("_blabel").isNotNull(), F.lit("border"))
                .otherwise(F.lit("noise")).alias("role"),
               F.coalesce("_clabel", "_blabel", F.lit(-1))
                .cast("long").alias("cluster_id")))
    return out
