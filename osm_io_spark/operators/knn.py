"""Exact kNN joins, planar (SURVEY.md J9) and spherical (C16), through
one driver.

For each probe point, find the K nearest build points over DISTINCT
(probe, build) pairs, ties broken by build id. :func:`_exact_knn` is
the whole algorithm; each metric supplies only its coordinates, its
cell keys and its rounds with their settle bounds:

* planar (:func:`knn_join`): squared euclidean degree distance over
  (lat, lon). A round searches a Chebyshev cell annulus [r_lo, r_hi]
  around the probe's cell; an UNSEEN build point then lies ≥ r_hi
  cells away along one axis, so its distance is ≥ (r_hi·min_cell)².
  Annuli grow geometrically, O(log grid) rounds. Longitude wraps
  (ring x mod 2^res); the metric does not — the wrap only ever adds
  candidates, so exactness holds under the brute-force oracle's metric.
* spherical (:func:`s2_knn_join`): squared chord over unit xyz. A
  round searches the probe's level-ℓ S2 ancestor minus the level-(ℓ+1)
  cell already searched, one hash equi-join on ancestor keys; an
  unseen point lies outside the ancestor, so its distance is ≥ the
  probe's distance to the cell's edge great circles
  (:func:`_s2_boundary_chord2_np`).

The driver routes once, on the build side's size:

* ≤ ``_SMALL_BUILD`` rows: the deduped build matrix is broadcast into
  ONE numpy top-k pass over the deduped probes (mapInPandas, ranks
  emitted by the kernel) — the plan's only shuffle is the probe dedup.
* otherwise the rounds, each over the still-unsettled probes only:
  union the candidates into the running top-k, dedup (probe, build)
  pairs (base tables carry duplicate keys; a duplicate would occupy a
  rank and understate the k-th distance), prune to k per probe (a row
  outside the top-k never re-enters it, so the state stays k·|probe|),
  checkpoint. A probe settles with k candidates whose k-th distance is
  STRICTLY below the round's bound: an unseen point exactly on the
  bound could tie the k-th distance and win the build-id tie-break.
  Once ≤ ``_FINISH`` probes are unsettled, or after the last round,
  one residue pass finishes them: the residue matrix rides in the task
  closure of a numpy top-k pass over the whole build table (for S2
  this is the search of the other cube faces). Per-batch (dist, bid)
  top-k keeps every globally rankable candidate, and a pair found on
  both paths is bit-identical, so the dedup collapses it.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C

# build rows at or below which one broadcast top-k pass replaces the rounds
_SMALL_BUILD = 4096
# unsettled probes at or below which the residue pass ends the rounds
_FINISH = 1024
# |sites|·k neighbor pairs idw_interpolate still broadcasts
_IDW_BROADCAST_PAIRS = 4_000_000


def _topk_np(P, B, bids, k):
    """Exact per-probe (dist ASC, build id ASC) top-k of the probe
    matrix ``P`` (m×d) against the build matrix ``B`` (n×d) with
    distinct build ids ``bids`` (n,). Returns (probe_idx, build_idx,
    dist, rank), each probe's rows contiguous in rank order.

    The squared distance accumulates column by column, the order of
    the driver's Column expression, so a pair computed by both is
    bit-identical. Ties at the k-th distance are exact: every candidate
    ≤ the k-th value is kept and sorted by (dist, bid) before the cut
    (argpartition alone would split ties arbitrarily). NaN coordinates
    (NULL in Spark) never match, as a NULL cell key never joins."""
    import numpy as np
    m, n = len(P), len(B)
    if not (m and n):
        e = np.zeros(0, np.int64)
        return e, e, np.zeros(0, np.float64), e
    kk = min(k, n)
    brank = np.empty(n, np.int64)
    brank[np.argsort(bids, kind="stable")] = np.arange(n)
    out = []
    blk = max(1, (1 << 22) // n)   # (blk, n) distance block ~32 MB
    for s in range(0, m, blk):
        Pb = P[s:s + blk]
        d = (Pb[:, 0:1] - B[None, :, 0]) ** 2
        for c in range(1, P.shape[1]):
            d += (Pb[:, c:c + 1] - B[None, :, c]) ** 2
        kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
        kth[np.isnan(kth)] = np.inf   # < kk finite candidates: keep all
        i, j = np.nonzero(d <= kth[:, None])
        o = np.lexsort((brank[j], d[i, j], i))
        i, j = i[o], j[o]
        rank = np.arange(len(i)) - np.searchsorted(i, i) + 1
        keep = rank <= kk
        out.append((i[keep] + s, j[keep], d[i[keep], j[keep]], rank[keep]))
    return tuple(np.concatenate(a) for a in zip(*out))


def _exact_knn(probe: DataFrame, build: DataFrame, k: int,
               probe_id: str, build_id: str, dist_name: str,
               pcoords, bcoords, keyed, rounds) -> DataFrame:
    """The exact kNN driver (module docstring). ``pcoords``/``bcoords``
    are the metric's coordinates over ``probe``/``build`` as SQL text;
    they become ``_p0.._pd`` / ``_b0.._bd`` beside ``_pid`` / ``_bid``.
    ``keyed(probes, builds)`` appends the cell keys; ``rounds`` yields
    one ``step(unsettled, builds) -> (pairs, safe)`` per round, built
    only when that round runs: ``pairs`` joins probes to build rows,
    ``safe`` is (_pid, _safe), the bound on every unseen distance.
    Returns (probe_id, rank, build_id, dist_name)."""
    import numpy as np
    import pandas as pd

    pid_dt = probe.schema[probe_id].dataType.simpleString()
    bid_dt = build.schema[build_id].dataType.simpleString()
    pcols = [f"_p{c}" for c in range(len(pcoords))]
    bcols = [f"_b{c}" for c in range(len(bcoords))]
    probes = probe.selectExpr(f"`{probe_id}` AS _pid", *(
        f"CAST({c} AS DOUBLE) AS {a}" for c, a in zip(pcoords, pcols)))
    builds = build.selectExpr(f"`{build_id}` AS _bid", *(
        f"CAST({c} AS DOUBLE) AS {a}" for c, a in zip(bcoords, bcols)))

    # one bounded collect routes (duplicates count) and, when the build
    # side is small, is the build matrix
    head = builds.limit(_SMALL_BUILD + 1).toPandas()
    if len(head) <= _SMALL_BUILD:
        bpdf = head.drop_duplicates("_bid")
        B = bpdf[bcols].to_numpy(np.float64)
        bids = bpdf["_bid"].to_numpy()

        def small(batches):
            for b in batches:
                pi, bi, dd, rk = _topk_np(b[pcols].to_numpy(np.float64),
                                          B, bids, k)
                if len(pi):
                    yield pd.DataFrame({
                        probe_id: b["_pid"].to_numpy()[pi],
                        "rank": rk.astype(np.int32),
                        build_id: bids[bi], dist_name: dd})

        return probes.dropDuplicates(["_pid"]).mapInPandas(
            small, f"{probe_id} {pid_dt}, rank int, {build_id} {bid_dt}, "
                   f"{dist_name} double")

    unsettled, builds = keyed(probes, builds)
    unsettled = unsettled.localCheckpoint(eager=True)
    builds = builds.localCheckpoint(eager=False)
    dist = F.expr(" + ".join(f"({p} - {b}) * ({p} - {b})"
                             for p, b in zip(pcols, bcols)))
    w = Window.partitionBy("_pid").orderBy(F.col("_d").asc(),
                                           F.col("_bid").asc())

    def prune(df: DataFrame) -> DataFrame:
        return (df.dropDuplicates(["_pid", "_bid"])
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .localCheckpoint(eager=True))

    acc = None
    for step in rounds:
        pairs, safe = step(unsettled, builds)
        cand = pairs.select("_pid", "_bid", dist.alias("_d"))
        acc = prune(cand if acc is None
                    else acc.drop("rank").unionByName(cand))
        settled = (acc.groupBy("_pid")
                   .agg(F.count("*").alias("_cnt"),
                        F.max("_d").alias("_kth"))
                   .join(safe, "_pid")
                   .filter((F.col("_cnt") >= k)
                           & (F.col("_kth") < F.col("_safe")))
                   .select("_pid"))
        unsettled = (unsettled.join(settled, "_pid", "left_anti")
                     .localCheckpoint(eager=False))
        n_left = unsettled.count()   # materializes the checkpoint
        if n_left <= _FINISH:
            break

    if n_left:
        res = unsettled.select("_pid", *pcols).toPandas()
        P = res[pcols].to_numpy(np.float64)
        pids = res["_pid"].to_numpy()

        def residue(batches):
            for b in batches:
                # a batch's duplicate bids would hold top-k slots that a
                # distinct bid needs, and the global dedup can't restore it
                b = b.iloc[np.unique(b["_bid"].to_numpy(),
                                     return_index=True)[1]]
                bb = b["_bid"].to_numpy()
                pi, bi, dd, _ = _topk_np(P, b[bcols].to_numpy(np.float64),
                                         bb, k)
                yield pd.DataFrame({"_pid": pids[pi], "_bid": bb[bi],
                                    "_d": dd})

        rest = builds.select("_bid", *bcols).mapInPandas(
            residue, f"_pid {pid_dt}, _bid {bid_dt}, _d double")
        acc = prune(acc.drop("rank").unionByName(rest))

    return acc.select(F.col("_pid").alias(probe_id), "rank",
                      F.col("_bid").alias(build_id),
                      F.col("_d").alias(dist_name))


def _annuli(n: int):
    """Geometric Chebyshev annuli [0,1], [2,3], [4,7], ... up to the
    grid width ``n``: yields (r_hi, offsets), the offsets canonical mod
    n on the wrap axis (x) and new to this annulus — rings wider than
    the grid revisit cells, and a revisited cell's candidates would be
    searched twice."""
    seen: set[tuple[int, int]] = set()
    r_lo, r_hi = 0, 1
    while True:
        offsets = []
        for r in range(r_lo, r_hi + 1):
            for dx in range(-r, r + 1):
                for dy in range(-r, r + 1):
                    o = (dx % n, dy)
                    if max(abs(dx), abs(dy)) == r and o not in seen:
                        seen.add(o)
                        offsets.append(o)
        yield r_hi, offsets
        if r_hi >= n:
            return
        r_lo, r_hi = r_hi + 1, min(2 * r_hi + 1, n)


def knn_join(probe: DataFrame, build: DataFrame, k: int, res: int,
             probe_id: str = "img_id", build_id: str = "polygon_id",
             probe_lat: str = "lat", probe_lon: str = "lon",
             build_lat: str = "clat", build_lon: str = "clon") -> DataFrame:
    """Exact planar kNN by cell-ring expansion on the 2^res grid.
    Returns (probe_id, rank, build_id, dist_sq), rank in 1..k by
    (dist_sq ASC, build_id ASC)."""
    n = 1 << res
    min_sz = min(360.0 / n, 180.0 / n)

    def keyed(probes, builds):
        def grid(lat, lon):
            return (C.grid_sql(lon, res, 180.0, 360.0),
                    C.grid_sql(lat, res, 90.0, 180.0))
        (px, py), (bx, by) = grid("_p0", "_p1"), grid("_b0", "_b1")
        return (probes.selectExpr("*", f"{px} AS _px", f"{py} AS _py"),
                builds.selectExpr("*", f"{bx} * {n} + {by} AS _bkey"))

    def rounds():
        for r_hi, offsets in _annuli(n):
            # the last annulus reaches every cell: nothing is unseen
            bound = math.inf if r_hi >= n else (r_hi * min_sz) ** 2

            def step(unsettled, builds, offsets=offsets, bound=bound):
                off = F.array([F.struct(F.lit(dx).alias("dx"),
                                        F.lit(dy).alias("dy"))
                               for dx, dy in offsets])
                cy = F.col("_py") + F.col("_o.dy")
                pairs = (unsettled.withColumn("_o", F.explode(off))
                         .filter((cy >= 0) & (cy < n))
                         .withColumn("_bkey", F.pmod(
                             F.col("_px") + F.col("_o.dx"), F.lit(n))
                             * F.lit(n) + cy)
                         .join(F.broadcast(builds), "_bkey"))
                return pairs, unsettled.select(
                    "_pid", F.lit(bound).alias("_safe"))
            yield step

    return _exact_knn(probe, build, k, probe_id, build_id, "dist_sq",
                      [f"`{probe_lat}`", f"`{probe_lon}`"],
                      [f"`{build_lat}`", f"`{build_lon}`"],
                      keyed, rounds())


def _s2_boundary_chord2_np(px, py, pz, cells):
    """Exact lower bound (squared CHORD distance) from each point to
    everything OUTSIDE its own S2 cell. Cell edges lie on great
    circles; for an interior point, distance-to-boundary = min over
    the 4 edge arcs ≥ min over the 4 full circles = min over edges of
    asin(|p · n̂|) with n̂ the edge plane normal (cross product of the
    edge's two corners). Chord = 2·sin(angle/2) is monotone in angle,
    so the bound converts exactly."""
    import numpy as np

    from ..functions import s2 as S2
    _, _, _, corners = S2.s2_cell_corners_np(np.asarray(cells, np.int64))
    p = np.stack([np.asarray(px), np.asarray(py), np.asarray(pz)], axis=1)
    best = np.full(len(p), np.inf)
    for e in range(4):
        a = corners[:, e, :]
        b = corners[:, (e + 1) % 4, :]
        n = np.cross(a, b)
        n /= np.linalg.norm(n, axis=1, keepdims=True)
        ang = np.arcsin(np.clip(np.abs((p * n).sum(axis=1)), 0.0, 1.0))
        best = np.minimum(best, ang)
    half = 2.0 * np.sin(best / 2.0)
    return half * half


def s2_knn_join(probe: DataFrame, build: DataFrame, k: int,
                start_level: int = 12,
                probe_id: str = "img_id", build_id: str = "polygon_id",
                probe_lat: str = "lat", probe_lon: str = "lon",
                build_lat: str = "clat", build_lon: str = "clon"
                ) -> DataFrame:
    """Exact spherical kNN on the TRUE S2 index — the hierarchical
    sibling of :func:`knn_join`: instead of i/j ring offsets (which
    would need cross-face wrap math), round ℓ = start_level … 0
    searches the probe's level-ℓ ANCESTOR cell minus the level-(ℓ+1)
    cell already searched — a pure hash equi-join on ancestor keys,
    disjoint across rounds by construction, 4× the area per round. The
    settle bound is the probe's exact distance to its ancestor's 4 edge
    great circles (:func:`_s2_boundary_chord2_np`). A small build side
    skips the rounds, and the residue pass after level 0 searches the
    other cube faces; both are the shared driver's (module docstring).

    Metric: squared chord (3-D euclidean on unit vectors), monotone in
    angular distance; ties broken by build id. Returns
    (probe_id, rank, build_id, chord_sq)."""
    import pandas as pd

    from ..functions import s2 as S2

    pid_dt = probe.schema[probe_id].dataType.simpleString()

    def anc(cell, level):
        return F.expr(S2.s2_parent_sql(cell, level))

    def keyed(probes, builds):
        return (S2.with_s2_cell(probes, "_p0", "_p1", "_p2", out="_pcell"),
                S2.with_s2_cell(builds, "_b0", "_b1", "_b2", out="_bcell"))

    def rounds():
        for lvl in range(start_level, -1, -1):
            def step(unsettled, builds, lvl=lvl):
                pairs = unsettled.join(
                    builds, anc("_pcell", lvl) == anc("_bcell", lvl))
                if lvl < start_level:
                    pairs = pairs.filter(anc("_pcell", lvl + 1)
                                         != anc("_bcell", lvl + 1))

                def bound(batches):
                    for b in batches:
                        yield pd.DataFrame({
                            "_pid": b["_pid"],
                            "_safe": _s2_boundary_chord2_np(
                                b["_p0"].to_numpy(), b["_p1"].to_numpy(),
                                b["_p2"].to_numpy(), S2.s2_parent_np(
                                    b["_pcell"].to_numpy(), lvl))})
                return pairs, unsettled.mapInPandas(
                    bound, f"_pid {pid_dt}, _safe double")
            yield step

    return _exact_knn(probe, build, k, probe_id, build_id, "chord_sq",
                      S2.latlon_xyz_sql(probe_lat, probe_lon),
                      S2.latlon_xyz_sql(build_lat, build_lon),
                      keyed, rounds())


def idw_interpolate(sites: DataFrame, samples: DataFrame, k: int,
                    value_col: str, power: float = 2.0,
                    eps_m: float = 1.0,
                    site_id: str = "site_id", sample_id: str = "img_id",
                    site_lat: str = "slat", site_lon: str = "slon",
                    sample_lat: str = "lat", sample_lon: str = "lon"
                    ) -> DataFrame:
    """Inverse-distance-weighted interpolation at query sites — the
    classic GIS gridding/estimation reduction over the exact spherical
    kNN (:func:`s2_knn_join`): value(site) = Σ wᵢ·vᵢ / Σ wᵢ over the
    site's k nearest samples, wᵢ = 1 / max(dᵢ, eps_m)^power with dᵢ
    the great-circle distance (chord→arc via 2R·asin(chord/2); the
    eps_m floor keeps a sample sitting exactly on a site from
    producing an infinite weight).

    Scale shape: the neighbor search is s2_knn_join (one broadcast
    top-k pass when the samples are driver-small, else the hierarchical
    rounds); the value join then runs samples ⋈ broadcast(neighbor
    pairs) — |sites|·k rows broadcast against the 10^12-row sample
    table, ONE scan, no sample-side shuffle — and the final groupBy
    aggregates |sites|·k rows down to |sites|. The broadcast is gated
    on the cheap |sites|·k bound (``_IDW_BROADCAST_PAIRS``); past it
    the value join degrades to a shuffled hash join. The weight math
    is pure codegen Columns.

    Returns (site_id, idw_value, n_neighbors, d_min_m, d_max_m).
    Float output (trig + ordered float sums are not cross-engine
    bit-exact), so registry exposure is rows-only with a numpy
    brute-force referee in tests/test_idw.py.
    """
    from ..functions.geometry import EARTH_RADIUS_M

    nn = s2_knn_join(sites, samples, k,
                     probe_id=site_id, build_id=sample_id,
                     probe_lat=site_lat, probe_lon=site_lon,
                     build_lat=sample_lat, build_lon=sample_lon)
    # dup-key-aware (CLAUDE.md): the base tables carry duplicate ids;
    # s2_knn_join already dedupes its build side, so the value join
    # must too or a duplicated neighbor double-counts its weight
    vals = (samples.select(F.col(sample_id), F.col(value_col).alias("_v"))
            .dropDuplicates([sample_id]))
    d_m = (F.lit(2.0 * EARTH_RADIUS_M)
           * F.asin(F.least(F.sqrt(F.col("chord_sq")), F.lit(2.0))
                    / F.lit(2.0)))
    w = F.lit(1.0) / F.pow(F.greatest(d_m, F.lit(float(eps_m))),
                           F.lit(float(power)))
    # broadcast auto-gate (the s2_containment_join ADVICE pattern):
    # the |sites|·k pair set is only broadcastable while driver-small;
    # past the budget the value join degrades to a shuffled hash join
    # on the sample id instead of OOMing the driver. Sized by the
    # CHEAP upper bound |sites|·k (one input-scan count) — counting
    # nn itself would re-execute the whole kNN
    if sites.count() * k <= _IDW_BROADCAST_PAIRS:
        nn = F.broadcast(nn)
    pairs = vals.join(nn, on=sample_id, how="inner")
    return (pairs
            .select(site_id, w.alias("_w"), F.col("_v"),
                    d_m.alias("_d"))
            .groupBy(site_id)
            .agg((F.sum(F.col("_w") * F.col("_v")) / F.sum("_w"))
                 .alias("idw_value"),
                 F.count(F.lit(1)).alias("n_neighbors"),
                 F.min("_d").alias("d_min_m"),
                 F.max("_d").alias("d_max_m")))
