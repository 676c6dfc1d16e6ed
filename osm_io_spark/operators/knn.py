"""Exact kNN join via cell-ring expansion (SURVEY.md J9).

For each probe point, find the K nearest build points under squared
euclidean degree distance, ties broken by build id. Exactness argument:
after searching the full Chebyshev cell disk of radius r around a
probe's cell, any UNSEEN build point lies in a cell at Chebyshev cell
distance ≥ r+1, hence its coordinate separation along the axis realizing
that distance is ≥ r cells, so

    dist_sq(unseen) ≥ (r * min(cell_w_deg, cell_h_deg))²  =: safe(r)

A probe is *settled* once it has ≥ K candidates and its current K-th
distance ≤ safe(r). Unsettled probes expand to the next annulus; rounds
grow geometrically so the driver loop is O(log grid) joins, each joining
ONLY the still-unsettled probes (monotonically shrinking).

Longitude wraps (ring x mod 2^res); the distance metric itself does not
wrap — the wrap only ever ADDS candidates, never loses one, so
exactness is preserved (same metric as the brute-force oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import cells as C


def _annulus_offsets(r_lo: int, r_hi: int, n: int) -> list[tuple[int, int]]:
    """Offsets with Chebyshev radius in [r_lo, r_hi], canonicalized mod n
    on the wrap axis (x): without canonicalization, rings wider than the
    grid revisit cells and the duplicate candidates corrupt the per-probe
    k-th-distance statistic (dup rows occupy ranks → premature settle)."""
    seen: set[tuple[int, int]] = set()
    out: list[tuple[int, int]] = []
    for r in range(r_lo, r_hi + 1):
        if r == 0:
            cand = [(0, 0)]
        else:
            cand = [(dx, dy)
                    for dx in range(-r, r + 1)
                    for dy in range(-r, r + 1)
                    if max(abs(dx), abs(dy)) == r]
        for dx, dy in cand:
            key = (dx % n, dy)
            if key not in seen:
                seen.add(key)
                out.append((dx % n, dy))
    return out


def knn_join(probe: DataFrame, build: DataFrame, k: int, res: int,
             probe_id: str = "img_id", build_id: str = "polygon_id",
             probe_lat: str = "lat", probe_lon: str = "lon",
             build_lat: str = "clat", build_lon: str = "clon") -> DataFrame:
    """Returns (probe_id, rank, build_id, dist_sq), rank in 1..k by
    (dist_sq ASC, build_id ASC)."""
    spark: SparkSession = probe.sparkSession
    n = 1 << res
    cell_w = 360.0 / n
    cell_h = 180.0 / n
    min_sz = min(cell_w, cell_h)

    build_k = build.select(F.col(build_id).alias("_bid"),
                           F.col(build_lat).alias("_blat"),
                           F.col(build_lon).alias("_blon"))
    bx, by = C.xy_at_col(F.col("_blat"), F.col("_blon"), res)
    build_k = build_k.withColumn("_bkey", bx * F.lit(n) + by)

    unsettled = probe.select(F.col(probe_id).alias("_pid"),
                             F.col(probe_lat).alias("_plat"),
                             F.col(probe_lon).alias("_plon"))
    px, py = C.xy_at_col(F.col("_plat"), F.col("_plon"), res)
    unsettled = unsettled.withColumn("_px", px).withColumn("_py", py)

    dist_sq = ((F.col("_plat") - F.col("_blat")) * (F.col("_plat") - F.col("_blat"))
               + (F.col("_plon") - F.col("_blon")) * (F.col("_plon") - F.col("_blon")))

    # per-probe (dist_sq, build id) order: the rank of the result
    w = Window.partitionBy("_pid").orderBy(F.col("_dist_sq").asc(),
                                           F.col("_bid").asc())
    acc: DataFrame | None = None
    # geometric annuli: [0,1], [2,3], [4,7], [8,15], ... up to the grid
    bounds = [(0, 1)]
    while bounds[-1][1] < n:
        lo = bounds[-1][1] + 1
        bounds.append((lo, min(2 * lo - 1, n)))

    searched: set[tuple[int, int]] = set()
    for (r_lo, r_hi) in bounds:
        offsets = [o for o in _annulus_offsets(r_lo, r_hi, n) if o not in searched]
        searched.update(offsets)
        if not offsets:
            if r_hi >= n:
                break
            continue
        off_col = F.array([F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                           for dx, dy in offsets])
        cand = (unsettled
                .withColumn("_o", F.explode(off_col))
                .withColumn("_cy", F.col("_py") + F.col("_o.dy"))
                .filter((F.col("_cy") >= 0) & (F.col("_cy") < n))
                .withColumn("_cx", F.pmod(F.col("_px") + F.col("_o.dx"), F.lit(n)))
                .withColumn("_bkey", F.col("_cx") * F.lit(n) + F.col("_cy"))
                .drop("_o", "_cx", "_cy")
                .join(F.broadcast(build_k), on="_bkey", how="inner")
                .withColumn("_dist_sq", dist_sq)
                .select("_pid", "_plat", "_plon", "_px", "_py", "_bid", "_dist_sq"))

        acc = cand if acc is None else acc.unionByName(cand)
        # dedup before the settle test: duplicate (probe, build) rows
        # would occupy ranks and understate the k-th distance
        acc = acc.dropDuplicates(["_pid", "_bid"])
        # prune to the per-probe top-k NOW: a row outside the current
        # top-k can never re-enter it (distances are fixed), and the
        # prune bounds the checkpointed state at k·|probe| rows — the
        # difference between bounded and unbounded memory at 10^12 scale
        acc = (acc.withColumn("_rn", F.row_number().over(w))
               .filter(F.col("_rn") <= k).drop("_rn"))
        acc = acc.localCheckpoint(eager=True)  # truncate lineage per round

        # acc already holds each probe's unique top-k: its size and
        # largest distance are the settle statistics
        safe = (r_hi * min_sz) ** 2
        stats = (acc.groupBy("_pid")
                 .agg(F.count("*").alias("_cnt"), F.max("_dist_sq").alias("_kth")))
        # STRICT <: an unseen point exactly ON the annulus boundary
        # gridline can tie _kth and win the (dist, bid) tie-break —
        # same exactness rule as s2_knn_join's settle
        settled_ids = stats.filter((F.col("_cnt") >= k) & (F.col("_kth") < F.lit(safe)))
        unsettled = (unsettled.join(settled_ids.select("_pid"), on="_pid", how="left_anti")
                     .localCheckpoint(eager=True))
        if r_hi >= n or unsettled.isEmpty():
            break

    return (acc
            .withColumn("rank", F.row_number().over(w))
            .select(F.col("_pid").alias(probe_id), "rank",
                    F.col("_bid").alias(build_id),
                    F.col("_dist_sq").alias("dist_sq")))


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


def _chord_topk_np(P, B, bids, k):
    """Exact per-probe (chord_sq ASC, build_id ASC) top-k of the probe
    matrix ``P`` (m×3 unit vectors) against the build matrix ``B``
    (n×3) with build ids ``bids`` (n,). Returns (probe_idx, build_idx,
    chord_sq) index arrays, ≤ m·min(k,n) rows.

    The squared chord is accumulated in the SAME order as the Column
    expression in :func:`s2_knn_join` (((dx²+dy²)+dz²)) so a pair
    computed on both paths is bit-identical — prune_topk's
    dropDuplicates may keep either copy. Ties at the k-th boundary are
    resolved exactly: np.partition finds the k-th value, every
    candidate ≤ it is kept, and the (tiny) candidate set is sorted by
    (chord, bid) in Python — argpartition alone would split ties
    arbitrarily and could keep the larger bid."""
    import numpy as np
    m, n = len(P), len(B)
    kk = min(k, n)
    out_p: list[int] = []
    out_b: list[int] = []
    out_d: list[float] = []
    if m == 0 or n == 0:
        return (np.array(out_p, np.int64), np.array(out_b, np.int64),
                np.array(out_d, np.float64))
    # block probes so the (blk, n) distance matrix stays ~32 MB
    blk = max(1, (1 << 22) // n)
    for s in range(0, m, blk):
        Pb = P[s:s + blk]
        d = (Pb[:, 0:1] - B[None, :, 0]) ** 2
        d += (Pb[:, 1:2] - B[None, :, 1]) ** 2
        d += (Pb[:, 2:3] - B[None, :, 2]) ** 2
        if kk < n:
            kth = np.partition(d, kk - 1, axis=1)[:, kk - 1]
        else:
            kth = d.max(axis=1)
        for i in range(len(Pb)):
            cand = np.flatnonzero(d[i] <= kth[i]).tolist()
            cand.sort(key=lambda j: (d[i, j], bids[j]))
            for j in cand[:kk]:
                out_p.append(s + i)
                out_b.append(j)
                out_d.append(float(d[i, j]))
    return (np.array(out_p, np.int64), np.array(out_b, np.int64),
            np.array(out_d, np.float64))


def s2_knn_join(probe: DataFrame, build: DataFrame, k: int,
                start_level: int = 12,
                probe_id: str = "img_id", build_id: str = "polygon_id",
                probe_lat: str = "lat", probe_lon: str = "lon",
                build_lat: str = "clat", build_lon: str = "clon",
                small_build: int = 4096,
                finish_threshold: int = 1024) -> DataFrame:
    """Exact spherical kNN on the TRUE S2 index — the hierarchical
    sibling of :func:`knn_join` (J9's planar ring expansion): instead
    of i/j ring offsets (which would need cross-face wrap math), each
    round searches the probe's level-ℓ ANCESTOR cell minus the already-
    searched level-(ℓ+1) cell — a pure hash equi-join on ancestor keys,
    disjoint across rounds by construction. Exactness: after round ℓ
    every unseen build point lies outside the probe's level-ℓ cell, so
    its squared-chord distance is ≥ the probe's exact distance to the
    cell's 4 edge great-circles (_s2_boundary_chord2_np); a probe with
    ≥ k candidates STRICTLY within that bound is settled (strict so an
    unseen point at exactly the bound can never be beaten out of a
    tie-break it would win). Unsettled probes
    coarsen (4x area per round, ≤ start_level+1 rounds); the residue
    still unsettled after its own FACE is exhausted (points near face
    boundaries) is finished by a broadcast join against the other
    faces' points — a set that shrinks with the k-th distance, never a
    full cross join of the whole probe side.

    Two size-gated exact short-circuits (round 5; the ngram
    ``method='auto'`` router precedent) — the rounds are the right
    plan only when BOTH sides are big:

    * ``small_build``: if the build side has ≤ this many rows, skip
      the rounds entirely — broadcast the (deduped) build matrix into
      one numpy top-k pass over the probe side (mapInPandas). Ranks
      are emitted inside the kernel, so after the one pid-dedup
      shuffle the plan has NO further shuffle and touches each probe
      row once — linear in probes at ANY probe scale. Cost per probe
      row is ~9·n_build flops vs ~rounds·(hash probe + prune shuffle)
      for the hierarchical path; the default 4096 sits above the
      measured crossover. 0 disables.
    * ``finish_threshold``: inside the rounds, once the unsettled set
      is ≤ this many probes, finish it with ONE partial-top-k pass
      over the full build table (probe matrix in the task closure,
      per-Arrow-batch numpy top-k, global window merge) instead of up
      to ``lvl`` more full build-side joins. Exact: per-batch
      (chord, bid) top-k retains every globally rankable candidate.
      0 disables.

    Metric: squared chord (3-D euclidean on unit vectors), monotone in
    angular distance; ties broken by build id. Returns
    (probe_id, rank, build_id, chord_sq)."""
    import numpy as np
    import pandas as pd

    from ..functions import s2 as S2

    def unit(lat, lon):
        return S2.latlon_xyz_cols(F.col(lat), F.col(lon))

    pid_dt = probe.schema[probe_id].dataType.simpleString()
    bid_dt = build.schema[build_id].dataType.simpleString()
    bx, by, bz = unit(build_lat, build_lon)

    if small_build and build.count() <= small_build:
        # Build side is driver-small: the hierarchical rounds would pay
        # up to start_level+1 full joins against a table that fits in
        # every task's memory. One numpy top-k pass over the probe side
        # instead; ranks come out of the kernel, so the only shuffle in
        # the whole plan is the pid dedup.
        bpdf = (build.select(F.col(build_id).alias("_bid"),
                             bx.alias("_bx"), by.alias("_by"),
                             bz.alias("_bz"))
                .dropDuplicates(["_bid"]).toPandas())
        B = bpdf[["_bx", "_by", "_bz"]].to_numpy(np.float64)
        bids = bpdf["_bid"].to_numpy()
        px0, py0, pz0 = unit(probe_lat, probe_lon)
        probes = (probe.select(F.col(probe_id).alias("_pid"),
                               px0.alias("_px"), py0.alias("_py"),
                               pz0.alias("_pz"))
                  .dropDuplicates(["_pid"]))

        def bcast_topk(batches):
            for b in batches:
                P = np.stack([b["_px"].to_numpy(np.float64),
                              b["_py"].to_numpy(np.float64),
                              b["_pz"].to_numpy(np.float64)], axis=1)
                pi, bi, dd = _chord_topk_np(P, B, bids, k)
                if not len(pi):
                    continue
                # kernel emits each probe's candidates contiguously in
                # rank order — rank = offset from the group's first row
                first = np.searchsorted(pi, pi, side="left")
                yield pd.DataFrame({
                    probe_id: b["_pid"].to_numpy()[pi],
                    "rank": (np.arange(len(pi)) - first + 1)
                    .astype(np.int32),
                    build_id: bids[bi],
                    "chord_sq": dd})

        return probes.mapInPandas(
            bcast_topk,
            f"{probe_id} {pid_dt}, rank int, {build_id} {bid_dt}, "
            "chord_sq double")

    build_k = S2.with_s2_cell(
        build.select(F.col(build_id).alias("_bid"),
                     bx.alias("_bx"), by.alias("_by"), bz.alias("_bz")),
        F.col("_bx"), F.col("_by"), F.col("_bz"), out="_bcell"
    ).localCheckpoint(eager=False)

    px_, py_, pz_ = unit(probe_lat, probe_lon)
    unsettled = S2.with_s2_cell(
        probe.select(F.col(probe_id).alias("_pid"),
                     px_.alias("_px"), py_.alias("_py"), pz_.alias("_pz")),
        F.col("_px"), F.col("_py"), F.col("_pz"), out="_pcell"
    ).localCheckpoint(eager=True)

    chord_sq = ((F.col("_px") - F.col("_bx")) * (F.col("_px") - F.col("_bx"))
                + (F.col("_py") - F.col("_by")) * (F.col("_py") - F.col("_by"))
                + (F.col("_pz") - F.col("_bz")) * (F.col("_pz") - F.col("_bz")))
    wk = Window.partitionBy("_pid").orderBy(F.col("_chord_sq").asc(),
                                            F.col("_bid").asc())
    # per-probe (dist_sq, build id) order: the rank of the result
    w = Window.partitionBy("_pid").orderBy(F.col("_dist_sq").asc(),
                                           F.col("_bid").asc())
    acc: DataFrame | None = None

    def prune_topk(df: DataFrame) -> DataFrame:
        # base tables carry duplicate keys (see SQL_J9) — dup
        # (probe, build) rows would occupy ranks and understate the
        # k-th distance, exactly as in the planar knn_join
        return (df.dropDuplicates(["_pid", "_bid"])
                .withColumn("_rn", F.row_number().over(wk))
                .filter(F.col("_rn") <= k).drop("_rn")
                .localCheckpoint(eager=True))

    for lvl in range(start_level, -1, -1):
        pkey = S2.s2_parent_col(F.col("_pcell"), lvl)
        bkey = S2.s2_parent_col(F.col("_bcell"), lvl)
        cand = unsettled.join(build_k, pkey == bkey, "inner")
        if lvl < start_level:
            # annulus: exclude the level-(lvl+1) cell already searched
            cand = cand.filter(
                S2.s2_parent_col(F.col("_pcell"), lvl + 1)
                != S2.s2_parent_col(F.col("_bcell"), lvl + 1))
        cand = cand.select("_pid", "_px", "_py", "_pz", "_pcell", "_bid",
                           chord_sq.alias("_chord_sq"))
        acc = cand if acc is None else acc.unionByName(cand)
        acc = prune_topk(acc)

        # settle bound for each still-unsettled probe at this level
        # (bounded numpy pass over the unsettled set only)
        def bound(batches, _lvl=lvl):
            for b in batches:
                cells = S2.s2_parent_np(b["_pcell"].to_numpy(), _lvl)
                safe = _s2_boundary_chord2_np(
                    b["_px"].to_numpy(), b["_py"].to_numpy(),
                    b["_pz"].to_numpy(), cells)
                yield pd.DataFrame({"_pid": b["_pid"], "_safe": safe})
        safe_df = unsettled.mapInPandas(
            bound, f"_pid {probe.schema[probe_id].dataType.simpleString()}, "
                   "_safe double")
        stats = (acc.groupBy("_pid")
                 .agg(F.count("*").alias("_cnt"),
                      F.max("_chord_sq").alias("_kth")))
        settled = (stats.join(safe_df, "_pid")
                   # STRICT <: at _kth == _safe an unseen boundary
                   # point could tie the k-th distance and win the
                   # (chord, bid) tie-break — one more round (or the
                   # residue/face finish) resolves it exactly
                   .filter((F.col("_cnt") >= k)
                           & (F.col("_kth") < F.col("_safe")))
                   .select("_pid"))
        unsettled = (unsettled.join(settled, "_pid", "left_anti")
                     .localCheckpoint(eager=True))
        n_left = unsettled.count()
        if n_left == 0:
            break
        if finish_threshold and n_left <= finish_threshold:
            # residue finish: the unsettled set is driver-small — one
            # partial-top-k pass over the FULL build table (probe
            # matrix rides in the task closure, ≤ threshold·3 doubles)
            # beats up to lvl more full build-side joins. Per-batch
            # (chord, bid) top-k is merge-safe: a candidate excluded
            # by k batch-mates is dominated globally under the same
            # ordering. Within-batch dup bids are collapsed first —
            # they'd otherwise occupy top-k slots and could evict a
            # distinct bid that the global dedup can't restore.
            res = unsettled.toPandas()
            P = res[["_px", "_py", "_pz"]].to_numpy(np.float64)
            pids = res["_pid"].to_numpy()
            pcells = res["_pcell"].to_numpy()

            def residue_topk(batches):
                for b in batches:
                    bb = b["_bid"].to_numpy()
                    _, first_idx = np.unique(bb, return_index=True)
                    Bm = np.stack([b["_bx"].to_numpy(np.float64),
                                   b["_by"].to_numpy(np.float64),
                                   b["_bz"].to_numpy(np.float64)],
                                  axis=1)[first_idx]
                    bb = bb[first_idx]
                    pi, bi, dd = _chord_topk_np(P, Bm, bb, k)
                    if not len(pi):
                        continue
                    yield pd.DataFrame({
                        "_pid": pids[pi],
                        "_px": P[pi, 0], "_py": P[pi, 1],
                        "_pz": P[pi, 2], "_pcell": pcells[pi],
                        "_bid": bb[bi], "_chord_sq": dd})

            rest = build_k.mapInPandas(
                residue_topk,
                f"_pid {pid_dt}, _px double, _py double, _pz double, "
                f"_pcell long, _bid {bid_dt}, _chord_sq double")
            acc = prune_topk(acc.unionByName(rest))
            break
    else:
        # face exhausted for the residue: finish against OTHER faces
        # (the own face was fully searched at lvl=0). The residue is
        # driver-small by construction — broadcast it.
        rest = (F.broadcast(unsettled).crossJoin(build_k)
                .filter(F.shiftrightunsigned(F.col("_pcell"), 61)
                        != F.shiftrightunsigned(F.col("_bcell"), 61))
                .select("_pid", "_px", "_py", "_pz", "_pcell", "_bid",
                        chord_sq.alias("_chord_sq")))
        acc = prune_topk(acc.unionByName(rest))

    return (acc.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select(F.col("_pid").alias(probe_id), "rank",
                    F.col("_bid").alias(build_id),
                    F.col("_chord_sq").alias("chord_sq")))


def idw_interpolate(sites: DataFrame, samples: DataFrame, k: int,
                    value_col: str, power: float = 2.0,
                    eps_m: float = 1.0, max_broadcast_pairs: int = 4_000_000,
                    site_id: str = "site_id", sample_id: str = "img_id",
                    site_lat: str = "slat", site_lon: str = "slon",
                    sample_lat: str = "lat", sample_lon: str = "lon",
                    **knn_kwargs) -> DataFrame:
    """Inverse-distance-weighted interpolation at query sites — the
    classic GIS gridding/estimation reduction over the exact spherical
    kNN (:func:`s2_knn_join`): value(site) = Σ wᵢ·vᵢ / Σ wᵢ over the
    site's k nearest samples, wᵢ = 1 / max(dᵢ, eps_m)^power with dᵢ
    the great-circle distance (chord→arc via 2R·asin(chord/2); the
    eps_m floor keeps a sample sitting exactly on a site from
    producing an infinite weight).

    Scale shape: the neighbor search is s2_knn_join's size-gated exact
    router (hierarchical ancestor-annulus rounds, or the one-pass
    kernels when a side is driver-small); the value join then runs
    samples ⋈ broadcast(neighbor pairs) — |sites|·k rows broadcast
    against the 10^12-row sample table, ONE scan, no sample-side
    shuffle — and the final groupBy aggregates |sites|·k rows down to
    |sites|. The broadcast is auto-gated on the cheap |sites|·k bound
    (``max_broadcast_pairs``); past the budget the value join degrades
    to a shuffled hash join. The weight math is pure codegen Columns.

    Returns (site_id, idw_value, n_neighbors, d_min_m, d_max_m).
    Float output (trig + ordered float sums are not cross-engine
    bit-exact), so registry exposure is rows-only with a numpy
    brute-force referee in tests/test_idw.py.
    """
    from ..functions.geometry import EARTH_RADIUS_M

    nn = s2_knn_join(sites, samples, k,
                     probe_id=site_id, build_id=sample_id,
                     probe_lat=site_lat, probe_lon=site_lon,
                     build_lat=sample_lat, build_lon=sample_lon,
                     **knn_kwargs)
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
    if sites.count() * k <= max_broadcast_pairs:
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
