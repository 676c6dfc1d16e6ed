"""Spatial equi-join on cell ids + exact refinement (SURVEY.md J7/J8).

Plan shape (scale-first):
  build side:  polygons → covering cells (exploded)     [small vs probe]
  probe side:  images   → single cell id (JVM expression, codegen'd)
  join:        equi-join on ``cell`` — Catalyst broadcasts the build side
               when small; AQE handles moderate skew at runtime
  refine:      exact geometry predicate after the coarse cell match —
               JVM column comparisons for rectangles, vectorized numpy
               ray-casting (Arrow-batched) for general polygons
  skew:        explicit salting for hot cells (Zipf-distributed geodata;
               AQE alone is not sufficient at 10^12 rows) — see
               ``salted_cell_join``.

Because each probe row carries exactly ONE cell, a (probe, polygon) pair
can match in at most one cell → no post-join dedup shuffle is needed.

Reference precedent for the cell key: the Z-order tile of
/root/reference/src/osm/apidb_dump/sql.rs:50-61 (indexed in the apidb
schema, structure.sql:2629). The join itself is the reference's roadmap
item (README.md:44-45) realized Spark-first.
"""

from __future__ import annotations

from typing import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions import cells as C
from ..functions import geometry as G
from ..functions.steps import select_steps
from .util import local_frame, widen

# ---------------------------------------------------------------------------
# covers
# ---------------------------------------------------------------------------

def tag_probe_cells(df: DataFrame, res: int,
                    lat: str = "lat", lon: str = "lon",
                    out: str = "cell") -> DataFrame:
    """Attach the single res-``res`` cell id to a point table (pure JVM,
    built as SQL steps: functions/cells.cell_steps)."""
    return select_steps(df, C.cell_steps(lat, lon, res, out), keep=(out,))


def cover_bbox_cells(df: DataFrame, res: int,
                     left: str = "left", bottom: str = "bottom",
                     right: str = "right", top: str = "top",
                     out: str = "cell") -> DataFrame:
    """Explode each bbox row into its covering res-``res`` cells.

    Pure SQL expressions (sequence + explode + Morton interleave) —
    no Python in the loop, so the cover runs inside whole-stage codegen
    and scales with the build side.
    """
    def span(lo: str, hi: str, offset: float, width: float) -> str:
        return (f"explode(sequence({C.grid_sql(lo, res, offset, width)}, "
                f"{C.grid_sql(hi, res, offset, width)}))")

    xy = (df.selectExpr("*", f"{span(left, right, 180.0, 360.0)} AS _x")
          .selectExpr("*", f"{span(bottom, top, 90.0, 180.0)} AS _y"))
    return select_steps(xy, C.morton_steps("_x", "_y", out, res),
                        keep=(out,)).drop("_x", "_y")


def _polygon_rings(pdf: pd.DataFrame,
                   keys: list[str]) -> tuple[np.ndarray, list]:
    """Rows of one Arrow batch → (polygon index per row, each polygon's
    rings): rows are keyed by the polygon identity columns (OSM way and
    relation ids overlap, so ``source`` is part of the key when
    present), and a polygon's rings are split once, from its first
    row's flat ring columns."""
    poly = pdf.groupby(keys, sort=False, dropna=False).ngroup().to_numpy()
    first = np.unique(poly, return_index=True)[1]
    flat = [pdf[c].to_numpy() for c in G.FLAT_RING_COLS]
    return poly, [G.split_rings(*(a[i] for a in flat)) for i in first]


def cover_polygon_cells_json(polygons: DataFrame, res: int,
                             out: str = "cell") -> DataFrame:
    """Explode general ring polygons (schemas.POLYGONS) into their
    tight covering cells. Rings are replaced by the flat ring columns
    (functions/geometry.flat_ring_cols: built ONCE per polygon, before
    the cover explode), which ride through the join to the PIP refine.
    Each bbox cover cell is kept only when it touches the polygon
    (tighter cover → smaller join): one vectorized test per Arrow batch
    over all its (cell, polygon) rows
    (functions/geometry.rects_intersect_polygons). A NULL ring list
    covers no cell. (The ``_json`` suffix is historical: rings no
    longer cross as JSON.)"""
    flat = widen(polygons).select(
        *[c for c in polygons.columns if c != "rings"], *G.flat_ring_cols())
    covered = cover_bbox_cells(flat, res, out=out)
    keys = _poly_key_cols(polygons, ("polygon_id", "source"))

    def _refine(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf):
                poly, rings = _polygon_rings(pdf, keys)
                bounds = C.cell_bounds_np(pdf[out].to_numpy(), res)
                pdf = pdf[G.rects_intersect_polygons(*bounds, poly, rings)]
            yield pdf

    return covered.mapInPandas(_refine, schema=covered.schema)


# ---------------------------------------------------------------------------
# refinement predicates
# ---------------------------------------------------------------------------

def refine_rect(df: DataFrame, lat: str = "lat",
                lon: str = "lon") -> DataFrame:
    """Exact strict point-in-rectangle (left/bottom/right/top columns)
    — JVM."""
    return df.filter(f"`{lon}` > `left` AND `{lon}` < `right` AND "
                     f"`{lat}` > `bottom` AND `{lat}` < `top`")


def _refine_by_polygon(df: DataFrame, inside) -> DataFrame:
    """Keep the candidate rows of ``df`` (which carry the flat ring
    columns) whose point lies inside their polygon, and drop the ring
    columns. ``inside(pdf, rows, rings)`` answers for the rows of one
    polygon; it runs once per polygon per Arrow batch, the polygon
    keyed by its identity columns (:func:`_polygon_rings`)."""
    keys = _poly_key_cols(df, ("polygon_id", "source"))
    schema = StructType([f for f in df.schema
                         if f.name not in G.FLAT_RING_COLS])
    cols = schema.fieldNames()

    def _refine(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            keep = np.zeros(len(pdf), bool)
            if len(pdf):
                poly, rings = _polygon_rings(pdf, keys)
                order = np.argsort(poly, kind="stable")
                cuts = np.cumsum(np.bincount(poly))[:-1]
                for rows, rr in zip(np.split(order, cuts), rings):
                    keep[rows] = inside(pdf, rows, rr)
            yield pdf.loc[keep, cols]

    return df.mapInPandas(_refine, schema=schema)


def refine_pip(df: DataFrame, lat: str = "lat",
               lon: str = "lon") -> DataFrame:
    """Exact point-in-polygon over candidate rows carrying the flat
    ring columns (:func:`cover_polygon_cells_json`), by the vectorized
    even-odd ray cast (functions/geometry.points_in_polygon) per
    polygon per Arrow batch. Returns the matching rows without the
    ring columns."""
    def inside(pdf, rows, rings):
        return G.points_in_polygon(pdf[lon].to_numpy()[rows],
                                   pdf[lat].to_numpy()[rows], rings)

    return _refine_by_polygon(df, inside)


# ---------------------------------------------------------------------------
# joins
# ---------------------------------------------------------------------------

def cell_join(probe: DataFrame, build_cells: DataFrame,
              cell: str = "cell") -> DataFrame:
    """Coarse equi-join on the cell id, the build side (polygon covers,
    ≪ probe side) broadcast."""
    return probe.join(F.broadcast(build_cells), on=cell, how="inner")


def salted_cell_join(probe: DataFrame, build_cells: DataFrame,
                     n_salt: int, hot: list[int],
                     probe_key: str = "image_id") -> DataFrame:
    """Explicit skew handling: for hot cells, replicate build rows
    ``n_salt``× and scatter probe rows by ``pmod(hash(probe_key), n_salt)``
    so one Zipf-head cell fans across n_salt reducers; cold cells join
    plainly. Layered UNDER AQE skew-join (which splits at partition
    granularity but cannot split a single giant key without salting)."""
    if not hot or n_salt <= 1:
        return cell_join(probe, build_cells)
    # NO filter on the probe's cell column: a Filter predicate inlines
    # the (self-duplicating) Morton expression where whole-stage-codegen
    # CSE does not reach — measured 60x slower than evaluating the same
    # expression in a Project (119s vs 2s on a 20M-row probe). Hot and
    # cold cells are disjoint, so two unfiltered joins partition the
    # matches exactly: hot probe rows only match build_hot (on cell +
    # salt), cold rows only match build_cold (on cell).
    is_hot = F.col("cell").isin([int(h) for h in hot])

    probe_s = probe.withColumn(
        "_salt", F.pmod(F.hash(F.col(probe_key)), F.lit(n_salt)))
    build_hot = (build_cells.filter(is_hot)
                 .withColumn("_salt", F.explode(
                     F.sequence(F.lit(0), F.lit(n_salt - 1)))))
    joined_hot = probe_s.join(build_hot, on=["cell", "_salt"],
                              how="inner").drop("_salt")
    joined_cold = cell_join(probe, build_cells.filter(~is_hot))
    return joined_hot.unionByName(joined_cold)


# cap on the salt factor resolve_salt picks for the hottest cell
MAX_SALT = 64


def resolve_salt(probe: DataFrame, salt, hot: list[int] | None,
                 cell: str = "cell",
                 threshold_rows: int = 2_000_000) -> tuple[int, list[int]]:
    """Resolve salt='auto' into (n_salt, hot_cells): measure the probe's
    per-cell counts once, salt only when a Zipf head actually exists,
    and size n_salt (≤ ``MAX_SALT``) so the hottest cell splits into
    ~threshold-sized shards. Returns the inputs unchanged for explicit
    settings."""
    if salt != "auto":
        return (salt or 0), (hot or [])
    # filter BEFORE the bounded collect: only above-threshold cells come
    # back, so the hot set is never silently truncated by a top-N cap;
    # the 4097-row guard only trips if >4096 cells each exceed the
    # threshold, which is logged (and means the threshold is set far too
    # low for the corpus, not that cells were dropped silently)
    rows = (probe.groupBy(cell).count()
            .filter(F.col("count") > threshold_rows)
            .orderBy(F.desc("count")).limit(4097).collect())
    if len(rows) > 4096:
        import warnings
        warnings.warn(
            f"resolve_salt: >4096 cells exceed threshold_rows="
            f"{threshold_rows}; salting only the hottest 4096 "
            f"(raise the threshold)")
        rows = rows[:4096]
    hot_auto = [r[cell] for r in rows]
    if not hot_auto:
        return 0, []
    n_salt = min(MAX_SALT, -(-max(r["count"] for r in rows) // threshold_rows))
    return max(2, n_salt), hot_auto


def spatial_join_rect(images: DataFrame, rects: DataFrame, res: int,
                      salt: int | str = 0,
                      hot: list[int] | None = None,
                      salt_threshold_rows: int = 2_000_000) -> DataFrame:
    """images(image-ish id, lat, lon) ⋈ rects(polygon_id, left, bottom,
    right, top) → matched rows with exact strict containment.
    ``salt='auto'`` measures per-cell probe counts and salts Zipf-head
    cells automatically (no-op when no cell exceeds the threshold)."""
    probe = tag_probe_cells(images, res)
    build = cover_bbox_cells(rects, res)
    salt, hot = resolve_salt(probe, salt, hot,
                             threshold_rows=salt_threshold_rows)
    if salt and hot:
        joined = salted_cell_join(probe, build, salt, hot)
    else:
        joined = cell_join(probe, build)
    return refine_rect(joined)


def spatial_join_polygons(images: DataFrame, polygons: DataFrame, res: int,
                          salt: int | str = 0,
                          hot: list[int] | None = None,
                          salt_threshold_rows: int = 2_000_000) -> DataFrame:
    """General-polygon spatial join: tight cell cover + numpy ray-cast
    refine, the flat ring columns built once per polygon and carried
    through cover → join → refine. ``salt='auto'`` as in
    spatial_join_rect. Returns matched rows: every image column, the
    ``cell`` and the polygon columns WITHOUT its geometry (``rings``),
    as :func:`s2_spatial_join_polygons` does; a polygon's rows match
    by its identity (``polygon_id`` + ``source`` when present)."""
    probe = tag_probe_cells(images, res)
    salt, hot = resolve_salt(probe, salt, hot,
                             threshold_rows=salt_threshold_rows)
    build = cover_polygon_cells_json(polygons, res)
    if salt and hot:
        joined = salted_cell_join(probe, build, salt, hot)
    else:
        joined = cell_join(probe, build)
    return refine_pip(joined)


# cover rows s2_containment_join broadcasts under broadcast_covers='auto'
MAX_BROADCAST_COVERS = 4_000_000


def s2_containment_join(points: DataFrame, covers: DataFrame,
                        cell: str = "s2_cell", cover: str = "cover_id",
                        broadcast_covers: bool | str = "auto",
                        max_broadcast_rows: int = MAX_BROADCAST_COVERS
                        ) -> DataFrame:
    """Hierarchical S2 containment join: every (point, cover) pair where
    the point's leaf cell is a descendant of the cover cell (covers may
    mix levels — a real S2 cell cover is a union of cells at different
    levels).

    Semantically this is the 1-D range join
    ``point.cell BETWEEN range_min(cover) AND range_max(cover)`` (the
    Hilbert prefix property; the DuckDB oracle runs exactly that), but a
    range predicate forces a nested-loop/IEJoin physical plan. A cover
    at level L contains a leaf iff the leaf's level-L ancestor EQUALS
    the cover id — the ancestor is the range's encoded prefix — so each
    point explodes into its ancestors at the distinct cover levels (at
    most 31, read in the same aggregate as the cover row count) and ONE
    hash equi-join matches that ``_s2anc`` key against ``cover`` (both
    sides folded by :func:`_fold_sql`, so the ids spread over the hash
    relation's slots). The levels are distinct, so a (point, cover) pair matches at most once.
    The plan has one branch whatever the level mix, so the driver
    analyzes and optimizes the probe's encode chain once.

    ``broadcast_covers='auto'`` (default) broadcasts the cover table
    only when it holds at most ``max_broadcast_rows`` rows (counted
    once on the pinned checkpoint); larger covers degrade to one
    shuffled join on the ancestor key instead of OOMing the driver
    (ADVICE r4).

    Skew: on the broadcast path the probe side never shuffles at all,
    so hot cells (one cover cell over a dense city at 10^12 images)
    cost nothing beyond their row count — no reducer ever owns a key.
    On the shuffled path the probe shuffles once (L·N exploded rows for
    L cover levels); the keys are ancestors whose fan-in is bounded by
    cover granularity, and AQE skew-join splits any oversized probe
    partition (inner join: build rows duplicate across splits), so no
    explicit salting layer is needed here — unlike the banded
    self-joins, where a single band key explodes quadratically
    (salted_self_band_join)."""
    # covers fans out (the stats aggregate + the join) and may sit on
    # an expensive upstream plan, which each consumer would re-run —
    # pin it once
    covers = covers.localCheckpoint(eager=False)
    return _ancestor_join(points, covers, _cover_stats(covers, cover),
                          cell, cover, broadcast_covers, max_broadcast_rows)


def _cover_stats(covers: DataFrame, cover: str, *extra: str):
    """One eager aggregate over the pinned covers: their row count
    ``n``, their distinct S2 ``levels``, and the ``extra`` SQL
    aggregates ("expr AS name")."""
    from ..functions import s2 as S2
    level = S2.s2_level_sql(f"`{cover}`")
    return covers.selectExpr("count(1) AS n",
                             f"collect_set({level}) AS levels",
                             *extra).first()


def _ancestor_join(points: DataFrame, covers: DataFrame, stats, cell: str,
                   cover: str, broadcast_covers: bool | str,
                   max_broadcast_rows: int) -> DataFrame:
    """The equi-join of :func:`s2_containment_join` given the pinned
    covers' :func:`_cover_stats`."""
    from ..functions import s2 as S2
    if "_s2anc" in points.columns:
        raise ValueError(
            "s2_containment_join scratch column _s2anc collides with a "
            "points column; rename it first")
    levels = sorted(stats["levels"])
    if not levels:
        return points.limit(0).crossJoin(covers.limit(0))
    if broadcast_covers == "auto":
        broadcast_covers = stats["n"] <= max_broadcast_rows
    if broadcast_covers:
        covers = F.broadcast(covers)
    anc = ", ".join(_fold_sql(S2.s2_parent_sql(f"`{cell}`", lv))
                    for lv in levels)
    return (points.selectExpr("*", f"explode(array({anc})) AS _s2anc")
            .join(covers, F.expr(f"_s2anc = {_fold_sql(f'`{cover}`')}"),
                  "inner")
            .drop("_s2anc"))


def _fold_sql(cid: str) -> str:
    """``cid ^ (cid >>> 32)`` as SQL text (``shiftrightunsigned``: a
    ``>>>`` inside ``array(...)`` does not parse): a bijection on longs,
    so equality of folded keys is equality of ids. Spark's long-keyed
    hash relation (broadcast and shuffled hash joins) takes a key's slot
    from the low bits of ``h ^ (h >> 32)``, ``h = key * 0x9E3779B9``. A
    level-L S2 id ends in 2·(30-L) zero bits and ``h`` keeps them, so at
    coarse levels those slot bits are (nearly) all zero: the cover ids
    pile into a few slots and every probe walks one long run (measured
    on a 4-vCPU VM at local[4]: 4.2M probes against 899 level-4..10
    cap-cover ids took 3.75 s raw and 0.30 s folded). Folding the high half
    into the low half puts the Hilbert position bits where the slot is
    taken."""
    return f"({cid} ^ shiftrightunsigned({cid}, 32))"


def s2_distance_join(probe: DataFrame, sites: DataFrame, radius_m: float,
                     max_level: int = 10, max_cells: int = 64,
                     probe_id: str = "img_id", site_id: str = "site_id",
                     probe_lat: str = "lat", probe_lon: str = "lon",
                     site_lat: str = "slat", site_lon: str = "slon",
                     max_sites: int = 65536) -> DataFrame:
    """Spherical distance join (the ST_DWithin analogue) on the true S2
    index: every (site, probe) pair within ``radius_m`` great-circle
    meters. Completes the spatial-predicate family of the reference's
    spatial-index roadmap item (/root/reference/README.md:44-45)
    alongside containment (J7/J8, s2_containment_join), kNN (J9,
    knn.s2_knn_join) and tile assignment (J10).

    Plan (the cover+refine shape of J7/J8, on the sphere):

    * sites → driver-side spherical-cap covers, all sites in one
      descent (functions/s2.s2_cover_caps_np — COMPLETE: it never
      prunes an intersecting leaf, so no true match can be lost), one
      disjoint mixed-level cell set per site, unioned into a
      ``(site_id, cover_id)`` table of ≤ n_sites·max_cells rows;
    * probe → leaf S2 cell per row (with_s2_cell, pure codegen'd
      Columns), consumed once by the containment join;
    * candidates → hierarchical containment join (each probe row's
      ancestors at the distinct cover levels, one broadcast equi-join
      against the cover ids; the probe side never shuffles on the
      broadcast path);
    * refine → exact ``haversine_m <= radius_m`` (codegen trig
      Columns, JVM-side).

    Each site's cap cover is a DISJOINT cell union and each probe row
    carries exactly one leaf cell, so a (site, probe) pair can match at
    most one cover cell — no post-join dedup shuffle.

    The site list is a driver-bounded QUERY PARAMETER (like the
    polygon covers of the other geo-joins): cover planning is
    driver-side numpy, so ``max_sites`` guards the driver memory and
    the broadcast. Past the budget this raises toward the symmetric
    alternatives (knn.s2_knn_join for nearest-site semantics, or a
    two-sided fixed-level cell-grid join) instead of silently building
    an oversized driver-side cover — the ngram ``method='auto'``
    router precedent.

    Returns the probe columns + ``site_id`` + ``dist_m``.
    """
    from ..functions import s2 as S2
    from .measures import haversine_m

    head = (sites.select(site_id, site_lat, site_lon)
            .dropDuplicates([site_id]))
    rows = head.take(max_sites + 1)
    if len(rows) > max_sites:
        raise ValueError(
            f"s2_distance_join: site table exceeds max_sites="
            f"{max_sites} — cover planning is driver-side; for "
            f"site tables past the budget use knn.s2_knn_join "
            f"(nearest-site) or a fixed-level two-sided cell join")
    radius_rad = float(radius_m) / G.EARTH_RADIUS_M
    site_covers = S2.s2_cover_caps_np(
        [float(r[site_lat]) for r in rows],
        [float(r[site_lon]) for r in rows], [radius_rad] * len(rows),
        max_level=max_level, max_cells=max_cells)
    sid_dt = sites.schema[site_id].dataType.simpleString()
    covers = local_frame(
        probe.sparkSession,
        {site_id: [r[site_id] for r, cover in zip(rows, site_covers)
                   for _ in cover],
         "cover_id": [int(c) for cover in site_covers for c in cover]},
        f"{site_id} {sid_dt}, cover_id long")
    pts = S2.with_s2_cell(
        S2.with_latlon_xyz(probe, probe_lat, probe_lon,
                           ("_s2x", "_s2y", "_s2z")),
        "_s2x", "_s2y", "_s2z").drop("_s2x", "_s2y", "_s2z")
    cand = s2_containment_join(pts, covers, cell="s2_cell",
                               cover="cover_id")
    site_pos = F.broadcast(head)
    dist = haversine_m(F.col(probe_lat), F.col(probe_lon),
                       F.col(site_lat), F.col(site_lon))
    return (cand.join(site_pos, site_id)
            .withColumn("dist_m", dist)
            .filter(F.col("dist_m") <= F.lit(float(radius_m)))
            .drop("cover_id", "s2_cell", site_lat, site_lon))


def _poly_key_cols(polygons: DataFrame,
                   poly_cols: tuple[str, ...]) -> list[str]:
    """Identity columns actually present on the polygon frame —
    OSM polygon_id is unique only per source (way vs relation), so the
    default key is the pair."""
    return [c for c in poly_cols if c in polygons.columns]


def s2_read_region_pruned(table, spark, cover_cells,
                          cell_col: str = "s2_cell"):
    """Read ONLY the data of an S2 region from a cell-keyed snapshot
    table: manifest min/max skipping over the cover's descendant-id
    ranges (one manifest pass, SnapshotTable.read_pruned_multi), then
    the exact containment filter as one ``parent(cell).isin(...)``
    predicate per distinct cover level (hash-set lookups — never a
    256-branch BETWEEN chain, which would push the fused filter past
    the JIT's huge-method limit; see CLAUDE.md). This is the read-path
    payoff of the Hilbert id: 2-D locality == 1-D id locality, so a
    table range-partitioned by ``cell_col`` serves a city-sized region
    from a handful of files out of a 100 TB table — no filesystem
    listing, no full scan. Returns (DataFrame, kept partition names)."""
    import numpy as np

    from ..functions import s2 as S2
    cells = np.asarray(cover_cells, np.int64)
    rn, rx = S2.s2_range_np(cells)
    df, kept = table.read_pruned_multi(
        spark, cell_col, list(zip(rn.tolist(), rx.tolist())))
    if len(cells) == 0:
        # empty region ⇒ empty result (not df.filter(None) / TypeError)
        return df.filter(F.lit(False)), kept
    levels = S2.s2_level_np(cells)
    cond = None
    for lvl in sorted(set(levels.tolist())):
        ids = [int(c) for c, l in zip(cells, levels) if l == lvl]
        pred = F.expr(S2.s2_parent_sql(f"`{cell_col}`", int(lvl))).isin(ids)
        cond = pred if cond is None else (cond | pred)
    return df.filter(cond), kept


def s2_cover_polygons(polygons: DataFrame, max_level: int = 12,
                      max_cells: int = 64,
                      poly_cols: tuple[str, ...] = ("polygon_id", "source"),
                      ) -> DataFrame:
    """Distributed per-polygon S2 cover: (*poly_cols, cover_id) rows,
    one normalized mixed-level cover per polygon, computed as a numpy
    kernel in mapInPandas — cover planning scales with the POLYGON
    table (the planet has ~10^8 polygons; driver-side planning as in
    the synthetic-cap queries would not survive that), while each
    single cover stays a bounded ≤max_cells driver-free computation.
    Every Arrow batch runs ONE cover descent over all rings of all its
    polygons (functions/s2.s2_cover_polygons_np) and builds its output
    with one np.repeat. Rings cross the Arrow boundary in the flat
    layout (functions/geometry.flat_ring_cols, built once per polygon);
    the cover is the normalized union over ALL rings (multipolygons may
    carry several outer rings; holes never make a cover incomplete; a
    NULL ring list has an empty cover). The ≤max_cells budget is TOTAL
    across a polygon's rings (parent-lifting after the union), so
    per-polygon candidate fan-out stays capped even for a
    hundreds-of-rings coastline multipolygon."""
    from ..functions import s2 as S2
    keep = _poly_key_cols(polygons, poly_cols)
    src = polygons.select(*keep, *G.flat_ring_cols())
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in polygons.schema if f.name in keep) + ", cover_id long"

    def _cover(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            flat = zip(*(pdf[c] for c in G.FLAT_RING_COLS))
            polys = [[(r[:, 1], r[:, 0]) for r in G.split_rings(*row)]
                     for row in flat]
            cells = S2.s2_cover_polygons_np(polys, max_level=max_level,
                                            max_cells=max_cells)
            rows = np.repeat(np.arange(len(pdf)), [len(c) for c in cells])
            rep = pdf[keep].iloc[rows].reset_index(drop=True)
            rep["cover_id"] = (np.concatenate(cells) if cells
                               else np.zeros(0, np.int64))
            yield rep

    return src.mapInPandas(_cover, out_schema)


def s2_refine_rings(cand: DataFrame, px: str = "px", py: str = "py",
                    pz: str = "pz") -> DataFrame:
    """Exact even-odd winding refine over candidate rows carrying the
    flat ring columns + unit-vector point components: batched numpy
    kernel per polygon per Arrow batch (per CLAUDE.md, per-row trig
    chains never run as interpreted HOF Columns). Returns the matching
    rows without the ring columns."""
    from ..functions import s2 as S2

    def inside(pdf, rows, rings):
        loops = []
        for r in rings:
            if len(r) > 1 and (r[0] == r[-1]).all():
                r = r[:-1]  # the loop closes implicitly
            loops.append(np.stack(S2._latlon_xyz_np(r[:, 1], r[:, 0]),
                                  axis=1))
        return S2.point_in_spherical_rings_np(
            pdf[px].to_numpy()[rows], pdf[py].to_numpy()[rows],
            pdf[pz].to_numpy()[rows], loops)

    return _refine_by_polygon(cand, inside)


def s2_spatial_join_polygons(images: DataFrame, polygons: DataFrame,
                             lat: str = "lat", lon: str = "lon",
                             max_level: int = 12, max_cells: int = 64,
                             broadcast_covers: bool | str = "auto",
                             broadcast_dim: bool | str = "auto",
                             max_broadcast_dim_rows: int = 500_000,
                             ) -> DataFrame:
    """The north-star spine on the SPHERE: OSM-assembled polygons ⋈
    image points on the true S2 index — the spherical sibling of
    :func:`spatial_join_polygons` (planar Morton path, J7/J8).

    Plan, stage by stage:
      images   → unit vector + leaf S2 cell (whole-stage-codegen
                 projection chain, functions/s2.with_s2_cell)
      polygons → mixed-level covers, DISTRIBUTED per polygon
                 (s2_cover_polygons, mapInPandas numpy kernel)
      join     → hierarchical containment: each image's ancestors at
                 the distinct cover levels, ONE hash equi-join against
                 the cover ids, broadcast auto-gated on cover size
                 (s2_containment_join). Cover cells of one polygon
                 are disjoint (the descend emits a cell XOR its
                 children), so each (image, polygon) candidate appears
                 at most once — no post-join dedup shuffle.
      refine   → exact even-odd winding PIP incl. inner-ring holes
                 (s2_refine_rings, batched numpy), ring geometry joined
                 back as a dim of flat ring columns (built once per
                 polygon) so the cover explode never duplicates rings
                 per cell. ``broadcast_dim='auto'`` (default)
                 broadcasts the rings dim only when at most
                 ``max_broadcast_dim_rows`` polygons have a cover (a
                 polygon without one never reaches the refine) — the
                 threshold is deliberately lower than the cover gate
                 because a dim row carries a polygon's vertices (KBs,
                 not a long). Both gates come from ONE eager aggregate
                 over the pinned covers (:func:`_cover_stats`). Past
                 the gate the dim joins as a shuffled hash join on the
                 polygon key (Catalyst may still broadcast if it fits
                 its byte threshold — size-aware, so safe).

    Returns matched rows: every image column, plus ``s2_cell`` (the
    per-image tile assignment) and the polygon identity columns
    (``polygon_id`` + ``source`` when present — OSM ids are unique
    only per element type)."""
    from ..functions import s2 as S2
    # polygons feeds two branches (covers + rings dim) — pin once
    # (CLAUDE.md fan-out rule)
    polygons = polygons.localCheckpoint(eager=False)
    keep = _poly_key_cols(polygons, ("polygon_id", "source"))
    covers = s2_cover_polygons(polygons, max_level=max_level,
                               max_cells=max_cells
                               ).localCheckpoint(eager=False)
    clash = {"px", "py", "pz", "s2_cell"} & set(images.columns)
    if clash:
        raise ValueError(
            f"s2_spatial_join_polygons scratch/output columns collide "
            f"with image columns {sorted(clash)}; rename them first "
            f"(same guard as s2.with_s2_cell)")
    pts = S2.with_s2_cell(S2.with_latlon_xyz(images, lat, lon),
                          "px", "py", "pz")
    # one eager aggregate decides both broadcast gates
    key = ", ".join(f"`{c}`" for c in keep)
    stats = _cover_stats(covers, "cover_id",
                         f"count(DISTINCT struct({key})) AS polygons")
    cand = _ancestor_join(pts, covers, stats, "s2_cell", "cover_id",
                          broadcast_covers, MAX_BROADCAST_COVERS)
    dim = polygons.select(*keep, *G.flat_ring_cols())
    if broadcast_dim == "auto":
        broadcast_dim = stats["polygons"] <= max_broadcast_dim_rows
    cand = cand.join(F.broadcast(dim) if broadcast_dim else dim, keep)
    refined = s2_refine_rings(cand)
    return refined.select(*images.columns, "s2_cell", *keep)


def s2_multires_rollup(df: DataFrame, levels, aggs,
                       cell: str = "s2_cell") -> DataFrame:
    """Cascaded multi-resolution aggregation on the S2 hierarchy — the
    spherical sibling of the planar ROLLUP (q_rollup_multires /
    raster.py parent-tile arithmetic), built the way a hypertable
    rollup has to be built at 10^12 leaf rows: the leaf table is
    aggregated ONCE (at ``levels[0]``, the finest), and every coarser
    level re-aggregates the PREVIOUS level's partial table via the
    parent bit-math (``s2_parent_sql`` — mask + lsb, no geometry
    recompute). Each cascade step shrinks the input ~4^Δlevel, so the
    total work past the first groupBy is a vanishing fraction of the
    leaf pass — vs one-pass ROLLUP, which shuffles the full leaf table
    once per grouping set.

    ``levels``: strictly decreasing S2 levels, e.g. ``(10, 6, 4)``.
    ``aggs``: mapping ``alias -> (kind, col)`` with kind in
    ``count | sum | min | max`` (col ignored for count; may be a str or
    Column). Only re-aggregable kinds are accepted: count cascades as
    sum-of-counts, sum as sum-of-sums, min/max as themselves. Float
    sums are NOT cascade-exact (fp addition is non-associative) — pass
    an integral column/cast for ``sum`` when bit-exact parity matters
    (the registry oracle proves the cascade == direct-from-leaves on
    integer sums).

    Each level's partial fans out (output union + next cascade step) —
    pinned with a lazy localCheckpoint per the fan-out rule, which also
    caps the cascade's lineage depth.

    Returns ``(level int, cell long, *aliases)``, all levels unioned.
    """
    from ..functions import s2 as S2

    levels = list(levels)
    if len(levels) < 1 or len(set(levels)) != len(levels) or \
            levels != sorted(levels, reverse=True):
        raise ValueError("levels must be strictly decreasing S2 levels")
    from .util import cascade_aggs
    leaf_aggs, re_aggs = cascade_aggs(aggs)
    cur = (df.groupBy(F.expr(S2.s2_parent_sql(f"`{cell}`", levels[0]))
                      .alias("cell"))
           .agg(*leaf_aggs)
           .select(F.lit(levels[0]).alias("level"), "*")
           .localCheckpoint(eager=False))
    out = cur
    for lv in levels[1:]:
        cur = (cur.groupBy(F.expr(S2.s2_parent_sql("cell", lv))
                           .alias("cell"))
               .agg(*re_aggs)
               .select(F.lit(lv).alias("level"), "*")
               .localCheckpoint(eager=False))
        out = out.unionByName(cur)
    return out


def _cover_fanout_guard(df: DataFrame, res: int, left: str, bottom: str,
                        right: str, top: str, max_cells: int) -> DataFrame:
    """In-task scale guard for bbox cell covers: raises when one box
    would explode into more than ``max_cells`` res-``res`` cells (a
    world-spanning box at res 10 is ~10^6 rows). The raise_error is
    folded into a column the cover actually uses (the tiles.tile_cover
    pattern — a guard in a dropped column is pruned by Catalyst)."""
    def span(lo: str, hi: str, off: float, width: float) -> str:
        return (f"({C.grid_sql(hi, res, off, width)} - "
                f"{C.grid_sql(lo, res, off, width)} + 1)")

    ncells = (f"{span(left, right, 180.0, 360.0)} * "
              f"{span(bottom, top, 90.0, 180.0)}")
    msg = (f"concat('overlap_join_rect: a box covers > {max_cells} cells "
           f"at res {res} (box: ', CAST(`{left}` AS STRING), '..', "
           f"CAST(`{right}` AS STRING), '); pre-split giant boxes or "
           f"lower res / raise max_cells_per_box')")
    # a box with a NULL or NaN edge covers no cell (NULL count): kept
    return df.withColumn(left, F.expr(
        f"CASE WHEN {ncells} > {int(max_cells)} THEN "
        f"CAST(raise_error({msg}) AS DOUBLE) ELSE `{left}` END"))


def overlap_join_rect(a: DataFrame, b: DataFrame, res: int,
                      a_id: str = "polygon_id",
                      b_id: str = "polygon_id",
                      max_cells_per_box: int | None = 4096) -> DataFrame:
    """Rectangle↔rectangle OVERLAP join — the conflation predicate
    (old vs new footprints, polygon sets from two sources) completing
    the planar family next to containment (J7/J8), kNN (J9) and
    raster assignment (J10).

    Scale shape: both sides explode into their res-``res`` covering
    cells (``cover_bbox_cells`` — SQL steps, codegen) and meet in ONE
    hash equi-join on the cell id. A pair sharing k cells would emit k
    duplicates; instead of a post-join DISTINCT (a second full shuffle
    of the pair set), each pair is emitted ONLY by the cell containing
    its intersection's bottom-left corner ``(max(lefts), max(bottoms))``
    — that corner lies inside both rectangles, so its cell is in both
    covers, and it is unique per pair: duplicate-free output with ZERO
    additional shuffle (the reference-domain analogue of the classic
    partition-based spatial-merge ownership rule). Exact strict-overlap
    refine + the ownership filter run in the join's own stage.

    Returns (a_id, b_id, il, ib, ir, it, inter_area, iou) where the i*
    columns are the intersection bbox and ``iou`` the standard
    conflation score inter/(area_a + area_b - inter) — every float is
    greatest/least/±/× of identically-derived input edges, so the
    whole row stays cross-engine hash-stable."""
    pa = (a.select(F.col(a_id).alias("a_id"),
                   F.col("left").alias("al"), F.col("bottom").alias("ab"),
                   F.col("right").alias("ar"), F.col("top").alias("at")))
    pb = (b.select(F.col(b_id).alias("b_id"),
                   F.col("left").alias("bl"), F.col("bottom").alias("bb"),
                   F.col("right").alias("br"), F.col("top").alias("bt")))
    if max_cells_per_box is not None:
        pa = _cover_fanout_guard(pa, res, "al", "ab", "ar", "at",
                                 max_cells_per_box)
        pb = _cover_fanout_guard(pb, res, "bl", "bb", "br", "bt",
                                 max_cells_per_box)
    ca = cover_bbox_cells(pa, res, left="al", bottom="ab",
                          right="ar", top="at")
    cb = cover_bbox_cells(pb, res, left="bl", bottom="bb",
                          right="br", top="bt")
    # the intersection bbox; the pair's owner cell holds its
    # bottom-left corner
    j = select_steps(ca.join(cb, on="cell", how="inner"), [
        ("il", "greatest(`al`, `bl`)"), ("ib", "greatest(`ab`, `bb`)"),
        ("ir", "least(`ar`, `br`)"), ("it", "least(`at`, `bt`)"),
        *C.cell_steps("ib", "il", res, "_own")],
        keep=("il", "ib", "ir", "it", "_own"))
    inter = "(`ir` - `il`) * (`it` - `ib`)"
    return (j.filter("`al` < `br` AND `bl` < `ar` AND `ab` < `bt` AND "
                     "`bb` < `at` AND cell = _own")
            .selectExpr("a_id", "b_id", "il", "ib", "ir", "it",
                        f"{inter} AS inter_area",
                        f"{inter} / ((`ar` - `al`) * (`at` - `ab`) + "
                        f"(`br` - `bl`) * (`bt` - `bb`) - {inter}) AS iou"))
