"""Query + oracle registry (the driver correctness gate).

Each entry pairs a Spark implementation (exercising an engine operator
from SURVEY.md §2) with an ANSI-SQL oracle DuckDB runs on the same
parquet tables. Determinism rules that make cross-engine value-hash
comparison sound:

* Geo columns are synthesized with INTEGER modular arithmetic
  (``(key * prime) % range / 1e6 - offset``) — bit-exact in any engine.
* Float SUMs are avoided: money/quantity are quantized to integer cents
  (``floor(x*100+0.5)``), embeddings to integer milli-units, so all
  aggregate sums are exact; remaining float columns come from identical
  scalar expression trees (same IEEE ops in the same order).
* Boundary coincidences are excluded by construction: rectangle/triangle
  edges carry a half-micro-degree offset (+5e-7 / +3e-7) so no probe
  coordinate (a multiple of 1e-6) can ever lie exactly on an edge.
* Ranks are tie-broken by id; DuckDB HUGEINT sums / INT ranks are cast
  to BIGINT on both sides.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any, NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions import cells as C
from .functions import geohash as _GH
from .functions import s2 as S2
from .functions import webmercator as _WM
from .functions.hashing import hash64_sql
from .functions.steps import select_steps
from .jobs.engine_zip import build_engine_zip
from .operators import ann as ANN
from .operators import dedup as DD
from .operators import knn as KNN
from .operators import raster as RAS
from .operators import spatial_join as SJ
from .operators import textops as TX

# ---------------------------------------------------------------------------
# synthetic geo tables (shared Spark + SQL fragments)
# ---------------------------------------------------------------------------

RES_JOIN = 10     # spatial join cover resolution
RES_TILE = 7      # raster tile resolution
TILE_Z_PT = 7     # slippy point→tile assignment zoom (10^12-image path)
TILE_Z_COVER = 9  # slippy polygon bbox→tile fan-out zoom
RES_KNN = 4       # kNN grid resolution
K_NN = 3

# NOTE: every decimal literal in shared fragments is written in e-notation
# (1e6, 5e-7, …) or applied to a DOUBLE operand: Spark parses bare decimal
# literals (1000000.0) as DECIMAL and would do exact decimal arithmetic
# where DuckDB does IEEE double — e-notation is DOUBLE in both engines.
_IMG_ID = "(l_orderkey * 10 + l_linenumber)"
_LAT = "(CAST((img_id * 2654435761) % 120000000 AS DOUBLE) / 1e6 - 60.0)"
_LON = "(CAST((img_id * 2971215073) % 360000000 AS DOUBLE) / 1e6 - 180.0)"

IMAGES_SQL = f"""
  SELECT img_id, {_LAT} AS lat, {_LON} AS lon
  FROM (SELECT {_IMG_ID} AS img_id FROM lineitem)
"""

_CLON = "(CAST((p_partkey * 7919) % 344000000 AS DOUBLE) / 1e6 - 172.0)"
_CLAT = "(CAST((p_partkey * 104729) % 116000000 AS DOUBLE) / 1e6 - 58.0)"
_HW = "(0.05 + CAST((p_partkey * 13007) % 450000 AS DOUBLE) / 1e6)"
_HH = "(0.05 + CAST((p_partkey * 17389) % 450000 AS DOUBLE) / 1e6)"
_R1 = "(0.1 + CAST((p_partkey * 23003) % 500000 AS DOUBLE) / 1e6 + 3e-7)"
_R2 = "(0.1 + CAST((p_partkey * 29009) % 500000 AS DOUBLE) / 1e6 + 3e-7)"
_R3 = "(0.1 + CAST((p_partkey * 31013) % 500000 AS DOUBLE) / 1e6 + 3e-7)"

_EDGE_L = "(clon - hw + 5e-7)"
_EDGE_R = "(clon + hw + 5e-7)"
_EDGE_B = "(clat - hh + 5e-7)"
_EDGE_T = "(clat + hh + 5e-7)"

_RECT_CORE = f"""
  SELECT p_partkey AS polygon_id,
         {_CLON} AS clon, {_CLAT} AS clat,
         {_HW} AS hw, {_HH} AS hh
  FROM part WHERE p_partkey % 10 = 0
"""

RECTS_SQL = f"""
  SELECT polygon_id, clon, clat,
         {_EDGE_L} AS "left", {_EDGE_R} AS "right",
         {_EDGE_B} AS "bottom", {_EDGE_T} AS "top"
  FROM ({_RECT_CORE})
"""

_V1X, _V1Y = "(clon + 0.05)", "(clat + r1)"
_V2X, _V2Y = "(clon - 0.9 * r2)", "(clat - 0.7 * r2)"
_V3X, _V3Y = "(clon + 0.8 * r3)", "(clat - 0.6 * r3)"

_TRI_CORE = f"""
  SELECT p_partkey AS polygon_id,
         {_CLON} AS clon, {_CLAT} AS clat,
         {_R1} AS r1, {_R2} AS r2, {_R3} AS r3
  FROM part WHERE p_partkey % 10 = 5
"""

TRIS_SQL = f"""
  SELECT polygon_id,
         {_V1X} AS x1, {_V1Y} AS y1,
         {_V2X} AS x2, {_V2Y} AS y2,
         {_V3X} AS x3, {_V3Y} AS y3
  FROM ({_TRI_CORE})
"""


_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the osm_io_spark package to executors via addPyFile — the
    programmatic twin of ``spark-submit --py-files engine.zip``. Without
    it, pandas-UDF closures fail to unpickle on workers whenever the
    driver process wasn't launched from the repo root."""
    sc = spark.sparkContext
    if id(sc) in _SHIPPED:
        return
    sc.addPyFile(build_engine_zip())
    _SHIPPED.add(id(sc))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_shipped(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def images_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic geotagged probe table (img_id, lat, lon) derived
    deterministically from lineitem — the stand-in for the 10^12-row
    image table's (image_id, lat, lon) projection (image bytes stay out
    of the join; see synth.images_df for the full-width table)."""
    return (_t(spark, sf_dir, "lineitem")
            .select(F.expr(_IMG_ID).alias("img_id"))
            .withColumn("lat", F.expr(_LAT))
            .withColumn("lon", F.expr(_LON)))


def rect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    core = (_t(spark, sf_dir, "part")
            .filter(F.expr("p_partkey % 10 = 0"))
            .select(F.col("p_partkey").alias("polygon_id"),
                    F.expr(_CLON).alias("clon"), F.expr(_CLAT).alias("clat"),
                    F.expr(_HW).alias("hw"), F.expr(_HH).alias("hh")))
    return core.select(
        "polygon_id", "clon", "clat",
        F.expr(_EDGE_L).alias("left"),
        F.expr(_EDGE_R).alias("right"),
        F.expr(_EDGE_B).alias("bottom"),
        F.expr(_EDGE_T).alias("top"))


def tri_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    core = (_t(spark, sf_dir, "part")
            .filter(F.expr("p_partkey % 10 = 5"))
            .select(F.col("p_partkey").alias("polygon_id"),
                    F.expr(_CLON).alias("clon"), F.expr(_CLAT).alias("clat"),
                    F.expr(_R1).alias("r1"), F.expr(_R2).alias("r2"),
                    F.expr(_R3).alias("r3")))
    return core.select(
        "polygon_id",
        F.expr(_V1X).alias("x1"), F.expr(_V1Y).alias("y1"),
        F.expr(_V2X).alias("x2"), F.expr(_V2Y).alias("y2"),
        F.expr(_V3X).alias("x3"), F.expr(_V3Y).alias("y3"))


def rect_polygons_ringed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rects in the general-polygon schema (rings + bbox cols)."""
    ring = F.array(
        F.struct(F.col("left").alias("lon"), F.col("bottom").alias("lat")),
        F.struct(F.col("right").alias("lon"), F.col("bottom").alias("lat")),
        F.struct(F.col("right").alias("lon"), F.col("top").alias("lat")),
        F.struct(F.col("left").alias("lon"), F.col("top").alias("lat")))
    return rect_polygons(spark, sf_dir).select(
        "polygon_id", F.array(ring).alias("rings"),
        "left", "bottom", "right", "top")


def tri_polygons_ringed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the general-polygon schema (rings + bbox cols)."""
    tri = tri_polygons(spark, sf_dir)
    ring = F.array(
        F.struct(F.col("x1").alias("lon"), F.col("y1").alias("lat")),
        F.struct(F.col("x2").alias("lon"), F.col("y2").alias("lat")),
        F.struct(F.col("x3").alias("lon"), F.col("y3").alias("lat")))
    return tri.select(
        "polygon_id",
        F.array(ring).alias("rings"),
        F.least("x1", "x2", "x3").alias("left"),
        F.least("y1", "y2", "y3").alias("bottom"),
        F.greatest("x1", "x2", "x3").alias("right"),
        F.greatest("y1", "y2", "y3").alias("top"))


# ---------------------------------------------------------------------------
# spatial queries (J7-J10, C1, A2, hierarchy rollup)
# ---------------------------------------------------------------------------

def q_entry_flagship(spark, sf_dir):
    """Flagship for the driver smoke check: the J7 spatial cell-join with
    a denser build side (every part row, wider rectangles) so even the
    tiny sf0.001 probe set produces matches."""
    part = _t(spark, sf_dir, "part")
    core = part.select(
        F.col("p_partkey").alias("polygon_id"),
        F.expr(_CLON).alias("clon"), F.expr(_CLAT).alias("clat"),
        F.expr("0.5 + CAST((p_partkey * 13007) % 2000000 AS DOUBLE) / 1e6").alias("hw"),
        F.expr("0.5 + CAST((p_partkey * 17389) % 2000000 AS DOUBLE) / 1e6").alias("hh"))
    rects = core.select(
        "polygon_id",
        F.expr(_EDGE_L).alias("left"), F.expr(_EDGE_R).alias("right"),
        F.expr(_EDGE_B).alias("bottom"), F.expr(_EDGE_T).alias("top"))
    out = SJ.spatial_join_rect(images_probe(spark, sf_dir), rects, res=RES_JOIN)
    return out.select("img_id", "polygon_id", "cell", "lat", "lon")


def q_j7_spatial_cell_join(spark, sf_dir):
    out = SJ.spatial_join_rect(images_probe(spark, sf_dir),
                               rect_polygons(spark, sf_dir), res=RES_JOIN)
    return out.select("img_id", "polygon_id")


SQL_J7 = f"""
WITH images AS ({IMAGES_SQL}), rects AS ({RECTS_SQL})
SELECT i.img_id, r.polygon_id
FROM images i JOIN rects r
  ON i.lon > r."left" AND i.lon < r."right"
 AND i.lat > r."bottom" AND i.lat < r."top"
"""


def q_j8_pip_refine(spark, sf_dir):
    out = SJ.spatial_join_polygons(images_probe(spark, sf_dir),
                                   tri_polygons_ringed(spark, sf_dir),
                                   res=RES_JOIN)
    return out.select("img_id", "polygon_id")


# NB: least/greatest must be materialized in a CTE, not inlined in the
# join ON clause — DuckDB 1.0 hits an internal "flat vector" assertion
# (and invalidates the whole database) on the inlined form at sf>=0.01.
SQL_J8 = f"""
WITH images AS ({IMAGES_SQL}), tris0 AS ({TRIS_SQL}),
tris AS (
  SELECT *, least(x1, x2, x3) AS bl, greatest(x1, x2, x3) AS br,
         least(y1, y2, y3) AS bb, greatest(y1, y2, y3) AS bt
  FROM tris0),
d AS (
  SELECT i.img_id, t.polygon_id,
         (t.x2 - t.x1) * (i.lat - t.y1) - (t.y2 - t.y1) * (i.lon - t.x1) AS d1,
         (t.x3 - t.x2) * (i.lat - t.y2) - (t.y3 - t.y2) * (i.lon - t.x2) AS d2,
         (t.x1 - t.x3) * (i.lat - t.y3) - (t.y1 - t.y3) * (i.lon - t.x3) AS d3
  FROM images i JOIN tris t
    ON i.lon > t.bl AND i.lon < t.br AND i.lat > t.bb AND i.lat < t.bt)
SELECT img_id, polygon_id FROM d
WHERE (d1 > 0 AND d2 > 0 AND d3 > 0) OR (d1 < 0 AND d2 < 0 AND d3 < 0)
"""


def q_j9_knn(spark, sf_dir):
    # NB: img_id = orderkey*10 + linenumber with linenumber in 1..7, so
    # img_id % 10 is never 0 — the probe predicate must not require it.
    probe = images_probe(spark, sf_dir).filter(F.expr("img_id % 1000 < 15"))
    build = rect_polygons(spark, sf_dir).select("polygon_id", "clat", "clon")
    out = KNN.knn_join(probe, build, k=K_NN, res=RES_KNN)
    return out.select("img_id", F.col("rank").cast("long").alias("rank"),
                      "polygon_id", "dist_sq")


SQL_J9 = f"""
WITH images AS ({IMAGES_SQL}),
probe AS (SELECT * FROM images WHERE img_id % 1000 < 15),
rects AS ({_RECT_CORE}),
cand AS (
  -- DISTINCT: base tables contain duplicate keys; the engine's kNN
  -- dedupes (probe, build) pairs, so the oracle must rank distinct pairs
  SELECT DISTINCT p.img_id, r.polygon_id,
         (p.lat - r.clat) * (p.lat - r.clat)
       + (p.lon - r.clon) * (p.lon - r.clon) AS dist_sq
  FROM probe p CROSS JOIN rects r),
ranked AS (
  SELECT img_id, polygon_id, dist_sq,
         row_number() OVER (PARTITION BY img_id ORDER BY dist_sq, polygon_id) AS rnk
  FROM cand)
SELECT img_id, CAST(rnk AS BIGINT) AS rank, polygon_id, dist_sq
FROM ranked WHERE rnk <= {K_NN}
"""


def q_j10_raster_vector(spark, sf_dir):
    out = RAS.raster_vector_assign(images_probe(spark, sf_dir),
                                   rect_polygons(spark, sf_dir), res=RES_TILE)
    return out.select("img_id", "polygon_id")


SQL_J10 = f"""
WITH images AS ({IMAGES_SQL}), rects AS ({RECTS_SQL}),
tiles AS (
  SELECT img_id,
         CAST(floor((lon + 180.0) / 360.0 * {float(1 << RES_TILE)}) AS BIGINT) AS tx,
         CAST(floor((lat + 90.0) / 180.0 * {float(1 << RES_TILE)}) AS BIGINT) AS ty
  FROM images),
tb AS (
  SELECT img_id,
         tx / {float(1 << RES_TILE)} * 360.0 - 180.0 AS tleft,
         (tx + 1) / {float(1 << RES_TILE)} * 360.0 - 180.0 AS tright,
         ty / {float(1 << RES_TILE)} * 180.0 - 90.0 AS tbottom,
         (ty + 1) / {float(1 << RES_TILE)} * 180.0 - 90.0 AS ttop
  FROM tiles)
SELECT t.img_id, r.polygon_id
FROM tb t JOIN rects r
  ON r."left" < t.tright AND r."right" > t.tleft
 AND r."bottom" < t.ttop AND r."top" > t.tbottom
"""


def q_c1_zorder_tile(spark, sf_dir):
    img = images_probe(spark, sf_dir).filter(F.expr("img_id % 37 = 0"))
    return select_steps(img.select("img_id", "lat", "lon"),
                        C.zorder_tile_steps("lat", "lon", "tile"),
                        keep=("tile",)).select("img_id", "tile")


SQL_C1 = f"""
WITH images AS ({IMAGES_SQL})
SELECT img_id, {C.zorder_tile_sql('lat', 'lon')} AS tile
FROM images WHERE img_id % 37 = 0
"""


def q_agg_cell_rollup(spark, sf_dir):
    img = SJ.tag_probe_cells(images_probe(spark, sf_dir), RES_JOIN)
    return (img.withColumn("cell5",
                           F.expr(C.cell_parent_sql("cell", RES_JOIN - 5)))
            .groupBy("cell5").agg(F.count("*").alias("n_images")))


SQL_ROLLUP = f"""
WITH images AS ({IMAGES_SQL})
SELECT {C.cell_at_sql('lat', 'lon', 5)} AS cell5,
       CAST(count(*) AS BIGINT) AS n_images
FROM images GROUP BY 1
"""


def q_a2_bounding_box(spark, sf_dir):
    return images_probe(spark, sf_dir).agg(
        F.min("lon").alias("left"), F.min("lat").alias("bottom"),
        F.max("lon").alias("right"), F.max("lat").alias("top"),
        F.count("*").alias("n"))


SQL_A2 = f"""
WITH images AS ({IMAGES_SQL})
SELECT min(lon) AS "left", min(lat) AS "bottom",
       max(lon) AS "right", max(lat) AS "top",
       CAST(count(*) AS BIGINT) AS n
FROM images
"""


# ---------------------------------------------------------------------------
# relational operators over the star schema (A1/A4/A5/A7, J1/J4, W, F1)
# ---------------------------------------------------------------------------

def q_a1_count_by_type(spark, sf_dir):
    return (_t(spark, sf_dir, "events")
            .groupBy("event_type").agg(F.count("*").alias("n")))


SQL_A1 = "SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY event_type"


def q_a5_latest_version(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("user_id", "event_id", "event_type",
                    F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("value_cents")))


SQL_A5 = """
SELECT user_id, event_id, event_type,
       CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_cents
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1
"""


def q_a4_ordered_assembly(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    refs = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s["l_partkey"].cast("string")),
        ",")
    return (li.groupBy("l_orderkey")
            .agg(refs.alias("refs_str"), F.count("*").alias("n_items")))


SQL_A4 = """
SELECT l_orderkey,
       string_agg(CAST(l_partkey AS VARCHAR), ','
                  ORDER BY l_linenumber, l_partkey) AS refs_str,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem GROUP BY l_orderkey
"""


def q_a7_stats(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        F.min("l_orderkey").alias("min_id"),
        F.max("l_orderkey").alias("max_id"))


SQL_A7 = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       min(l_orderkey) AS min_id, max(l_orderkey) AS max_id
FROM lineitem
"""


def q_j1_sortmerge_group_join(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    li = (_t(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(F.count("*").alias("_n"),
               F.sum(F.expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).alias("_q")))
    return (orders.join(li, orders.o_orderkey == li.l_orderkey, "left")
            .select("o_orderkey",
                    F.coalesce(F.col("_n"), F.lit(0)).alias("n_items"),
                    F.coalesce(F.col("_q"), F.lit(0)).alias("sum_qty_q")))


SQL_J1 = """
SELECT o.o_orderkey,
       CAST(coalesce(l.n, 0) AS BIGINT) AS n_items,
       CAST(coalesce(l.q, 0) AS BIGINT) AS sum_qty_q
FROM orders o LEFT JOIN (
  SELECT l_orderkey, count(*) AS n,
         CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS q
  FROM lineitem GROUP BY l_orderkey) l
ON o.o_orderkey = l.l_orderkey
"""


def q_j4_broadcast_lookup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    sup = F.broadcast(_t(spark, sf_dir, "supplier"))
    nat = F.broadcast(_t(spark, sf_dir, "nation"))
    cents = F.expr("CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) AS BIGINT)")
    return (li.join(sup, li.l_suppkey == sup.s_suppkey)
            .join(nat, sup.s_nationkey == nat.n_nationkey)
            .groupBy("n_name")
            .agg(F.sum(cents).alias("revenue_cents"),
                 F.count("*").alias("n_items")))


SQL_J4 = """
SELECT n.n_name,
       CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5)
                 AS BIGINT)) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


def q_w1_hourly_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (ev.withColumn("hour_bucket",
                          F.floor(F.unix_timestamp("ts") / F.lit(3600)).cast("long"))
            .groupBy("hour_bucket", "event_type")
            .agg(F.count("*").alias("n"),
                 F.sum(F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)")).alias("sum_cents")))


SQL_W1 = """
SELECT CAST(floor(CAST(epoch(ts) AS DOUBLE) / 3600.0) AS BIGINT) AS hour_bucket,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


def q_w2_sessionize_batch(spark, sf_dir):
    """Batch sessionization (the exact-SQL twin of the streaming
    applyInPandasWithState operator): 30-minute-gap sessions via
    lag + running-sum session ids, then per-session aggregates."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    is_new = F.when(
        prev.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev)) > 1800),
        1).otherwise(0)
    sess = (ev.withColumn("_new", is_new)
            .withColumn("session_id", F.sum("_new").over(w).cast("long")))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.min(F.unix_timestamp("ts")).alias("start_epoch"),
                 F.max(F.unix_timestamp("ts")).alias("end_epoch"),
                 F.count("*").alias("n_events")))


SQL_W2 = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
              OR CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT)
               - CAST(floor(CAST(epoch(lag(ts) OVER w) AS DOUBLE)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts,
         CAST(sum(is_new) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS BIGINT) AS session_id
  FROM marked)
SELECT user_id, session_id,
       min(CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT)) AS start_epoch,
       max(CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT)) AS end_epoch,
       CAST(count(*) AS BIGINT) AS n_events
FROM sess GROUP BY user_id, session_id
"""


def q_f1_token_filter(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (docs.filter(F.array_contains(F.split("text", " "), "spark"))
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars")))


SQL_F1 = """
SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE list_contains(string_split(text, ' '), 'spark')
"""

# ---------------------------------------------------------------------------
# SURVEY §2 completeness: A3/A6/O2/C2/C5/F4, top-k, rollup, 3-way assembly
# ---------------------------------------------------------------------------

def q_a3_block_bbox(spark, sf_dir):
    """A3 (osm_data.rs:53-86): block-level bbox — partial bbox per
    storage block, here per coarse cell (the engine's 'block' unit)."""
    img = SJ.tag_probe_cells(images_probe(spark, sf_dir), 5)
    return (img.groupBy("cell")
            .agg(F.min("lon").alias("left"), F.min("lat").alias("bottom"),
                 F.max("lon").alias("right"), F.max("lat").alias("top"),
                 F.count("*").alias("n")))


SQL_A3 = f"""
WITH images AS ({IMAGES_SQL})
SELECT {C.cell_at_sql('lat', 'lon', 5)} AS cell,
       min(lon) AS "left", min(lat) AS "bottom",
       max(lon) AS "right", max(lat) AS "top",
       CAST(count(*) AS BIGINT) AS n
FROM images GROUP BY 1
"""


def q_a6_distinct_dims(spark, sf_dir):
    """A6 (apidb writer.rs:380-463): synthesized dimension emission —
    distinct users with span stats, the Spark form of the B-tree range
    scan that emits the users/changesets tables."""
    return (_t(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.min("event_id").alias("first_event"),
                 F.max("event_id").alias("last_event")))


SQL_A6 = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
       min(event_id) AS first_event, max(event_id) AS last_event
FROM events GROUP BY user_id
"""


def q_o2_global_order(spark, sf_dir):
    """O2 (element.rs:207-318): the total-order contract (type rank,
    then id) realized as an explicit global position column — computed
    scale-safe (range partitions + per-partition offsets, no
    single-task Window; see operators/order.py)."""
    from .operators.order import with_global_position
    ev = _t(spark, sf_dir, "events").filter(F.expr("event_id % 50 = 0"))
    return with_global_position(ev.select("event_id", "event_type"),
                                ["event_type", "event_id"], "pos")


SQL_O2 = """
SELECT event_id, event_type,
       CAST(row_number() OVER (ORDER BY event_type, event_id) AS BIGINT) AS pos
FROM events WHERE event_id % 50 = 0
"""


def q_o5_topk_per_group(spark, sf_dir):
    """Top-k per group (the kNN J9 ranking core in relational form):
    3 priciest lineitems per order."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
    w = Window.partitionBy("l_orderkey").orderBy(
        cents.desc(), F.col("l_linenumber").asc())
    return (li.withColumn("price_cents", cents)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= 3)
            .select("l_orderkey", "rank", "l_linenumber", "price_cents"))


SQL_O5 = """
SELECT l_orderkey, CAST(rnk AS BIGINT) AS rank, l_linenumber, price_cents
FROM (SELECT l_orderkey, l_linenumber,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_cents,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) DESC,
                                         l_linenumber) AS rnk
      FROM lineitem)
WHERE rnk <= 3
"""


def q_c2_fixed_point(spark, sf_dir):
    """C2 (coordinate.rs:19-29): fixed-point lat7/lon7 views
    (half-up rounding = floor(x*1e7+0.5), matching Rust round for the
    coordinate domain) plus the /1e7 decode round-trip."""
    img = images_probe(spark, sf_dir).filter(F.expr("img_id % 41 = 0"))
    return img.select(
        "img_id",
        F.expr("CAST(floor(lat * 1e7 + 0.5) AS BIGINT)").alias("lat7"),
        F.expr("CAST(floor(lon * 1e7 + 0.5) AS BIGINT)").alias("lon7"),
        F.expr("CAST(floor(lat * 1e7 + 0.5) AS BIGINT) / 1e7").alias("lat_rt"),
        F.expr("CAST(floor(lon * 1e7 + 0.5) AS BIGINT) / 1e7").alias("lon_rt"))


SQL_C2 = f"""
WITH images AS ({IMAGES_SQL})
SELECT img_id,
       CAST(floor(lat * 1e7 + 0.5) AS BIGINT) AS lat7,
       CAST(floor(lon * 1e7 + 0.5) AS BIGINT) AS lon7,
       CAST(floor(lat * 1e7 + 0.5) AS BIGINT) / 1e7 AS lat_rt,
       CAST(floor(lon * 1e7 + 0.5) AS BIGINT) / 1e7 AS lon_rt
FROM images WHERE img_id % 41 = 0
"""


def q_c5_timestamp_convert(spark, sf_dir):
    """C5 (sql.rs:6-8,38-48; converters/mod.rs:4-8): timestamp
    parse/format — epoch seconds and the apidb naive text format."""
    ev = _t(spark, sf_dir, "events").filter(F.expr("event_id % 100 = 0"))
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
        F.date_format("ts", "yyyy-MM-dd").alias("day_str"))


SQL_C5 = """
SELECT event_id,
       CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT) AS epoch_s,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
       strftime(ts, '%Y-%m-%d') AS day_str
FROM events WHERE event_id % 100 = 0
"""


def q_f4_current_visible(spark, sf_dir):
    """F4 + A5 (current_object.rs:18-31,55-68): the 'current_*' view —
    latest version per key, row suppressed when the latest version is
    invisible (visible := event_id % 7 != 0)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())
    return (ev.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & F.expr("event_id % 7 != 0"))
            .select("user_id", "event_id", "event_type"))


SQL_F4 = """
SELECT user_id, event_id, event_type
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND event_id % 7 != 0
"""


def q_rollup_multires(spark, sf_dir):
    """Hierarchical cell rollup (hypertable-style): one pass producing
    res-5, res-3, and global aggregates via ROLLUP; parent cell is pure
    bit arithmetic (cell >> 2·steps), so the rollup never recomputes
    geometry."""
    img = SJ.tag_probe_cells(images_probe(spark, sf_dir), 5)
    img = (img.withColumnRenamed("cell", "cell5")
           .withColumn("cell3", F.expr(C.cell_parent_sql("cell5", 2))))
    return (img.rollup("cell3", "cell5")
            .agg(F.count("*").alias("n_images"),
                 F.grouping_id().alias("gid"))
            .select(F.coalesce("cell3", F.lit(-1)).alias("cell3"),
                    F.coalesce("cell5", F.lit(-1)).alias("cell5"),
                    F.col("gid").cast("long").alias("gid"),
                    "n_images"))


SQL_ROLLUP_MR = f"""
WITH images AS ({IMAGES_SQL}),
cells AS (
  SELECT {C.cell_at_sql('lat', 'lon', 5)} AS cell5,
         {C.cell_at_sql('lat', 'lon', 3)} AS cell3
  FROM images)
SELECT coalesce(cell3, -1) AS cell3, coalesce(cell5, -1) AS cell5,
       CAST(GROUPING(cell3, cell5) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n_images
FROM cells GROUP BY ROLLUP(cell3, cell5)
"""


def q_j3_member_assembly(spark, sf_dir):
    """J3 (relation_relations_reader.rs:70-160) in relational form:
    heterogeneous member assembly — per parent, an ordered list of
    (type, id, role) members with the member type decoded from a coded
    column, exactly the relation_members recomposition."""
    li = _t(spark, sf_dir, "lineitem")
    mtype = (F.when(F.col("l_returnflag") == "A", "Node")
             .when(F.col("l_returnflag") == "R", "Way")
             .otherwise("Relation"))
    member = F.concat_ws(":", mtype, F.col("l_partkey").cast("string"),
                         F.col("l_linestatus"))
    members = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("l_linenumber", "l_partkey", member.alias("_m")))),
            lambda s: s["_m"]),
        ",")
    return (li.groupBy("l_orderkey")
            .agg(members.alias("members_str"),
                 F.count("*").alias("n_members")))


SQL_J3 = """
SELECT l_orderkey,
       string_agg(
         (CASE WHEN l_returnflag = 'A' THEN 'Node'
               WHEN l_returnflag = 'R' THEN 'Way'
               ELSE 'Relation' END) || ':' ||
         CAST(l_partkey AS VARCHAR) || ':' || l_linestatus,
         ',' ORDER BY l_linenumber, l_partkey,
             (CASE WHEN l_returnflag = 'A' THEN 'Node'
                   WHEN l_returnflag = 'R' THEN 'Way'
                   ELSE 'Relation' END) || ':' ||
             CAST(l_partkey AS VARCHAR) || ':' || l_linestatus) AS members_str,
       CAST(count(*) AS BIGINT) AS n_members
FROM lineitem GROUP BY l_orderkey
"""


def q_j2_threeway_assembly(spark, sf_dir):
    """J2 (way_relations_reader.rs:69-160) in relational form: 3-way
    join parent ⋈ ordered-children ⋈ broadcast dim, children assembled
    positionally (way → refs with node order preserved)."""
    orders = _t(spark, sf_dir, "orders")
    cust = F.broadcast(_t(spark, sf_dir, "customer"))
    li = _t(spark, sf_dir, "lineitem")
    refs = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("l_linenumber", "l_partkey"))),
            lambda s: s["l_partkey"].cast("string")),
        ",")
    items = li.groupBy("l_orderkey").agg(refs.alias("refs_str"),
                                         F.count("*").alias("n_items"))
    return (orders.join(items, orders.o_orderkey == items.l_orderkey, "inner")
            .join(cust, orders.o_custkey == cust.c_custkey, "inner")
            .select("o_orderkey", "c_name", "refs_str", "n_items"))


SQL_J2 = """
SELECT o.o_orderkey, c.c_name, l.refs_str, l.n_items
FROM orders o
JOIN (SELECT l_orderkey,
             string_agg(CAST(l_partkey AS VARCHAR), ','
                        ORDER BY l_linenumber, l_partkey) AS refs_str,
             CAST(count(*) AS BIGINT) AS n_items
      FROM lineitem GROUP BY l_orderkey) l
  ON o.o_orderkey = l.l_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


# ---------------------------------------------------------------------------
# text analysis (documents)
# ---------------------------------------------------------------------------

_STOP_SQL = ", ".join(f"'{w}'" for w in TX.STOPWORDS)


def q_text_token_count(spark, sf_dir):
    return TX.token_count(_t(spark, sf_dir, "documents"))


SQL_TOKENS = """
SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
FROM documents
"""


def q_text_token_count_bpe(spark, sf_dir):
    """BPE-pre-tokenizer token counting (space-glued letter/digit/punct
    runs; textops.BPE_PRETOKEN_RE is restricted to the Java-regex ∩ RE2
    common subset so Spark and DuckDB tokenize identically)."""
    return TX.bpe_token_count(_t(spark, sf_dir, "documents"))


SQL_TOKENS_BPE = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{TX.BPE_PRETOKEN_RE}')) AS BIGINT)
           AS n_bpe_tokens,
       CAST(len(list_distinct(regexp_extract_all(text, '{TX.BPE_PRETOKEN_RE}')))
           AS BIGINT) AS n_distinct_pretokens
FROM documents
"""


def q_sample_mixture(spark, sf_dir):
    """Deterministic data mixing (operators/sampling.py): per-source
    hash-threshold rates in one pushed-down pass — reproducible across
    engines/partitionings/reruns, unlike RNG df.sample()."""
    from .operators import sampling as SP
    docs = (_t(spark, sf_dir, "documents")
            .select("doc_id",
                    F.element_at(F.array(F.lit("web"), F.lit("code"),
                                         F.lit("books")),
                                 (F.pmod(F.col("doc_id"), F.lit(3)) + 1
                                  ).cast("int")).alias("source")))
    out = SP.mixture_sample(docs, "source",
                            {"web": 0.5, "code": 0.8, "books": 0.2},
                            key_col="doc_id")
    return out.select("doc_id", "source")


def _sample_mixture_sql() -> str:
    from .operators.sampling import sample_u_sql
    u = sample_u_sql("doc_id", "mix")
    return f"""
WITH src AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'web' WHEN 1 THEN 'code'
              ELSE 'books' END AS source
  FROM documents)
SELECT doc_id, source FROM src
WHERE {u} < CASE source WHEN 'web' THEN 0.5 WHEN 'code' THEN 0.8
                        ELSE 0.2 END
"""


SQL_SAMPLE_MIX = _sample_mixture_sql()


def q_text_chunks(spark, sf_dir):
    """Fixed-window sequence building (textops.chunk_tokens): each doc's
    token stream split into 32-token chunks — one row per chunk with the
    rejoined text, the shape a packing/tokenization stage consumes."""
    return TX.chunk_tokens(_t(spark, sf_dir, "documents"), seq_len=32)


SQL_TEXT_CHUNKS = """
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents),
c AS (
  SELECT doc_id, toks,
         unnest(range(0, CAST(ceil(CAST(n AS DOUBLE) / 32.0) AS BIGINT)))
             AS chunk_idx
  FROM t WHERE n > 0)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(len(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32]) AS BIGINT)
           AS n_tokens,
       array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ')
           AS chunk_text
FROM c
"""


def q_text_language_id(spark, sf_dir):
    return TX.language_id(_t(spark, sf_dir, "documents"))


SQL_LANG = f"""
WITH t AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS stop_hits,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents)
SELECT doc_id, stop_hits,
       CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) AS stop_ratio,
       CASE WHEN CAST(stop_hits AS DOUBLE) / CAST(n_tok AS DOUBLE) >= 0.05
            THEN 'en' ELSE 'unk' END AS lang_pred
FROM t
"""


def q_text_quality(spark, sf_dir):
    return TX.quality_score(_t(spark, sf_dir, "documents"))


SQL_QUALITY = f"""
WITH t AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars_calc,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS hits
  FROM documents)
SELECT doc_id, n_chars_calc, n_tokens,
       CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_tok_len,
       CAST(hits AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
       (CAST(n_chars_calc - (n_tokens - 1) AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 0.25
       + (CAST(hits AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 10.0 AS quality
FROM t
"""


def q_text_fingerprint(spark, sf_dir):
    return TX.fingerprint(_t(spark, sf_dir, "documents"))


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(CAST(list_sort(list_distinct(string_split(text, ' ')))
                           AS VARCHAR[]), ' ')) AS fingerprint
FROM documents
"""


def q_text_repetition(spark, sf_dir):
    """Within-document repetition ratio (Gopher-style corpus filter):
    1 - distinct/total word 3-gram shingles; highly repetitive docs are
    low-quality training data."""
    from .operators.util import widen
    docs = widen(_t(spark, sf_dir, "documents"))
    toks = F.split(F.col("text"), " ")
    m = F.size(toks) - 2
    # shingles via slices + zip_with (O(n) array ops) rather than an
    # element_at lambda per shingle — ~2x faster in codegen
    t1, t2, t3 = F.slice(toks, 1, m), F.slice(toks, 2, m), F.slice(toks, 3, m)
    sh = F.when(m >= 1, F.zip_with(
        t1, F.zip_with(t2, t3, lambda a, b: F.concat_ws(" ", a, b)),
        lambda a, bc: F.concat_ws(" ", a, bc))).otherwise(
        F.expr("cast(array() as array<string>)"))
    total = F.size(sh).cast("long")
    uniq = F.size(F.array_distinct(sh)).cast("long")
    return (docs.select("doc_id", total.alias("n_shingles"),
                        uniq.alias("n_distinct"))
            .filter(F.col("n_shingles") > 0)
            .withColumn("rep_ratio",
                        F.lit(1.0) - F.col("n_distinct").cast("double")
                        / F.col("n_shingles").cast("double")))


SQL_TEXT_REP = """
WITH sh AS (
  SELECT doc_id,
         [array_to_string(string_split(text, ' ')[i:i+2], ' ')
          for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)] AS shingles
  FROM documents)
SELECT doc_id,
       CAST(len(shingles) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
       1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
           / CAST(len(shingles) AS DOUBLE) AS rep_ratio
FROM sh WHERE len(shingles) > 0
"""


def q_text_vocab(spark, sf_dir):
    """Vocabulary build: corpus-wide token frequency table with a
    deterministic rank (count desc, token asc) — the first step of any
    tokenizer-training pipeline."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    # bounded top-k: sort+limit plans as TakeOrderedAndProject (per-
    # partition heap + driver merge of 200 rows) — scale-safe, unlike a
    # corpus-wide single-partition rank Window. The rank Window below
    # runs on ≤200 rows (bounded by the limit), not the vocabulary.
    top = counts.orderBy(F.col("n").desc(), F.col("token").asc()).limit(200)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return top.withColumn("rank", F.row_number().over(w).cast("long"))


SQL_TEXT_VOCAB = """
SELECT token, CAST(n AS BIGINT) AS n, CAST(rnk AS BIGINT) AS rank
FROM (SELECT token, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, token) AS rnk
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token)
WHERE rnk <= 200
"""


# ---------------------------------------------------------------------------
# dedup family (documents + embeddings)
# ---------------------------------------------------------------------------

CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents
"""

# partial-duplicate corpus: original + copy with the first token dropped
PARTIAL_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 200000 AS doc_id,
         array_to_string(string_split(text, ' ')[2:], ' ') AS text
  FROM documents WHERE len(string_split(text, ' ')) >= 4
"""


def _corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    return docs.unionByName(dup)


def _partial_corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    dropped = (docs.filter(F.size(toks) >= 4)
               .select((F.col("doc_id") + 200000).alias("doc_id"),
                       F.array_join(F.slice(toks, 2, F.size(toks) - 1), " ").alias("text")))
    return docs.unionByName(dropped)


def q_dedup_exact(spark, sf_dir):
    return DD.exact_dedup(_corpus(spark, sf_dir))


SQL_DEDUP_EXACT = f"""
WITH corpus AS ({CORPUS_SQL})
SELECT md5(text) AS text_md5, min(doc_id) AS keep_id,
       CAST(count(*) AS BIGINT) AS n_copies
FROM corpus GROUP BY md5(text)
"""


def q_dedup_minhash_lsh(spark, sf_dir):
    return DD.minhash_lsh_pairs(_corpus(spark, sf_dir), n_perm=8, band_size=2)


def _minhash_sql(n_perm: int = 8, band_size: int = 2) -> str:
    perm_exprs = [hash64_sql(f"'{p}:' || tok") for p in range(n_perm)]
    hs = ", ".join(f"min({e}) AS m{p}" for p, e in enumerate(perm_exprs))
    n_bands = n_perm // band_size
    band_rows = []
    for b in range(n_bands):
        parts = " || '_' || ".join(
            f"CAST(m{b * band_size + j} AS VARCHAR)" for j in range(band_size))
        key = hash64_sql(f"'{b}' || '_' || {parts}")
        band_rows.append(f"SELECT doc_id, {key} AS band FROM sig")
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
toks AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                 for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS tok
  FROM corpus),
sig AS (SELECT doc_id, {hs} FROM toks GROUP BY doc_id),
bands AS ({bands})
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
"""


SQL_DEDUP_MINHASH = _minhash_sql()


def q_dedup_clusters(spark, sf_dir):
    """Near-dup pair graph → duplicate clusters + keep-list (connected
    components via hash-min label propagation; operators/dedup.py
    dedup_clusters). Oracle: transitive closure as a DuckDB recursive
    CTE over the same minhash pairs — transitive duplicates must land
    in one cluster even when their direct pair was never emitted."""
    corpus = _corpus(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, n_perm=8, band_size=2)
    return DD.dedup_clusters(pairs, corpus.select("doc_id"))


# the pair SELECT of _minhash_sql, reused as a CTE body: closure over
# the identical edge set the Spark operator consumes
_MINHASH_PAIRS_BODY = SQL_DEDUP_MINHASH.strip()

SQL_DEDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_BODY}),
corpus AS ({CORPUS_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b AS s, id_a AS t FROM pairs),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.t, r.r FROM reach r JOIN edges e ON e.s = r.v)
SELECT v AS doc_id, min(r) AS cluster_id, min(r) = v AS keep
FROM reach GROUP BY v
"""


CURATE_MIN_QUALITY = 3.5


def q_corpus_curation(spark, sf_dir):
    """End-to-end curation: minhash pairs → duplicate clusters →
    keep/drop decision per document with reason (duplicate removal
    takes precedence over the quality threshold) — the pipeline's final
    artifact. Oracle composes the recursive-CTE closure with the
    quality expression over the same doubled corpus."""
    corpus = _corpus(spark, sf_dir)
    pairs = DD.minhash_lsh_pairs(corpus, n_perm=8, band_size=2)
    clusters = DD.dedup_clusters(pairs, corpus.select("doc_id"))
    quality = TX.quality_score(corpus)
    return TX.curate(corpus, clusters, quality, CURATE_MIN_QUALITY)


SQL_CURATION = f"""
WITH RECURSIVE pairs AS ({_MINHASH_PAIRS_BODY}),
corpus AS ({CORPUS_SQL}),
edges AS (
  SELECT id_a AS s, id_b AS t FROM pairs
  UNION
  SELECT id_b AS s, id_a AS t FROM pairs),
reach(v, r) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.t, r.r FROM reach r JOIN edges e ON e.s = r.v),
clusters AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
qt AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS c,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
         CAST(len(list_filter(string_split(text, ' '),
                              x -> x IN ({_STOP_SQL}))) AS BIGINT) AS h
  FROM corpus),
q AS (
  SELECT doc_id,
         (CAST(c - (n - 1) AS DOUBLE) / CAST(n AS DOUBLE)) * 0.25
         + (CAST(h AS DOUBLE) / CAST(n AS DOUBLE)) * 10.0 AS quality
  FROM qt)
SELECT c.doc_id, c.cluster_id, q.quality,
       CASE WHEN c.cluster_id != c.doc_id THEN 'dropped_duplicate'
            WHEN q.quality < {CURATE_MIN_QUALITY} THEN 'dropped_quality'
            ELSE 'kept' END AS decision
FROM clusters c JOIN q ON c.doc_id = q.doc_id
"""


def q_dedup_simhash(spark, sf_dir):
    return DD.simhash(_t(spark, sf_dir, "documents"), nbits=16)


def _simhash_sql(nbits: int = 16) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(nbits))
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(nbits))
    return f"""
WITH toks AS (
  SELECT doc_id, {hash64_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes
"""


SQL_DEDUP_SIMHASH = _simhash_sql()


def q_dedup_ngram_jaccard(spark, sf_dir):
    return DD.ngram_jaccard_pairs(_partial_corpus(spark, sf_dir), n=3, min_pct=50)


SQL_DEDUP_NGRAM = f"""
WITH corpus AS ({PARTIAL_SQL}),
sh AS (
  SELECT DISTINCT doc_id,
         unnest([array_to_string(string_split(text, ' ')[i:i+2], ' ')
                 for i in range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1)]) AS shingle
  FROM corpus),
sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.id_a, i.id_b, i.inter,
       CAST(sa.sz + sb.sz - i.inter AS BIGINT) AS union_n,
       CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes sa ON i.id_a = sa.doc_id
JOIN sizes sb ON i.id_b = sb.doc_id
WHERE i.inter * 100 >= 50 * (sa.sz + sb.sz - i.inter)
"""


_QUANT = "CAST(floor(CAST({v} AS DOUBLE) * 1000 + 0.5) AS BIGINT)"


def q_dedup_phash_hamming(spark, sf_dir):
    """Fingerprint (simhash/phash-style) near-dup via the pigeonhole
    hamming band join — the image-dedup primitive applied to a text
    fingerprint so DuckDB can oracle it bit-for-bit."""
    corpus = _corpus(spark, sf_dir)
    sim = DD.simhash(corpus, nbits=16)
    return DD.hamming_near_dup_pairs(sim, max_k=2, nbits=16,
                                     fp_col="simhash")


def _hamming_sql(nbits: int = 16, max_k: int = 2) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(nbits))
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(nbits))
    n_bands = max_k + 1
    sizes = [nbits // n_bands + (1 if i < nbits % n_bands else 0)
             for i in range(n_bands)]
    band_rows, s = [], 0
    for bnum, sz in enumerate(sizes):
        band_rows.append(f"SELECT doc_id, simhash, {bnum} AS b, "
                         f"(simhash >> {s}) & {(1 << sz) - 1} AS bits FROM sim")
        s += sz
    bands = " UNION ALL ".join(band_rows)
    return f"""
WITH corpus AS ({CORPUS_SQL}),
toks AS (
  SELECT doc_id, {hash64_sql('tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes),
bands AS ({bands}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b ON a.b = b.b AND a.bits = b.bits
                            AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_k}
"""


SQL_DEDUP_HAMMING = _hamming_sql()


def q_dedup_embedding(spark, sf_dir):
    return DD.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"),
                                       threshold_pct=40)


SQL_DEDUP_EMB = f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_QUANT.format(v='unnest(embedding)')} AS qv
  FROM embeddings),
norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n FROM q GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot_q
  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id)
SELECT d.id_a, d.id_b, d.dot_q,
       CAST(d.dot_q AS DOUBLE) / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cos
FROM dots d
JOIN norms na ON d.id_a = na.vec_id
JOIN norms nb ON d.id_b = nb.vec_id
WHERE d.dot_q > 0 AND d.dot_q * d.dot_q * 10000 >= 1600 * na.n * nb.n
"""


def q_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return ANN.brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


SQL_ANN = f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_QUANT.format(v='unnest(embedding)')} AS qv
  FROM embeddings),
norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n FROM q GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS cand_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot_q
  FROM q a JOIN q b ON a.i = b.i AND a.vec_id < 10 AND b.vec_id != a.vec_id
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.query_id, d.cand_id,
         CAST(d.dot_q AS DOUBLE) / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cos
  FROM dots d
  JOIN norms na ON d.query_id = na.vec_id
  JOIN norms nb ON d.cand_id = nb.vec_id),
ranked AS (
  SELECT query_id, cand_id, cos,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rnk
  FROM scored)
SELECT query_id, CAST(rnk AS BIGINT) AS rank, cand_id, cos
FROM ranked WHERE rnk <= 5
"""


def q_knn_graph(spark, sf_dir):
    """Exact k-nearest-neighbor GRAPH over the full embedding table
    (ann.knn_graph): both sides distributed, blocked int-GEMM partial
    top-k per block pair + window merge. Labeled exact baseline — the
    input-side replication shuffle is n·(n_blocks+1) ≈ n²/block_rows
    vector rows (guarded by max_replicated_rows; knn_graph_ivf is the
    scale route); only the OUTPUT side is bounded at n·k·n_blocks
    partial rows. Oracle: the same quantized-integer cosine with a
    full self-join + window rank in DuckDB."""
    return ANN.knn_graph(_t(spark, sf_dir, "embeddings"), k=5)


SQL_KNN_GRAPH = f"""
WITH q AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i,
         {_QUANT.format(v='unnest(embedding)')} AS qv
  FROM embeddings),
norms AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS n FROM q GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, CAST(sum(a.qv * b.qv) AS BIGINT) AS dot_q
  FROM q a JOIN q b ON a.i = b.i AND b.vec_id != a.vec_id
  GROUP BY a.vec_id, b.vec_id),
scored AS (
  SELECT d.vec_id, d.nbr_id,
         CAST(d.dot_q AS DOUBLE) / (sqrt(CAST(na.n AS DOUBLE)) * sqrt(CAST(nb.n AS DOUBLE))) AS cos
  FROM dots d
  JOIN norms na ON d.vec_id = na.vec_id
  JOIN norms nb ON d.nbr_id = nb.vec_id),
ranked AS (
  SELECT vec_id, nbr_id, cos,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
  FROM scored)
SELECT vec_id, CAST(rnk AS BIGINT) AS rank, nbr_id, cos
FROM ranked WHERE rnk <= 5
"""


# ---------------------------------------------------------------------------
# engine-native queries (non-SQL-expressible → rows-only driver check)
# ---------------------------------------------------------------------------

def _fixture_pbf_path(spark, seed: int = 42, history: bool = False) -> str:
    import os
    import tempfile

    from .sources import synth
    from .sources.pbf import decode as PD
    from .sources.pbf import encode as PE

    ensure_shipped(spark)
    tag = f"{seed}{'h' if history else ''}"
    path = os.path.join(tempfile.gettempdir(), f"osm_io_spark_fixture_{tag}.osm.pbf")
    if not os.path.exists(path):
        nodes, ways, relations, _ = synth.osm_elements_local(
            seed=seed, n_nodes=2000, n_ways=150, n_relations=12, history=history)
        rows = []
        for n in nodes:
            rows.append(("node", n["id"], n["version"], n["lat"], n["lon"],
                         n["timestamp"], n["changeset"], n["uid"], n["user"],
                         n["visible"], n["tags"], None, None))
        for w_ in ways:
            rows.append(("way", w_["id"], w_["version"], None, None,
                         w_["timestamp"], w_["changeset"], w_["uid"], w_["user"],
                         w_["visible"], w_["tags"], w_["refs"], None))
        for r in relations:
            rows.append(("relation", r["id"], r["version"], None, None,
                         r["timestamp"], r["changeset"], r["uid"], r["user"],
                         r["visible"], r["tags"], None, r["members"]))
        els = spark.createDataFrame(rows, schema=PD.ELEMENTS)
        PE.write_pbf(els, path, history=history)
    return path


def q_pbf_roundtrip_counts(spark, sf_dir):
    """S1-S12: synthesize fixture → PBF write → PBF read → count by type
    (the reference's golden-count contract, tests/test_pbf_reader.rs)."""
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    els = PD.read_pbf(spark, path)
    return els.groupBy("etype").agg(
        F.count("*").alias("n"), F.min("id").alias("min_id"),
        F.max("id").alias("max_id"))


def q_polygon_assembly(spark, sf_dir):
    """J2/J3: way/relation → polygon assembly over the PBF fixture."""
    from .operators import assemble as ASM
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    return polys.groupBy("source").agg(
        F.count("*").alias("n_polygons"),
        F.sum(F.size("rings")).alias("n_rings"))


def q_pbf_spatial_join(spark, sf_dir):
    """The full spine: PBF → assembly → cell cover → join + PIP refine
    against a deterministic probe grid (validated vs numpy brute force
    in tests/test_assemble_and_join.py)."""
    from .operators import assemble as ASM
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    probe = (spark.range(20000).select(F.col("id").alias("img_id"))
             .withColumn("lat", F.expr(
                 "CAST((img_id * 2654435761) % 1000000 AS DOUBLE) / 1e6")
                 * F.lit(0.6) - F.lit(19.35))
             .withColumn("lon", F.expr(
                 "CAST((img_id * 2971215073) % 1000000 AS DOUBLE) / 1e6")
                 * F.lit(0.6) - F.lit(170.16)))
    out = SJ.spatial_join_polygons(probe, polys, res=12)
    return out.groupBy("polygon_id", "source").agg(F.count("*").alias("n_images"))


def q_osm_geodesic_stats(spark, sf_dir):
    """Geodesic measures over the assembled OSM fixture — the
    ST_Length / ST_Area analytics of the reference's domain
    (operators/measures.py): per-way great-circle length (haversine
    over ordered node refs) and per-ring spherical excess area of the
    assembled polygons (Van Oosterom & Strackee signed solid-angle
    fan), reduced to per-kind stats. Engine-native rows-only (trig is
    not cross-engine bit-exact); the kernels are verified against
    analytic goldens (equator/meridian arcs, octant ring = πR²/2) and
    an independent Girard angle-sum referee in tests/test_measures.py."""
    from .operators import assemble as ASM
    from .operators import measures as ME
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    els = PD.read_pbf(spark, path)
    nodes, ways, _ = ASM.by_type(ASM.current_elements(els))
    lens = ME.way_lengths(ways, nodes)
    areas = ME.ring_areas(ASM.assemble_polygons(els))
    out_len = lens.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("length_m").alias("sum_v"),
        F.max("length_m").alias("max_v")).select(
            F.lit("way_length_m").alias("kind"), "n", "sum_v", "max_v")
    out_area = areas.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("area_m2").alias("sum_v"),
        F.max("area_m2").alias("max_v")).select(
            F.lit("ring_area_m2").alias("kind"), "n", "sum_v", "max_v")
    return out_len.unionByName(out_area)


def q_ring_centroid(spark, sf_dir):
    """Distributed per-ring planar shoelace area + area-weighted
    centroid (operators/measures.ring_planar_centroids) over the
    part-derived triangles — FULLY ORACLED: pure arithmetic (no trig),
    per-ring sums accumulate in vertex order on both engines, and the
    DuckDB oracle computes the CLOSED FORM for triangles while Spark
    runs the general windowed-ring operator, so hash equality proves
    the window/edge-wrap decomposition exact (the s2_containment_join
    proof pattern: general plan vs independent closed form)."""
    from .operators import measures as ME
    polys = tri_polygons_ringed(spark, sf_dir).select(
        "polygon_id", F.lit("tri").alias("source"), "rings")
    return ME.ring_planar_centroids(polys).drop("source")


# edge order on the Spark side: the pos-0 row's missing lag pairs with
# the ring's LAST vertex, so the per-ring ordered sums are
# c31, c12, c23 — the oracle sums in the same order for fp bit-parity
SQL_RING_CENTROID = f"""
WITH tris AS ({TRIS_SQL}),
c AS (
  SELECT polygon_id, x1, y1, x2, y2, x3, y3,
         (x3 * y1 - x1 * y3) AS c31,
         (x1 * y2 - x2 * y1) AS c12,
         (x2 * y3 - x3 * y2) AS c23
  FROM tris),
s AS (
  SELECT polygon_id,
         CAST(3 AS BIGINT) AS n_vertices,
         (c31 + c12 + c23) / 2 AS area,
         ((x3 + x1) * c31 + (x1 + x2) * c12 + (x2 + x3) * c23) AS sx,
         ((y3 + y1) * c31 + (y1 + y2) * c12 + (y2 + y3) * c23) AS sy,
         (x1 + x2 + x3) AS mx, (y1 + y2 + y3) AS my
  FROM c)
SELECT polygon_id, CAST(0 AS INT) AS ring_idx, n_vertices, area,
       CASE WHEN abs(area) < 1e-12 THEN mx / n_vertices
            ELSE sx / (6 * area) END AS cx,
       CASE WHEN abs(area) < 1e-12 THEN my / n_vertices
            ELSE sy / (6 * area) END AS cy
FROM s
"""


def q_ref_fixture_parity(spark, sf_dir):
    """Decode the reference's own niue-230109.osm.pbf fixture (when
    present) and emit the golden-analysis facts its E2E tests assert:
    per-type counts, min/max ids, and the exact bbox in lat7/lon7 fixed
    point (tests/test_pbf_reader.rs golden contract). Falls back to the
    synthetic fixture when the reference tree is absent."""
    import os
    import tempfile

    ensure_shipped(spark)
    from .sources.pbf import decode as PD
    ref = "/root/reference/tests/fixtures/niue-230109.osm.pbf"
    path = ref if os.path.exists(ref) else _fixture_pbf_path(spark)
    cache = os.path.join(tempfile.gettempdir(),
                         f"osm_io_ref_parity_{os.path.basename(path)}.parquet")
    if not os.path.exists(cache):
        PD.read_pbf(spark, path).write.mode("overwrite").parquet(cache)
    els = spark.read.parquet(cache)
    return (els.groupBy("etype").agg(
        F.count("*").alias("n"),
        F.min("id").alias("min_id"), F.max("id").alias("max_id"),
        F.round(F.min(F.coalesce("lon", F.lit(0.0))) * 1e7).cast("long").alias("left7"),
        F.round(F.min(F.coalesce("lat", F.lit(0.0))) * 1e7).cast("long").alias("bottom7"),
        F.round(F.max(F.coalesce("lon", F.lit(0.0))) * 1e7).cast("long").alias("right7"),
        F.round(F.max(F.coalesce("lat", F.lit(0.0))) * 1e7).cast("long").alias("top7")))


def q_apidb_roundtrip(spark, sf_dir):
    """S7/S8/S11 + J1-J6: elements → apidb pg_dump dir (COPY text, toc) →
    read back → star-schema reassembly (tag/ref/member joins, broadcast
    user lookup) → per-type counts. Exercises the reference's second
    storage format end-to-end (apidb_dump/read + write)."""
    import os
    import tempfile

    from .sources import apidb
    from .sources.pbf import decode as PD

    ensure_shipped(spark)
    path = _fixture_pbf_path(spark)
    dump_dir = os.path.join(tempfile.gettempdir(), "osm_io_spark_apidb_dump")
    if not os.path.exists(os.path.join(dump_dir, "toc.dat")):
        apidb.write_apidb_dump(PD.read_pbf(spark, path), dump_dir)
    els = apidb.elements_from_apidb(apidb.read_apidb_dump(spark, dump_dir))
    return els.groupBy("etype").agg(
        F.count("*").alias("n"),
        F.sum(F.size("tags")).alias("n_tags"),
        F.count_distinct("user").alias("n_users"))


_STREAM_RUN_N = [0]


def q_stream_hourly_window(spark, sf_dir):
    """Structured Streaming: watermarked 1-hour tumbling windows over a
    file-source stream of the events table, drained with availableNow —
    result must equal the batch/SQL aggregation (streaming §2.9)."""
    import os
    import tempfile

    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(4).write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_hourly_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    agg = SE.windowed_counts(SE.stream_events(spark, src),
                             window="1 hour", watermark="30 minutes")
    agg = agg.select(
        F.unix_timestamp("win_start").alias("hour_epoch"),
        "event_type", "n", "sum_cents")
    SE.run_available_now_complete(agg, ckpt, name)
    return spark.table(name)


SQL_STREAM_W = """
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events GROUP BY 1, 2
"""


def q_stream_tile_heatmap(spark, sf_dir):
    """§2.9 × C20: the heatmap binning as a STREAMING spatio-temporal
    density — stateless slippy encode + watermarked windowed counts
    per (hour, tile), drained with availableNow; result must equal the
    batch/SQL aggregation (oracled)."""
    import os
    import tempfile

    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(4).write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_tileheat_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    agg = SE.tile_density_stream(SE.stream_events(spark, src),
                                 zoom=TILE_Z_PT, window="1 hour",
                                 watermark="30 minutes")
    agg = agg.select(F.unix_timestamp("win_start").alias("hour_epoch"),
                     "tx", "ty", "n")
    SE.run_available_now_complete(agg, ckpt, name)
    return spark.table(name)


_STREAM_GEO_SQL = """
  SELECT ts,
         (CAST((user_id * 2654435761) % 120000000 AS DOUBLE) / 1e6 - 60.0) AS lat,
         (CAST((user_id * 2971215073) % 360000000 AS DOUBLE) / 1e6 - 180.0) AS lon
  FROM events
"""

SQL_STREAM_TILEHEAT = f"""
WITH g AS ({_STREAM_GEO_SQL}),
t AS (
  SELECT ts,
         {_WM.tile_x_sql('lon', TILE_Z_PT)} AS tx,
         {_WM.tile_y_sql('lat', TILE_Z_PT)} AS ty
  FROM g)
SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
       tx, ty, CAST(count(*) AS BIGINT) AS n
FROM t GROUP BY 1, 2, 3
"""


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (bounded state via event-time watermark;
    streaming/events.py dedup_stream): the doubled source stream drains
    to exactly the distinct (event_id, ts) set — oracle: SELECT
    DISTINCT over the batch table."""
    import os
    import tempfile

    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_dup_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        # every row twice → the dedup actually has duplicates to drop
        (ev.unionByName(ev).repartition(4)
         .write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_dedup_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    dd = SE.dedup_stream(SE.stream_events(spark, src))
    out = dd.select("event_id", F.unix_timestamp("ts").alias("ts_epoch"))
    SE.run_available_now(out, ckpt, name)
    return spark.table(name)


SQL_STREAM_DD = """
SELECT event_id, CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT) AS ts_epoch
FROM (SELECT DISTINCT event_id, ts FROM events)
"""


def q_stream_sessionize(spark, sf_dir):
    """Custom stateful streaming operator (§2.9): per-user event-time
    sessionization via applyInPandasWithState (gap close + watermark
    timeout), drained with availableNow. Engine-native (stateful
    streaming is not SQL-expressible) — rows-only driver check; batch
    equivalence is asserted in tests/test_streaming.py."""
    import os
    import tempfile

    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(4).write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_sessions_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    sessions = SE.sessionize(SE.stream_events(spark, src),
                             gap="30 minutes", watermark="1 hour")
    SE.run_available_now(sessions, ckpt, name)
    return (spark.table(name)
            .select("user_id",
                    F.unix_timestamp("session_start").alias("start_epoch"),
                    F.unix_timestamp("session_end").alias("end_epoch"),
                    "n_events", "closed_by"))


def q_stream_cell_enrich(spark, sf_dir):
    """Stateless stream-static join (§2.9): streamed events geotagged →
    cell id → broadcast join vs the static polygon-cover table (the J7
    plan shape under Structured Streaming). Engine-native rows-only."""
    import os
    import tempfile

    from .operators import spatial_join as SJ
    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(4).write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_enrich_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    part = _t(spark, sf_dir, "part")
    # large multipliers so centers wrap the modulus (spread globally)
    # even at sf0.001's small p_partkey range
    core = part.select(
        F.col("p_partkey").alias("polygon_id"),
        F.expr("(CAST((p_partkey * 2971215073) % 344000000 AS DOUBLE) / 1e6 - 172.0)").alias("clon"),
        F.expr("(CAST((p_partkey * 2654435761) % 116000000 AS DOUBLE) / 1e6 - 58.0)").alias("clat"),
        F.expr("3.0 + CAST((p_partkey * 13007) % 5000000 AS DOUBLE) / 1e6").alias("hw"),
        F.expr("3.0 + CAST((p_partkey * 17389) % 5000000 AS DOUBLE) / 1e6").alias("hh"))
    rects = core.select(
        "polygon_id",
        F.expr(_EDGE_L).alias("left"), F.expr(_EDGE_R).alias("right"),
        F.expr(_EDGE_B).alias("bottom"), F.expr(_EDGE_T).alias("top"))
    covers = SJ.cover_bbox_cells(rects, RES_JOIN)
    enriched = SE.stream_cell_enrich(SE.stream_events(spark, src),
                                     covers.select("cell", "polygon_id"),
                                     res=RES_JOIN)
    SE.run_available_now(enriched.select("event_id", "user_id",
                                         "cell", "polygon_id"), ckpt, name)
    return spark.table(name)


def q_stream_s2_enrich(spark, sf_dir):
    """§2.9 × C11 (round 5): the stream_cell_enrich shape on the TRUE
    S2 index — streamed events geotagged, leaf-S2-encoded by the
    stateless Column chain, hierarchically containment-joined against
    a static mixed-level cap-cover table (stream-static broadcast
    equi-join per cover level). Engine-native rows-only; the caps are
    sized so the deterministic feed always matches."""
    import os
    import tempfile

    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(), f"osm_io_stream_src_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        (spark.read.parquet(f"{sf_dir}/events.parquet")
         .repartition(4).write.mode("overwrite").parquet(src))
    _STREAM_RUN_N[0] += 1
    name = f"stream_s2_enrich_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    cover_rows = [
        (rid, int(cell))
        for rid, cover in enumerate(S2.s2_cover_caps_np(
            [0.0, 40.0], [0.0, -100.0], [0.5, 0.4], max_level=8,
            max_cells=128))
        for cell in cover]
    covers = spark.createDataFrame(cover_rows, "region_id INT, cover_id LONG")
    enriched = SE.stream_s2_enrich(SE.stream_events(spark, src), covers)
    SE.run_available_now(enriched.select("event_id", "user_id", "s2_cell",
                                         "region_id", "cover_id"),
                         ckpt, name)
    return spark.table(name)


def q_stream_image_dedup(spark, sf_dir):
    """Streaming perceptual image dedup (streaming/events.py
    image_dedup_stream): an upload feed of 240 unique images, each
    re-uploaded 3x under different ids at DIFFERENT event times (+7s,
    +31s — a realistic re-upload feed, well inside the 1h watermark),
    drains to exactly the distinct phash set — content-keyed
    dropDuplicatesWithinWatermark, decode + phash run INSIDE the
    stream (stateless mapInPandas), state bounded by the watermark.
    Engine-native rows-only (binary image corpus); batch-equivalence
    and checkpoint-resume exactly-once asserted in
    tests/test_streaming.py."""
    import os
    import tempfile

    from .sources import synth as SY
    from .streaming import events as SE
    ensure_shipped(spark)
    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    src = os.path.join(tempfile.gettempdir(),
                       f"osm_io_stream_img_src2_{tag}")
    if not os.path.exists(os.path.join(src, "_SUCCESS")):
        base = (SY.images_df(spark, 240, seed=42, partitions=8)
                .withColumn("ts", F.timestamp_seconds(
                    F.lit(1_700_000_000)
                    + F.pmod(F.xxhash64("image_id"), F.lit(86400)))))
        ups = base
        for i, delta_s in ((1, 7), (2, 31)):
            ups = ups.unionByName(
                base.withColumn("image_id",
                                F.concat("image_id", F.lit(f"-up{i}")))
                .withColumn("ts", F.col("ts")
                            + F.expr(f"INTERVAL {delta_s} SECONDS")))
        ups.repartition(4).write.mode("overwrite").parquet(src)
    _STREAM_RUN_N[0] += 1
    name = f"stream_img_dedup_{tag}_{_STREAM_RUN_N[0]}"
    ckpt = tempfile.mkdtemp(prefix="osm_io_stream_ckpt_")
    dd = SE.image_dedup_stream(SE.stream_images(spark, src))
    SE.run_available_now(dd, ckpt, name)
    return spark.table(name)


def q_mm_decode_stats(spark, sf_dir):
    """Multimodal plumbing: deterministic synthetic image table (bytes +
    metadata) → Arrow-batched decode → per-fmt stats + phash check."""
    from .operators import multimodal as MM
    from .sources import synth as SY
    ensure_shipped(spark)
    imgs = SY.images_df(spark, 240, seed=42, partitions=8)
    stats = MM.decode_stats(imgs)
    return stats.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("phash_ok"), 1).otherwise(0)).alias("n_phash_ok"),
        F.sum(F.floor(F.col("mean_pixel") * 1000).cast("long")).alias("mean_pixel_milli_sum"))


def q_mm_row_invariants(spark, sf_dir):
    """The driver's per-row invariant (BASELINE.json input_hint):
    decoded-pixel PSNR ≥ 40 dB vs independently regenerated reference
    pixels + caption equality, aggregated per fmt."""
    from .operators import multimodal as MM
    from .sources import synth as SY
    ensure_shipped(spark)
    imgs = SY.images_df(spark, 240, seed=42, partitions=8)
    inv = MM.invariant_check(imgs, seed=42)
    return inv.groupBy("fmt").agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("psnr_ok"), 1).otherwise(0)).alias("n_psnr_ok"),
        F.sum(F.when(F.col("caption_ok"), 1).otherwise(0)).alias("n_caption_ok"),
        F.floor(F.min("psnr_db")).cast("long").alias("min_psnr_floor"))


# Literal expected-value oracles for the two multimodal invariant
# queries: a SQL engine cannot decode the binary image corpus, but the
# corpus is fully deterministic (seed 42, 240 images, no sf_dir
# dependence) and every aggregate is per-row-deterministic with
# order-invariant integer sums — so the correct output is a CONSTANT,
# checkable as a VALUES table. The values are independently pinned (and
# regenerated on corpus change) by
# tests/test_images.py::test_mm_literal_oracles_match_corpus, which
# recomputes the aggregates from the generator; they are NOT copied
# from a previous run of the Spark query alone.
SQL_MM_STATS = """
SELECT fmt, CAST(n AS BIGINT) AS n,
       CAST(n_phash_ok AS BIGINT) AS n_phash_ok,
       CAST(mean_pixel_milli_sum AS BIGINT) AS mean_pixel_milli_sum
FROM (VALUES ('q5', 80, 80, 10269337),
             ('raw', 160, 160, 20387707))
     AS t(fmt, n, n_phash_ok, mean_pixel_milli_sum)
"""

SQL_MM_INV = """
SELECT fmt, CAST(n AS BIGINT) AS n,
       CAST(n_psnr_ok AS BIGINT) AS n_psnr_ok,
       CAST(n_caption_ok AS BIGINT) AS n_caption_ok,
       CAST(min_psnr_floor AS BIGINT) AS min_psnr_floor
FROM (VALUES ('q5', 80, 80, 80, 40),
             ('raw', 160, 160, 160, 999))
     AS t(fmt, n, n_psnr_ok, n_caption_ok, min_psnr_floor)
"""


def q_mm_phash_near_dup(spark, sf_dir):
    """Image near-dup detection end-to-end: synthetic image table →
    deterministic resize (decode → block-mean → re-encode) → recomputed
    phash on BOTH variants → pigeonhole hamming band join. Each source
    image must pair with its resized twin (engine-native; rows-only
    driver check, brute-force-verified in tests/test_images.py)."""
    from .operators import multimodal as MM
    from .sources import synth as SY
    ensure_shipped(spark)
    both = SY.images_with_twins(spark, 240, with_phash=True)
    stats = MM.decode_stats(both).select("image_id", "phash_calc")
    return DD.hamming_near_dup_pairs(stats, max_k=4, nbits=63,
                                     fp_col="phash_calc", id_col="image_id")


# quality gate = this exact corpus quantile of the exposure score —
# derived per corpus instead of a tuned absolute (the earlier constant
# 0.96 was fit to seed-42's quality range [0.94, 1.0] and a reseed
# silently flipped keep/drop decisions). Exact percentile, so the gate
# is deterministic for a given corpus.
IMG_CURATE_QUALITY_QUANTILE = 0.25


def image_curation_pipeline(spark, n: int = 240, seed: int = 42):
    """The image curation pipeline body, parameterized by corpus size
    and seed so the reseed-robustness test runs the IDENTICAL
    composition the registry query ships."""
    from .operators import multimodal as MM
    from .operators import textops as TX
    from .sources import synth as SY
    ensure_shipped(spark)
    both = SY.images_with_twins(spark, n, seed=seed, with_phash=True)
    # one decode feeds pairs AND quality AND the vertex list — pin it
    # (fan-out rule) so the Arrow decode doesn't re-execute per branch
    # or per clustering round
    stats = (MM.decode_stats(both)
             .select("image_id", "phash_calc", "mean_pixel")
             .localCheckpoint(eager=False))
    pairs = DD.hamming_near_dup_pairs(stats, max_k=4, nbits=63,
                                      fp_col="phash_calc",
                                      id_col="image_id")
    clusters = DD.dedup_clusters(pairs, stats.select("image_id"),
                                 id_col="image_id")
    quality = stats.select(
        "image_id",
        (F.lit(1.0) - F.abs(F.col("mean_pixel") - 127.5) / 127.5)
        .alias("quality"))
    gate = float(quality.agg(F.expr(
        f"percentile(quality, {IMG_CURATE_QUALITY_QUANTILE})"))
        .collect()[0][0])
    return TX.curate(stats, clusters, quality, gate, id_col="image_id")


def q_image_curation(spark, sf_dir):
    """End-to-end curation for the IMAGE modality — the image-side twin
    of corpus_curation: synthetic image corpus + its resized twins →
    batched Arrow decode (recomputed phash + mean pixel, ONE pass) →
    pigeonhole hamming near-dup pairs → duplicate clusters (connected
    components) → per-image keep/drop decision with reason. Duplicate
    removal precedes the quality gate (textops.curate reused with
    id_col='image_id'); quality is a deterministic exposure score
    1 - |mean_pixel - 127.5|/127.5, a pure Column over the decode
    stats — no second decode pass — gated at the corpus's own
    IMG_CURATE_QUALITY_QUANTILE (reseed-robust by construction, pinned
    in tests). Engine-native (rows-only driver check: the corpus is
    binary image bytes a SQL oracle cannot decode); composition +
    reseed robustness verified in tests/test_images.py."""
    return image_curation_pipeline(spark, 240, seed=42)


def mm_embed_near_dup_pipeline(spark, n: int = 240, seed: int = 42):
    """The image-embedding near-dup pipeline body, parameterized so the
    reseed-robustness test runs the identical composition. The cos ≥
    0.98 gate is construction-derived, not corpus-tuned: twins are
    block-mean resizes and the embedding is block means, so twin
    cosine approaches 1 for ANY seed (the reseed test pins this)."""
    from .operators import multimodal as MM
    from .sources import synth as SY
    ensure_shipped(spark)
    both = SY.images_with_twins(spark, n, seed=seed)
    emb = MM.image_embed(both, grid=4).localCheckpoint(eager=False)
    return DD.embedding_near_dup_pairs_ivf(
        emb, threshold_pct=98, n_centroids=8, n_probe=4,
        id_col="image_id")


def q_mm_embed_near_dup(spark, sf_dir):
    """Image-EMBEDDING near-dup: multimodal feature extraction
    (multimodal.image_embed — per-channel block-mean features, the
    deterministic neural-encoder stand-in) feeding the SAME IVF
    embedding-dedup stack the text embeddings use
    (dedup.embedding_near_dup_pairs_ivf, string ids). Sources + their
    resized twins embed nearly identically (block means are
    resolution-invariant), so every twin pair must clear the cos ≥ 0.98
    gate; candidate generation stays a bucketed centroid equi-join.
    Engine-native (rows-only driver check: binary image corpus);
    brute-force-verified + reseed-robust in tests/test_images.py."""
    return mm_embed_near_dup_pipeline(spark, 240, seed=42)


def q_knn_graph_ivf(spark, sf_dir):
    """Approximate self-kNN graph (IVF scale path of knn_graph):
    cluster-bucketed candidate generation + exact per-cluster GEMM
    top-k, with per-vector recall_at_k measured against the exact
    graph. Engine-native rows-only: approximate by construction, so no
    exact-oracle binding (the exact twin `knn_graph` carries the SQL
    oracle); the recall column is the driver-visible accuracy figure,
    floor asserted in tests/test_ann.py."""
    emb = _t(spark, sf_dir, "embeddings")
    approx = (ANN.knn_graph_ivf(emb, k=5, n_centroids=16, n_probe=8)
              .withColumnRenamed("vec_id", "query_id")
              .withColumnRenamed("nbr_id", "cand_id"))
    exact = (ANN.knn_graph(emb, k=5)
             .withColumnRenamed("vec_id", "query_id")
             .withColumnRenamed("nbr_id", "cand_id"))
    return ANN.with_recall(approx, exact, k=5)


def q_ann_lsh_topk(spark, sf_dir):
    """ANN scale path: LSH-bucketed cosine top-k (approximate — recall
    vs brute force measured in tests; rows-only driver check carries a
    per-query recall_at_k column vs the exact baseline). 4 hyperplanes
    + 1-bit multiprobe: ~5/16 of the corpus searched; on the CLUSTERLESS
    synthetic embeddings recall ≈ searched fraction + angular margin
    (measured 0.40 at sf0.01 on this 10-query config vs ~0.13
    single-probe; floor asserted in tests/test_ann.py) — real clustered
    corpora concentrate neighbors in the home bucket."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    approx = ANN.lsh_topk(q, emb, k=5, n_planes=4, multiprobe=1)
    return ANN.with_recall(approx, ANN.brute_force_topk(q, emb, k=5), k=5)


def q_ann_ivf_topk(spark, sf_dir):
    """ANN scale path #2: IVF-flat — deterministic seeded centroids, one
    exact-integer Lloyd step, n_probe nearest clusters per query, exact
    re-rank; result carries a measured per-query recall_at_k column vs
    brute force (measured 0.80 mean at sf0.01 on this config; the
    ≥0.75 floor is asserted in tests/test_ann.py so a parameter or
    kernel regression fails CI instead of silently drifting)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    approx = ANN.ivf_topk(q, emb, k=5, n_centroids=16, n_probe=8)
    return ANN.with_recall(approx, ANN.brute_force_topk(q, emb, k=5), k=5)


def q_dedup_embedding_ivf(spark, sf_dir):
    """Scalable embedding near-dup: IVF multi-assignment candidates +
    exact integer verification — same answer as the exact all-pairs
    kernel (oracle: SQL_DEDUP_EMB) because with 12-of-64 cluster
    multi-assignment every threshold-40% pair of this corpus shares a
    probed cluster (verified identical at sf0.001/0.01/0.1). The EXACT
    oracle binding therefore DEPENDS on empirical recall == 1.0 at this
    registered config: change threshold/n_centroids/n_probe (or the
    corpus) and the gate can fail on a recall miss rather than a bug —
    tests/test_ann.py::test_registry_ivf_oracle_binding pins the
    dependency through this very function and fails with a recall
    diagnostic first. The plan is a bucketed equi-join on centroid_id,
    never a cross join; see the operator docstring for the
    probe-fraction/recall trade-off on clusterless synthetic data."""
    return DD.embedding_near_dup_pairs_ivf(
        _t(spark, sf_dir, "embeddings"), threshold_pct=40,
        n_centroids=64, n_probe=12)


def q_pack_sequences(spark, sf_dir):
    """Training-sequence packing: the documents table token stream laid
    end-to-end (ORDER BY doc_id) and cut every 64 tokens — one row per
    (document, sequence) overlap with the exact slice bounds a packed-
    batch writer needs (operators/packing.py). The global prefix sum
    runs scale-safe (range shuffle + partial sums, no single-task
    window — same machinery as o2_global_order). Engine-native tail
    entry (outside the driver's 50-entry oracle window);
    DuckDB window-SQL parity is pinned in tests/test_packing.py."""
    from .operators import packing as PK
    ensure_shipped(spark)
    return PK.pack_sequences(
        _t(spark, sf_dir, "documents").select("doc_id", "text"),
        seq_len=64)


def q_dedup_substring(spark, sf_dir):
    """Exact-substring dedup at 8-token granularity over the partial-
    duplication corpus (doc + token-dropped twin): every 8-token window
    occurring in ≥2 distinct documents is marked and per-doc marked
    windows merge into maximal spans — the published exact-substring
    recipe for LM training data, complementing the similarity-pair
    family (reports WHERE the shared text is, not which pairs are
    similar). Linear in total windows; no candidate-volume guard needed
    (see operators/dedup.repeated_window_spans). Engine-native tail
    entry; DuckDB parity pinned in tests/test_packing.py."""
    ensure_shipped(spark)
    return DD.repeated_window_spans(_partial_corpus(spark, sf_dir),
                                    k=8, min_docs=2)


def _pii_corpus(spark, sf_dir):
    """documents with deterministic PII injected into residue classes
    of doc_id (the base synthetic corpus contains no PII-shaped text,
    so the scrub query needs its own workload — mirrored verbatim in
    the DuckDB parity SQL, tests/test_packing.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    inject = (
        F.when(did % 7 == 0, F.concat(
            F.col("text"), F.lit(" contact user"), did.cast("string"),
            F.lit("@example.com now")))
        .when(did % 7 == 1, F.concat(
            F.col("text"), F.lit(" from 10.0."),
            (did % 256).cast("string"), F.lit(".1 and 192.168.0.1")))
        .when(did % 7 == 2, F.concat(
            F.col("text"), F.lit(" call 555-867-5309")))
        .otherwise(F.col("text")))
    return docs.select("doc_id", inject.alias("text"))


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction pass (emails / IPv4s / phones → typed
    placeholders + per-doc counts) over the PII-injected corpus —
    pure JVM regexp Columns (operators/textops.pii_scrub). Engine-
    native tail entry; DuckDB regexp parity pinned in
    tests/test_packing.py (patterns restricted to the Java-regex ∩ RE2
    dialect intersection)."""
    return TX.pii_scrub(_pii_corpus(spark, sf_dir))


def q_mm_caption_audit(spark, sf_dir):
    """Cross-modal consistency audit: pairs near-duplicate in EITHER
    modality (pixels via recomputed-phash pigeonhole bands, captions
    via md5 equality) classified consistent_dup / caption_conflict /
    image_conflict — the collapse-or-review signal for image-text
    training corpora (operators/multimodal.caption_audit). The corpus
    (sources/synth.images_with_caption_variants) populates all three
    classes by construction: twins keeping the source caption,
    re-captioned twins, and template captions shared across distinct
    content. Engine-native (binary image corpus — no SQL oracle);
    class counts brute-force-verified in tests/test_images.py."""
    from .operators import multimodal as MM
    from .sources import synth as SY
    ensure_shipped(spark)
    corpus = SY.images_with_caption_variants(spark, 240, seed=42)
    return MM.caption_audit(corpus, max_k=4, nbits=63)


# ---------------------------------------------------------------------------
# true S2 cell index (functions/s2.py): cube-face + quadratic-ST +
# Hilbert-curve ids in the published s2geometry layout. The oracled
# entry points take a raw direction vector (component ratios + sqrt
# only — IEEE-exact both engines); lat/lon trig wrappers are
# engine-side only. Direction here derives from lineitem doubles with
# offsets chosen so no component can be exactly 0 and the largest
# magnitude is always >= 0.05 (no 0/0 face math).
# ---------------------------------------------------------------------------

_S2_X_SQL = "(l_quantity / 25e0 - 1.02e0)"
_S2_Y_SQL = "(l_discount * 10e0 - 0.55e0)"
_S2_Z_SQL = "(l_tax * 12e0 - 0.51e0)"


def _s2_points(spark, sf_dir, keep):
    li = _t(spark, sf_dir, "lineitem").selectExpr(
        *keep, f"{_S2_X_SQL} AS _x", f"{_S2_Y_SQL} AS _y",
        f"{_S2_Z_SQL} AS _z")
    return S2.with_s2_cell(li, "_x", "_y", "_z").drop("_x", "_y", "_z")


def q_s2_cellid(spark, sf_dir):
    """Level-30 S2 leaf id + level-10 ancestor + descendant range per
    lineitem row — the full encode path (face, quadratic ST, 30-level
    Hilbert scan) plus the bit-math hierarchy ops, all whole-stage
    codegen SQL text (no UDF). Hash-compared against the
    identical algorithm generated as DuckDB SQL."""
    pts = _s2_points(spark, sf_dir, ("l_orderkey", "l_linenumber"))
    return pts.selectExpr(
        "l_orderkey", "l_linenumber", "s2_cell",
        f"{S2.s2_parent_sql('s2_cell', 10)} AS s2_p10",
        f"{S2.s2_range_min_sql('s2_cell')} AS s2_rmin",
        f"{S2.s2_range_max_sql('s2_cell')} AS s2_rmax")


SQL_S2CELL = f"""
SELECT l_orderkey, l_linenumber, s2_cell,
       {S2.s2_parent_sql('s2_cell', 10)} AS s2_p10,
       {S2.s2_range_min_sql('s2_cell')} AS s2_rmin,
       {S2.s2_range_max_sql('s2_cell')} AS s2_rmax
FROM {S2.s2_chain_sql('lineitem', _S2_X_SQL, _S2_Y_SQL, _S2_Z_SQL,
                      keep=('l_orderkey', 'l_linenumber'))}
"""


def q_s2_containment_join(spark, sf_dir):
    """Mixed-level S2 cell-cover containment join. Covers are distinct
    level-4 / level-8 ancestors of two point subsets (a stand-in for a
    real region cover, which unions cells at different levels); the
    operator answers containment as ONE broadcast hash equi-join of
    each point's ancestors at the distinct cover levels against the
    cover ids (operators/spatial_join.s2_containment_join) — the shape
    that scales, vs the BETWEEN range join the DuckDB oracle runs.
    Hash equality of the two proves the equi form exact."""
    from .operators import spatial_join as SJ
    # pts feeds both cover branches and the join probe — pin the
    # 30-level encode chain so it runs (and compiles) once
    pts = (_s2_points(spark, sf_dir, ("l_orderkey", "l_quantity"))
           .localCheckpoint(eager=False))
    cov4 = (pts.filter(F.col("l_orderkey") % 97 == 0)
            .selectExpr(f"{S2.s2_parent_sql('s2_cell', 4)} AS cover_id")
            .distinct())
    cov8 = (pts.filter(F.col("l_orderkey") % 193 == 0)
            .selectExpr(f"{S2.s2_parent_sql('s2_cell', 8)} AS cover_id")
            .distinct())
    covers = cov4.unionByName(cov8)
    joined = SJ.s2_containment_join(pts, covers)
    return (joined.groupBy("cover_id")
            .agg(F.count(F.lit(1)).alias("n_points"),
                 F.sum("l_quantity").alias("qty_sum"))
            .selectExpr("cover_id",
                        f"{S2.s2_level_sql('cover_id')} AS cover_level",
                        "n_points", "qty_sum"))


SQL_S2CONTAIN = f"""
WITH pts AS (
  SELECT l_orderkey, l_quantity, s2_cell
  FROM {S2.s2_chain_sql('lineitem', _S2_X_SQL, _S2_Y_SQL, _S2_Z_SQL,
                        keep=('l_orderkey', 'l_quantity'))}
),
covers AS (
  SELECT DISTINCT {S2.s2_parent_sql('s2_cell', 4)} AS cover_id
  FROM pts WHERE l_orderkey % 97 = 0
  UNION ALL
  SELECT DISTINCT {S2.s2_parent_sql('s2_cell', 8)}
  FROM pts WHERE l_orderkey % 193 = 0
)
SELECT cover_id, {S2.s2_level_sql('cover_id')} AS cover_level,
       COUNT(*) AS n_points, SUM(l_quantity) AS qty_sum
FROM covers JOIN pts
  ON pts.s2_cell BETWEEN {S2.s2_range_min_sql('cover_id')}
                     AND {S2.s2_range_max_sql('cover_id')}
GROUP BY cover_id
"""


def q_s2_multires_rollup(spark, sf_dir):
    """Cascaded multi-resolution rollup on the S2 hierarchy (round 5):
    leaves aggregated ONCE at level 10, levels 6 and 4 re-aggregated
    from the previous level's partials via parent bit-math — the
    hypertable shape that touches a 10^12-row leaf table exactly once
    (operators/spatial_join.s2_multires_rollup). The DuckDB oracle
    aggregates every level DIRECTLY from the leaves; hash equality
    proves the cascade exact (count→sum, sum→sum, max→max; l_quantity
    is integer-valued so double sums are order-exact)."""
    pts = _s2_points(spark, sf_dir, ("l_quantity",))
    return SJ.s2_multires_rollup(
        pts, (10, 6, 4),
        {"n_points": ("count", None),
         "qty_sum": ("sum", "l_quantity"),
         "qty_max": ("max", "l_quantity")})


_S2_MRR_LEVEL_SQL = """
SELECT CAST({lv} AS INT) AS level, {parent} AS cell,
       COUNT(*) AS n_points, SUM(l_quantity) AS qty_sum,
       MAX(l_quantity) AS qty_max
FROM pts GROUP BY 2"""

SQL_S2_MRR = ("WITH pts AS (\n  SELECT l_quantity, s2_cell\n  FROM "
              + S2.s2_chain_sql('lineitem', _S2_X_SQL, _S2_Y_SQL,
                                _S2_Z_SQL, keep=('l_quantity',))
              + "\n)\n"
              + "\nUNION ALL\n".join(
                  _S2_MRR_LEVEL_SQL.format(
                      lv=lv, parent=S2.s2_parent_sql('s2_cell', lv))
                  for lv in (10, 6, 4)))


def q_zonal_stats(spark, sf_dir):
    """Zonal statistics — the classic GIS reduction over the flagship
    spatial join (J7): per-polygon image count, id extrema, a
    deterministic integer weight sum, and AREA-NORMALIZED density
    (images per square degree). The analytic layer a 10^12-image store
    serves from the cell join: one broadcast cover join (probe side
    never shuffles) + one partial-aggregated groupBy on polygon_id —
    map-side combine bounds the shuffle by the polygon count, not the
    image count. Fully oracled: counts/extrema/integer sums are exact,
    and the density divide is a single double op on identically-derived
    operands, so even the float column hash-matches."""
    from .operators import spatial_join as SJ
    img = images_probe(spark, sf_dir)
    rects = rect_polygons(spark, sf_dir)
    j = SJ.spatial_join_rect(img, rects, res=RES_JOIN)
    g = (j.groupBy("polygon_id")
         .agg(F.count(F.lit(1)).alias("n_images"),
              F.min("img_id").alias("min_img"),
              F.max("img_id").alias("max_img"),
              F.sum(F.expr("img_id % 97")).alias("w_sum"),
              F.min("left").alias("l"), F.min("bottom").alias("b"),
              F.min("right").alias("rr"), F.min("top").alias("t")))
    area = (F.col("rr") - F.col("l")) * (F.col("t") - F.col("b"))
    return g.select(
        "polygon_id", "n_images", "min_img", "max_img", "w_sum",
        area.alias("area_deg2"),
        (F.col("n_images") / area).alias("density"))


SQL_ZONAL = f"""
WITH images AS ({IMAGES_SQL}), rects AS ({RECTS_SQL}),
j AS (
  SELECT i.img_id, r.polygon_id, r."left" AS l, r."bottom" AS b,
         r."right" AS rr, r."top" AS t
  FROM images i JOIN rects r
    ON i.lon > r."left" AND i.lon < r."right"
   AND i.lat > r."bottom" AND i.lat < r."top"),
g AS (
  SELECT polygon_id, count(*) AS n_images, min(img_id) AS min_img,
         max(img_id) AS max_img,
         CAST(sum(img_id % 97) AS BIGINT) AS w_sum,
         min(l) AS l, min(b) AS b, min(rr) AS rr, min(t) AS t
  FROM j GROUP BY polygon_id)
SELECT polygon_id, n_images, min_img, max_img, w_sum,
       (rr - l) * (t - b) AS area_deg2,
       n_images / ((rr - l) * (t - b)) AS density
FROM g
"""


def q_tile_geohash(spark, sf_dir):
    """Geohash addressing (Niemeyer 2008, public domain) — the third
    public string geocode next to slippy z/x/y and the Bing quadkey:
    per-image 8-char geohash plus its 6-char ancestor. Spark derives
    the ancestor by SUBSTRING; the DuckDB oracle derives it
    ARITHMETICALLY from 5-bit-coarsened lon/lat bins (x>>5, y>>5), so
    hash equality PROVES the geohash prefix property rather than
    reimplementing the substring (the SQL_TILE_QK pattern). SQL
    steps — Morton interleave + conv/lpad/translate onto the
    published base-32 alphabet — zero shuffle, no UDF; golden vector
    (57.64911, 10.40744)@10 = 'u4pruydqqv' pinned in test_geohash.py."""
    from .functions import geohash as GH

    img = images_probe(spark, sf_dir).select("img_id", "lat", "lon")
    return select_steps(img, GH.geohash_steps("lat", "lon", 8, "gh"),
                        keep=("gh",)).selectExpr(
        "img_id", "gh", "substring(gh, 1, 6) AS gh_parent")


_GH_N8 = 1 << 20  # lon/lat bins per axis at precision 8 (5*8/2 bits)

SQL_TILE_GH = f"""
WITH images AS ({IMAGES_SQL}),
t AS (
  SELECT img_id,
         greatest(0, least({_GH_N8 - 1},
           CAST(floor((lon + 180.0) / 360.0 * {float(_GH_N8)}) AS BIGINT))) AS gx,
         greatest(0, least({_GH_N8 - 1},
           CAST(floor((lat + 90.0) / 180.0 * {float(_GH_N8)}) AS BIGINT))) AS gy
  FROM images)
SELECT img_id,
       {_GH.geohash_from_bins_sql('gx', 'gy', 8)} AS gh,
       {_GH.geohash_from_bins_sql('gx // 32', 'gy // 32', 6)} AS gh_parent
FROM t
"""


def q_coverage_audit(spark, sf_dir):
    """Spatial ANTI-join / coverage audit — the residue operator of a
    10^12-image store: images matched by NO polygon, rolled up per
    coarse z-order cell (res 4) so the output is bounded by the cell
    count and the gaps read as a coverage map. Plan: the flagship
    broadcast cover join + refine produces the MATCHED id set
    (bounded by the join's selectivity, deduped with one shuffle),
    then one hash-partitioned LEFT ANTI on img_id and one partial-
    aggregated groupBy — the probe table is scanned twice but never
    collected, and no shuffle carries more than |probe| keyed rows.
    FULLY ORACLED (NOT EXISTS with the identical strict containment;
    integer-only output)."""
    from .operators import spatial_join as SJ

    img = images_probe(spark, sf_dir)
    rects = rect_polygons(spark, sf_dir)
    matched = (SJ.spatial_join_rect(img, rects, res=RES_JOIN)
               .select("img_id").distinct())
    unmatched = img.join(matched, "img_id", "left_anti")
    return (select_steps(unmatched, C.cell_steps("lat", "lon", 4, "cell"),
                         keep=("cell",))
            .groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_unmatched"),
                 F.min("img_id").alias("min_img"),
                 F.max("img_id").alias("max_img")))


SQL_COVERAGE = f"""
WITH images AS ({IMAGES_SQL}), rects AS ({RECTS_SQL}),
unmatched AS (
  SELECT img_id, lat, lon FROM images i
  WHERE NOT EXISTS (SELECT 1 FROM rects r
     WHERE i.lon > r."left" AND i.lon < r."right"
       AND i.lat > r."bottom" AND i.lat < r."top"))
SELECT {C.cell_at_sql('lat', 'lon', 4)} AS cell,
       count(*) AS n_unmatched,
       min(img_id) AS min_img, max(img_id) AS max_img
FROM unmatched GROUP BY 1
"""


def q_overlap_join(spark, sf_dir):
    """Rectangle↔rectangle OVERLAP join (conflation: footprints vs
    their deterministically shifted twins) via operators/spatial_join
    .overlap_join_rect — both sides cell-covered, ONE hash equi-join,
    and each pair emitted only by the cell owning its intersection's
    bottom-left corner, so the output is duplicate-free with ZERO
    post-join shuffle. The DuckDB oracle is an index-free cross join
    that emits each overlapping pair exactly once by construction —
    hash equality therefore PROVES the ownership rule loses no pair
    and duplicates none (the prefix-property-oracle pattern). The
    intersection bbox/area are greatest/least/one-multiply of
    identically-derived doubles: cross-engine hash-stable."""
    from .operators import spatial_join as SJ

    a = rect_polygons(spark, sf_dir)
    b = rect_polygons(spark, sf_dir).select(
        "polygon_id",
        (F.col("left") + F.lit(0.7)).alias("left"),
        (F.col("right") + F.lit(0.7)).alias("right"),
        (F.col("bottom") + F.lit(0.3)).alias("bottom"),
        (F.col("top") + F.lit(0.3)).alias("top"))
    return SJ.overlap_join_rect(a, b, res=RES_JOIN)


SQL_OVERLAP = f"""
WITH rects AS ({RECTS_SQL}),
a AS (SELECT polygon_id AS a_id, "left" AS al, "bottom" AS abot,
             "right" AS ar, "top" AS atop FROM rects),
b AS (SELECT polygon_id AS b_id, "left" + 7e-1 AS bl,
             "bottom" + 3e-1 AS bbot, "right" + 7e-1 AS br,
             "top" + 3e-1 AS btop FROM rects)
SELECT a_id, b_id, il, ib, ir, it, inter_area,
       inter_area / ((ar - al) * (atop - abot)
                     + (br - bl) * (btop - bbot) - inter_area) AS iou
FROM (
  SELECT a_id, b_id, al, abot, ar, atop, bl, bbot, br, btop,
         greatest(al, bl) AS il, greatest(abot, bbot) AS ib,
         least(ar, br) AS ir, least(atop, btop) AS it,
         (least(ar, br) - greatest(al, bl))
           * (least(atop, btop) - greatest(abot, bbot)) AS inter_area
  FROM a CROSS JOIN b
  WHERE al < br AND bl < ar AND abot < btop AND bbot < atop)
"""


def q_overlap_dissolve(spark, sf_dir):
    """Conflation dissolve (operators/cluster.dissolve_rects): two
    footprint generations (rects + their shifted twins under a
    disjoint id space) collapsed into overlap-connected components
    with merged extents and integer-quantized area sums. FULLY
    ORACLED: cross-join overlap edges + recursive-CTE closure, so
    hash equality proves the cell-cover edge generation AND the
    distributed component labels against true transitive overlap."""
    from .operators import cluster as CL

    a = rect_polygons(spark, sf_dir).select(
        "polygon_id", "left", "bottom", "right", "top")
    b = a.select(
        (F.col("polygon_id") + F.lit(100000000)).alias("polygon_id"),
        (F.col("left") + F.lit(0.7)).alias("left"),
        (F.col("bottom") + F.lit(0.3)).alias("bottom"),
        (F.col("right") + F.lit(0.7)).alias("right"),
        (F.col("top") + F.lit(0.3)).alias("top"))
    return CL.dissolve_rects(a.unionByName(b), res=RES_JOIN)


SQL_DISSOLVE = f"""
WITH RECURSIVE rects0 AS ({RECTS_SQL}),
rects AS (
  SELECT polygon_id, "left", "bottom", "right", "top" FROM rects0
  UNION ALL
  SELECT polygon_id + 100000000, "left" + 7e-1, "bottom" + 3e-1,
         "right" + 7e-1, "top" + 3e-1 FROM rects0),
e AS (
  SELECT a.polygon_id AS ida, b.polygon_id AS idb
  FROM rects a JOIN rects b ON a.polygon_id <> b.polygon_id
   AND a."left" < b."right" AND b."left" < a."right"
   AND a."bottom" < b."top" AND b."bottom" < a."top"),
ids AS (SELECT DISTINCT polygon_id FROM rects),
reach AS (
  SELECT polygon_id AS src, polygon_id AS dst FROM ids
  UNION
  SELECT r.src, e.idb FROM reach r JOIN e ON e.ida = r.dst),
lbl AS (SELECT src AS polygon_id, min(dst) AS component_id
        FROM reach GROUP BY src)
SELECT component_id, CAST(count(*) AS BIGINT) AS n_members,
       min("left") AS "left", min("bottom") AS "bottom",
       max("right") AS "right", max("top") AS "top",
       CAST(sum(CAST(floor((("right" - "left") * ("top" - "bottom"))
                           * 1e10 + 5e-1) AS BIGINT)) AS BIGINT) AS area_u
FROM rects JOIN lbl USING (polygon_id)
GROUP BY component_id
"""


# ---------------------------------------------------------------------------
# spatial DBSCAN (operators/cluster) — deterministic clustered point
# table: 29 sites, three density classes (dense cores / threshold
# density that yields a core-border-noise mix / 12°-box scatter that is
# mostly noise). All coordinates are integer modular arithmetic / 1e6,
# so Spark and DuckDB compute bit-identical doubles; centers stay in
# [-60,60)×[-160,160) and boxes ≤ ±6°, so no point ever reaches the
# grid clamp at ±90/±180. Multipliers > 2^31 force BIGINT promotion in
# both engines (the _LAT/_LON trick).
# ---------------------------------------------------------------------------

_DB_SITE = "((pt_id * 4294967291) % 29)"
_DB_CLAT = "(CAST((site * 3203080987) % 120000000 AS DOUBLE) / 1e6 - 60.0)"
_DB_CLON = "(CAST((site * 2485697231) % 320000000 AS DOUBLE) / 1e6 - 160.0)"
_DB_RMU = ("(CASE WHEN site < 15 THEN 150000 + site * 4000 "
           "WHEN site < 25 THEN 1200000 + (site - 15) * 50000 "
           "ELSE 6000000 END)")
_DB_OLAT = "(CAST(((pt_id * 3369493747) % (2 * rmu + 1)) - rmu AS DOUBLE) / 1e6)"
_DB_OLON = "(CAST(((pt_id * 4294967311) % (2 * rmu + 1)) - rmu AS DOUBLE) / 1e6)"

# DISTINCT at the source: the base tables carry duplicate keys by
# design (CLAUDE.md), coordinates are a pure function of pt_id, and
# dbscan() contracts unique ids (duplicate ids would fan out its
# label/border joins).
DBSCAN_PTS_SQL = f"""
  SELECT pt_id, ({_DB_CLAT} + {_DB_OLAT}) AS lat,
                ({_DB_CLON} + {_DB_OLON}) AS lon
  FROM (SELECT pt_id, site, {_DB_RMU} AS rmu
        FROM (SELECT pt_id, {_DB_SITE} AS site
              FROM (SELECT DISTINCT {_IMG_ID} AS pt_id FROM lineitem)
              WHERE pt_id % 37 = 0))
"""

_DBSCAN_EPS = 0.5       # eps² = 2.5e-1 exactly, in both engines
_DBSCAN_MIN_PTS = 6


def dbscan_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic clustered point table (pt_id, lat, lon) —
    Spark twin of DBSCAN_PTS_SQL, same expression trees."""
    base = (_t(spark, sf_dir, "lineitem")
            .select(F.expr(_IMG_ID).alias("pt_id")).distinct()
            .filter("pt_id % 37 = 0")
            .withColumn("site", F.expr(_DB_SITE)))
    staged = base.withColumn("rmu", F.expr(_DB_RMU))
    return staged.select(
        "pt_id",
        (F.expr(_DB_CLAT) + F.expr(_DB_OLAT)).alias("lat"),
        (F.expr(_DB_CLON) + F.expr(_DB_OLON)).alias("lon"))


def q_spatial_dbscan(spark, sf_dir):
    """Distributed DBSCAN (operators/cluster.dbscan): grid-partitioned
    candidate pairs (one self equi-join on the eps-sized cell key),
    degree agg → core flags, O(log n) connected components over
    core-core edges, deterministic min-cluster border assignment.
    FULLY ORACLED: the DuckDB twin is an index-free cross join + a
    genuine recursive-CTE closure with the identical exact-double
    metric, so hash equality proves (a) the 3×3-disk candidate
    generation loses no eps-pair, (b) the distributed CC labels match
    true connectivity, (c) the order-independent border rule. Noise
    carries cluster_id = -1 (non-null ⇒ int64 hash both engines)."""
    from .operators import cluster as CL
    return CL.dbscan(dbscan_points(spark, sf_dir),
                     eps=_DBSCAN_EPS, min_pts=_DBSCAN_MIN_PTS,
                     id_col="pt_id")


SQL_DBSCAN = f"""
WITH RECURSIVE pts AS ({DBSCAN_PTS_SQL}),
nbr AS (
  SELECT a.pt_id AS ida, b.pt_id AS idb
  FROM pts a JOIN pts b
    ON a.pt_id <> b.pt_id
   AND ((a.lat - b.lat) * (a.lat - b.lat)
      + (a.lon - b.lon) * (a.lon - b.lon)) <= 2.5e-1),
deg AS (
  SELECT p.pt_id, 1 + count(n.idb) AS n_nbrs
  FROM pts p LEFT JOIN nbr n ON n.ida = p.pt_id
  GROUP BY p.pt_id),
core AS (SELECT pt_id FROM deg WHERE n_nbrs >= {_DBSCAN_MIN_PTS}),
ce AS (
  SELECT n.ida, n.idb FROM nbr n
  JOIN core c1 ON c1.pt_id = n.ida
  JOIN core c2 ON c2.pt_id = n.idb),
reach AS (
  SELECT pt_id AS src, pt_id AS dst FROM core
  UNION
  SELECT r.src, e.idb FROM reach r JOIN ce e ON e.ida = r.dst),
lbl AS (SELECT src AS pt_id, min(dst) AS cluster_id FROM reach GROUP BY src),
border AS (
  SELECT n.ida AS pt_id, min(l.cluster_id) AS cluster_id
  FROM nbr n JOIN lbl l ON l.pt_id = n.idb
  WHERE n.ida NOT IN (SELECT pt_id FROM core)
  GROUP BY n.ida)
SELECT p.pt_id,
       CASE WHEN l.cluster_id IS NOT NULL THEN 'core'
            WHEN b.cluster_id IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(l.cluster_id, b.cluster_id, -1) AS BIGINT) AS cluster_id
FROM pts p
LEFT JOIN lbl l ON l.pt_id = p.pt_id
LEFT JOIN border b ON b.pt_id = p.pt_id
"""


# ---------------------------------------------------------------------------
# trajectory segmentation (operators/trajectory) — deterministic
# geotags for the events stream: each user has a home center and hops
# between four 15-minute "camps" offset by whole degrees, plus ±0.01°
# per-event jitter. Camp hops are ≥2° (≫ gap 1°), jitter ≤0.02°
# (≪ 1°), so the spatial break boolean has ~2 orders of magnitude of
# margin; time breaks reuse the w2 30-minute idiom.
# ---------------------------------------------------------------------------

_TRIP_E_SQL = "CAST(floor(CAST(epoch(ts) AS DOUBLE)) AS BIGINT)"
_TRIP_CAMP_SQL = (f"(CAST(floor(CAST({_TRIP_E_SQL} AS DOUBLE) / 9e2) "
                  "AS BIGINT) % 4)")
_TRIP_ULAT = "(CAST((user_id * 3203080987) % 100000000 AS DOUBLE) / 1e6 - 50.0)"
_TRIP_ULON = "(CAST((user_id * 2485697231) % 300000000 AS DOUBLE) / 1e6 - 150.0)"
_TRIP_JLAT = "(CAST((event_id * 3369493747) % 20001 AS DOUBLE) / 1e6 - 0.01)"
_TRIP_JLON = "(CAST((event_id * 4294967311) % 20001 AS DOUBLE) / 1e6 - 0.01)"

TRIP_POS_SQL = f"""
  SELECT user_id, ts, event_id,
         ({_TRIP_ULAT} + CAST({_TRIP_CAMP_SQL} AS DOUBLE) * 2e0
          + {_TRIP_JLAT}) AS lat,
         ({_TRIP_ULON} + CAST({_TRIP_CAMP_SQL} AS DOUBLE) * 15e-1
          + {_TRIP_JLON}) AS lon
  FROM events
"""


def trip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotagged events (user_id, ts, event_id, lat, lon) — Spark twin
    of TRIP_POS_SQL (camp from the same floor-div epoch tree)."""
    ev = _t(spark, sf_dir, "events")
    camp = (F.floor(F.unix_timestamp("ts").cast("double")
                    / F.lit(900.0)).cast("long") % 4)
    ulat = F.expr(_TRIP_ULAT)
    ulon = F.expr(_TRIP_ULON)
    return ev.select(
        "user_id", "ts", "event_id",
        (ulat + camp.cast("double") * F.lit(2.0)
         + F.expr(_TRIP_JLAT)).alias("lat"),
        (ulon + camp.cast("double") * F.lit(1.5)
         + F.expr(_TRIP_JLON)).alias("lon"))


def q_trip_segments(spark, sf_dir):
    """Trajectory segmentation (operators/trajectory.trip_segments):
    per-user trips split on >1° spatial hops OR >30-minute gaps, with
    per-segment count/epoch-span/extent. FULLY ORACLED — lag +
    running-sum window twin in DuckDB with the identical exact-double
    metric and the w2 epoch idiom."""
    from .operators import trajectory as TJ
    return TJ.trip_segments(trip_events(spark, sf_dir),
                            gap_deg=1.0, max_dt_s=1800)


SQL_TRIPS = f"""
WITH pos AS ({TRIP_POS_SQL}),
marked AS (
  SELECT user_id, ts, event_id, lat, lon,
         CASE WHEN lag(ts) OVER w IS NULL
              OR {_TRIP_E_SQL}
                 - CAST(floor(CAST(epoch(lag(ts) OVER w) AS DOUBLE))
                        AS BIGINT) > 1800
              OR (lat - lag(lat) OVER w) * (lat - lag(lat) OVER w)
                 + (lon - lag(lon) OVER w) * (lon - lag(lon) OVER w)
                 > 1e0
              THEN 1 ELSE 0 END AS brk
  FROM pos
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
seg AS (
  SELECT user_id, ts, lat, lon,
         CAST(sum(brk) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS BIGINT) AS seg_id
  FROM marked)
SELECT user_id, seg_id, CAST(count(*) AS BIGINT) AS n_events,
       min({_TRIP_E_SQL}) AS start_epoch,
       max({_TRIP_E_SQL}) AS end_epoch,
       min(lat) AS minlat, max(lat) AS maxlat,
       min(lon) AS minlon, max(lon) AS maxlon
FROM seg GROUP BY user_id, seg_id
"""


_GISTAR_RES = 6  # 64×64 grid: cluster sites land in single cells


def q_hotspot_gistar(spark, sf_dir):
    """Getis–Ord Gi* hotspot z-scores over the clustered point corpus
    (operators/raster.gi_star): occupied-cell universe, binary 3×3
    weights, one cell-granularity fan-out self-join + a broadcast
    1-row global aggregate. FULLY ORACLED including the float z-score
    — counts/sums are exact BIGINTs and the z expression tree is
    written identically in both engines (zonal_stats' density
    precedent extended through sqrt, which is correctly rounded in
    IEEE 754 on both sides)."""
    return RAS.gi_star(dbscan_points(spark, sf_dir), res=_GISTAR_RES)


SQL_GISTAR = f"""
WITH pts AS ({DBSCAN_PTS_SQL}),
cells AS (
  SELECT gx, gy, CAST(count(*) AS BIGINT) AS x
  FROM (SELECT
          greatest(0, least(63, CAST(floor((lon + 180e0) / 360e0 * 64e0)
                                     AS BIGINT))) AS gx,
          greatest(0, least(63, CAST(floor((lat + 90e0) / 180e0 * 64e0)
                                     AS BIGINT))) AS gy
        FROM pts)
  GROUP BY gx, gy),
nbrfan AS (
  SELECT c.gx, c.gy,
         ((c.gx + dx.v) % 64 + 64) % 64 AS jx, c.gy + dy.v AS jy
  FROM cells c, (VALUES (-1), (0), (1)) dx(v),
                (VALUES (-1), (0), (1)) dy(v)
  WHERE c.gy + dy.v >= 0 AND c.gy + dy.v < 64),
nbr AS (
  SELECT f.gx, f.gy, CAST(count(*) AS BIGINT) AS k,
         CAST(sum(c2.x) AS BIGINT) AS s
  FROM nbrfan f JOIN cells c2 ON c2.gx = f.jx AND c2.gy = f.jy
  GROUP BY f.gx, f.gy),
gstats AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM cells)
SELECT gx, gy, x, k_nbrs, nbr_sum,
       CASE WHEN n > 1 AND den <> 0e0 THEN num / den END AS gi_z
FROM (
  SELECT gx, gy, x, k AS k_nbrs, s AS nbr_sum, n,
         (CAST(s AS DOUBLE)
          - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) * CAST(k AS DOUBLE))
           AS num,
         (sqrt(CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
               - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                 * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
          * sqrt((CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                  - CAST(k AS DOUBLE) * CAST(k AS DOUBLE))
                 / (CAST(n AS DOUBLE) - 1e0))) AS den
  FROM cells JOIN nbr USING (gx, gy) CROSS JOIN gstats)
"""




def q_idw_interpolation(spark, sf_dir):
    """Inverse-distance-weighted interpolation at the distance-join
    query sites over the exact spherical kNN (operators/knn
    .idw_interpolate): value(site) = Σ wᵢvᵢ/Σ wᵢ, w = 1/d² over the 8
    nearest images, v a deterministic per-image value. Rows-only (trig
    + ordered float sums are not cross-engine bit-exact); numpy
    all-pairs brute-force referee in tests/test_idw.py."""
    sites = (_t(spark, sf_dir, "nation")
             .select(F.col("n_nationkey").cast("long").alias("site_id"))
             .distinct()
             .withColumn("slat", F.expr(_SLAT))
             .withColumn("slon", F.expr(_SLON)))
    img = images_probe(spark, sf_dir).withColumn(
        "v", (F.col("img_id") % 1000).cast("double"))
    return KNN.idw_interpolate(sites, img, k=8, value_col="v")


# deterministic query sites for the distance join — derived from
# nation keys; site 0 lands at (-70, -180): high latitude AND the
# antimeridian, so its cap cover crosses cube faces
_SLAT = "(CAST((site_id * 40094543) % 140000000 AS DOUBLE) / 1e6 - 70.0)"
_SLON = "(CAST((site_id * 97020271) % 360000000 AS DOUBLE) / 1e6 - 180.0)"

SITES_SQL = f"""
  SELECT site_id, {_SLAT} AS slat, {_SLON} AS slon
  FROM (SELECT DISTINCT CAST(n_nationkey AS BIGINT) AS site_id FROM nation)
"""

_DIST_RADIUS_M = 3e5  # min |dist-R| is 187.9 m at sf0.01 (fp-tie-free)


def q_s2_distance_join(spark, sf_dir):
    """Spherical distance join (ST_DWithin) on the S2 index — every
    (site, image) pair within 300 km great-circle
    (operators/spatial_join.s2_distance_join): driver-side cap covers,
    hierarchical containment join for candidates, exact haversine
    refine. FULLY ORACLED, unlike the rows-only cap/polygon cover
    joins: the S2 index is purely a Spark-side PRUNING layer here —
    the DuckDB oracle runs an index-free cross join with the identical
    haversine refine, so hash equality proves the cover+containment
    candidate set loses no true match. Trig enters only through the
    refine BOOLEAN, and the synthetic lattice keeps every pair ≥187 m
    from the threshold (asserted in tests/test_distance_join.py) —
    ~12 orders of magnitude above cross-engine libm noise — so the
    boolean is stable where raw distances would not hash-match."""
    from .operators import spatial_join as SJ
    sites = (_t(spark, sf_dir, "nation")
             .select(F.col("n_nationkey").cast("long").alias("site_id"))
             .distinct()
             .withColumn("slat", F.expr(_SLAT))
             .withColumn("slon", F.expr(_SLON)))
    out = SJ.s2_distance_join(images_probe(spark, sf_dir), sites,
                              radius_m=_DIST_RADIUS_M,
                              max_level=10, max_cells=64)
    return out.select("site_id", "img_id")


SQL_S2_DIST = f"""
WITH images AS ({IMAGES_SQL}),
sites AS ({SITES_SQL}),
d AS (
  SELECT s.site_id, i.img_id,
         sin(radians(i.lat - s.slat) / 2) AS sa,
         cos(radians(s.slat)) * cos(radians(i.lat)) AS cc,
         sin(radians(i.lon - s.slon) / 2) AS sb
  FROM sites s CROSS JOIN images i)
SELECT site_id, img_id
FROM (SELECT site_id, img_id,
             2 * 6.3710088e6 * asin(sqrt(least(sa * sa + cc * sb * sb, 1e0)))
               AS dist_m
      FROM d)
WHERE dist_m <= 3e5
"""


# deterministic query caps for the cover join: spread across faces,
# one straddling a cube-face corner (41N 45E) and one the antimeridian
_S2_CAPS = ((0, 43.1, -79.2, 0.05), (1, 41.0, 45.0, 0.12),
            (2, -35.7, 149.2, 0.08), (3, 12.0, -179.8, 0.10))


def q_s2_cap_cover_join(spark, sf_dir):
    """Spherical cover+refine geo-join — the S2 analogue of the
    j7/j8 cell-cover + PIP pattern: driver-side mixed-level cap covers
    (functions/s2.s2_cover_caps_np, completeness proven in test_s2.py),
    hierarchical containment join for candidates, then exact
    dot-product refine, per-cap candidate and hit counts. Engine-native
    rows-only (lat/lon→xyz uses trig, which is not cross-engine
    bit-exact); counts brute-force-verified in tests/test_s2.py."""
    from .operators import spatial_join as SJ
    cap_ids, lats, lons, radii = zip(*_S2_CAPS)
    covers = S2.s2_cover_caps_np(lats, lons, radii, max_level=10,
                                 max_cells=256)
    cover_rows = [(cap_id, int(cell))
                  for cap_id, cover in zip(cap_ids, covers) for cell in cover]
    covers = spark.createDataFrame(cover_rows, "cap_id INT, cover_id LONG")
    caps = spark.createDataFrame(list(_S2_CAPS),
                                 "cap_id INT, cap_lat DOUBLE, "
                                 "cap_lon DOUBLE, cap_r DOUBLE")
    img = images_probe(spark, sf_dir)
    pts = S2.with_s2_cell(
        S2.with_latlon_xyz(img.select("img_id", "lat", "lon"), "lat", "lon")
        .drop("lat", "lon"), "px", "py", "pz")
    cand = SJ.s2_containment_join(pts, covers)
    dot = F.expr(" + ".join(
        f"{p} * ({q})" for p, q in zip(("px", "py", "pz"),
                                     S2.latlon_xyz_sql("cap_lat",
                                                       "cap_lon"))))
    hit = F.when(dot >= F.cos(F.col("cap_r")), 1).otherwise(0)
    return (cand.join(F.broadcast(caps), "cap_id")
            .groupBy("cap_id")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum(hit).alias("n_images"))
            .orderBy("cap_id"))


# deterministic query polygons (CCW, interior left, sub-hemisphere):
# a triangle over the face-4/face-2 corner region, a quad straddling
# the antimeridian, a concave L, and a southern-hemisphere quad
_S2_POLYS = (
    (0, (38.0, 44.0, 46.0), (40.0, 50.0, 42.0)),
    (1, (10.0, 10.0, 16.0, 16.0), (178.0, -178.5, -178.5, 178.0)),
    (2, (40.0, 40.0, 44.0, 44.0, 42.0, 42.0),
     (-80.0, -74.0, -74.0, -77.0, -77.0, -80.0)),
    (3, (-60.0, -58.0, -52.0, -55.0), (20.0, 30.0, 28.0, 18.0)),
)


def q_s2_polygon_cover_join(spark, sf_dir):
    """Spherical POLYGON cover+refine geo-join — the full north-star
    shape (OSM polygons ⋈ images) on the S2 index: driver-side
    mixed-level polygon covers (functions/s2.s2_cover_polygon_np —
    completeness proven in test_s2.py, incl. antimeridian + concave
    loops), hierarchical containment join for candidates, then exact
    winding-number point-in-polygon refine as a batched numpy kernel
    in mapInPandas (no shuffle after the candidate join; per
    CLAUDE.md, per-row trig chains stay out of Column space).
    Engine-native rows-only (lat/lon→xyz trig is not cross-engine
    bit-exact); per-polygon counts brute-force-verified in
    tests/test_s2.py."""
    import numpy as np
    import pandas as pd

    from .operators import spatial_join as SJ
    cover_rows = [
        (pid, int(cell))
        for pid, las, los in _S2_POLYS
        for cell in S2.s2_cover_polygon_np(
            np.asarray(las), np.asarray(los), max_level=10, max_cells=256)]
    covers = spark.createDataFrame(cover_rows, "poly_id INT, cover_id LONG")
    img = images_probe(spark, sf_dir)
    pts = S2.with_s2_cell(
        S2.with_latlon_xyz(img.select("img_id", "lat", "lon"), "lat", "lon")
        .drop("lat", "lon"), "px", "py", "pz")
    cand = SJ.s2_containment_join(pts, covers)
    polys = {pid: np.stack(S2._latlon_xyz_np(np.asarray(las),
                                             np.asarray(los)), axis=1)
             for pid, las, los in _S2_POLYS}

    def refine(batches):
        for b in batches:
            pid_arr = b["poly_id"].to_numpy()
            px = b["px"].to_numpy()
            py = b["py"].to_numpy()
            pz = b["pz"].to_numpy()
            hit = np.zeros(len(b), np.int32)
            for pid, verts in polys.items():
                m = pid_arr == pid
                if m.any():
                    hit[m] = S2.point_in_spherical_polygon_np(
                        px[m], py[m], pz[m], verts).astype(np.int32)
            yield pd.DataFrame({"poly_id": pid_arr, "hit": hit})

    refined = cand.select("poly_id", "px", "py", "pz").mapInPandas(
        refine, "poly_id int, hit int")
    return (refined.groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n_candidates"),
                 F.sum("hit").alias("n_images"))
            .orderBy("poly_id"))


def q_s2_knn_join(spark, sf_dir):
    """J9 on the TRUE S2 index (round 5): exact spherical kNN through
    the same driver as j9_knn_ring_expansion. The build side here is
    small, so this is one broadcast numpy top-k pass; past 4096 build
    rows it is hierarchical ancestor-annulus rounds (one hash
    equi-join on level-ℓ ancestor keys, settled when the k-th
    squared-chord distance beats the probe's exact distance to its
    ancestor cell's edge great-circles) ending in one residue pass
    over the whole build table. Same probe/build tables and k as
    j9_knn_ring_expansion, metric = squared chord (monotone in
    angle). Engine-native rows-only (trig); all-pairs brute-force
    parity on every route incl. face-edge probes in
    tests/test_s2_knn.py."""
    from .operators import knn as KNN
    probe = images_probe(spark, sf_dir).filter(F.expr("img_id % 1000 < 15"))
    build = rect_polygons(spark, sf_dir).select("polygon_id", "clat", "clon")
    out = KNN.s2_knn_join(probe, build, k=K_NN, start_level=8)
    return out.select("img_id", F.col("rank").cast("long").alias("rank"),
                      "polygon_id", "chord_sq")


def q_s2_osm_polygon_join(spark, sf_dir):
    """The north-star sentence end-to-end ON THE SPHERE (round-5
    verdict task #3): PBF fixture → way/relation polygon assembly
    (operators/assemble.py, incl. multipolygon inner-ring holes) →
    DISTRIBUTED per-polygon S2 covers → hierarchical containment join →
    even-odd winding refine — the spherical sibling of
    q_pbf_spatial_join's planar Morton spine. Engine-native rows-only
    (trig + mapInPandas); matched pairs brute-force-verified in
    tests/test_s2_osm_join.py."""
    from .operators import assemble as ASM
    from .operators import spatial_join as SJ
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    # same deterministic probe grid as q_pbf_spatial_join so the two
    # spines stay comparable
    probe = (spark.range(20000).select(F.col("id").alias("img_id"))
             .withColumn("lat", F.expr(
                 "CAST((img_id * 2654435761) % 1000000 AS DOUBLE) / 1e6")
                 * F.lit(0.6) - F.lit(19.35))
             .withColumn("lon", F.expr(
                 "CAST((img_id * 2971215073) % 1000000 AS DOUBLE) / 1e6")
                 * F.lit(0.6) - F.lit(170.16)))
    out = SJ.s2_spatial_join_polygons(probe, polys, max_level=14,
                                      max_cells=64)
    return (out.groupBy("polygon_id", "source")
            .agg(F.count(F.lit(1)).alias("n_images"))
            .orderBy("polygon_id", "source"))


# ---------------------------------------------------------------------------
# Web-Mercator (slippy) tiling — round 5
# ---------------------------------------------------------------------------

def q_tile_point_assign(spark, sf_dir):
    """Every image → its Web-Mercator slippy tile (published OSM
    zoom/x/y scheme, functions/webmercator.py) at z=7, aggregated per
    tile — the delivery-keyed sibling of c1_zorder_tile's reference
    Morton tile (/root/reference/src/osm/apidb_dump/sql.rs:50-61).
    SQL text shared with the oracle (radians/tan/ln stay in codegen);
    one shuffle (the tile groupBy)."""
    from .functions import webmercator as WM

    img = images_probe(spark, sf_dir)
    d = img.selectExpr(
        "img_id",
        f"{WM.tile_x_sql('lon', TILE_Z_PT)} AS tx",
        f"{WM.tile_y_sql('lat', TILE_Z_PT)} AS ty")
    return (d.groupBy("tx", "ty")
            .agg(F.count(F.lit(1)).alias("n_images"),
                 F.min("img_id").alias("min_img"))
            .withColumn("z", F.lit(TILE_Z_PT).cast("int")))


SQL_TILE_PT = f"""
WITH images AS ({IMAGES_SQL}),
t AS (
  SELECT img_id,
         {_WM.tile_x_sql('lon', TILE_Z_PT)} AS tx,
         {_WM.tile_y_sql('lat', TILE_Z_PT)} AS ty
  FROM images)
SELECT tx, ty, count(*) AS n_images, min(img_id) AS min_img,
       CAST({TILE_Z_PT} AS INTEGER) AS z
FROM t GROUP BY tx, ty
"""


def q_tile_quadkey(spark, sf_dir):
    """Bing quadkey addressing (published Bing Maps Tile System) for
    the tile-store path: per-image base-4 string key at z=7 plus the
    z=4 ancestor key. Spark derives the ancestor by SUBSTRING (the
    prefix property: a parent tile's key is its children's common
    prefix — region reads become string-range scans, the string
    sibling of s2_read_region_pruned's descendant-id ranges); the
    DuckDB oracle derives it ARITHMETICALLY from the z-4 tile indices
    (x>>3, y>>3), so hash equality PROVES the prefix property, not
    just reimplements it (the ring_centroid independent-closed-form
    pattern). SQL steps: Morton bit-interleave + conv/lpad,
    zero shuffle, no UDF."""
    from .functions import webmercator as WM

    img = images_probe(spark, sf_dir).select("img_id", "lat", "lon")
    steps = [("_tx", WM.tile_x_sql("lon", TILE_Z_PT)),
             ("_ty", WM.tile_y_sql("lat", TILE_Z_PT)),
             *WM.quadkey_steps("_tx", "_ty", TILE_Z_PT, "qk")]
    return select_steps(img, steps, keep=("qk",)).selectExpr(
        "img_id", "qk", f"substring(qk, 1, {TILE_Z_PT - 3}) AS qk_parent")


SQL_TILE_QK = f"""
WITH images AS ({IMAGES_SQL}),
t AS (
  SELECT img_id,
         {_WM.tile_x_sql('lon', TILE_Z_PT)} AS tx,
         {_WM.tile_y_sql('lat', TILE_Z_PT)} AS ty
  FROM images)
SELECT img_id,
       {_WM.quadkey_sql('tx', 'ty', TILE_Z_PT)} AS qk,
       {_WM.quadkey_sql('tx // 8', 'ty // 8', TILE_Z_PT - 3)} AS qk_parent
FROM t
"""


def q_tile_cover_assign(spark, sf_dir):
    """Polygon bbox → every overlapped slippy tile at z=9 via the
    zero-shuffle Column fan-out (operators/tiles.tile_cover: tile-range
    math + two explodes, scale-guarded). The oracle reproduces the
    fan-out with DuckDB's two-stage unnest(generate_series(...))."""
    from .operators import tiles as TL

    rects = rect_polygons(spark, sf_dir)
    cov = TL.tile_cover(rects, TILE_Z_COVER)
    return cov.select("polygon_id", "z", "x", "y")


SQL_TILE_COVER = f"""
WITH rects AS ({RECTS_SQL}),
rg AS (
  SELECT polygon_id,
         {_WM.tile_x_sql('"left"', TILE_Z_COVER)} AS x0,
         {_WM.tile_x_sql('"right"', TILE_Z_COVER)} AS x1,
         {_WM.tile_y_sql('"top"', TILE_Z_COVER)} AS y0,
         {_WM.tile_y_sql('"bottom"', TILE_Z_COVER)} AS y1
  FROM rects),
fx AS (
  SELECT polygon_id, unnest(generate_series(x0, x1)) AS x, y0, y1
  FROM rg)
SELECT polygon_id, CAST({TILE_Z_COVER} AS INTEGER) AS z, x,
       unnest(generate_series(y0, y1)) AS y
FROM fx
"""


TILE_PYR_ZOOMS = (9, 7, 4)


def q_tile_pyramid(spark, sf_dir):
    """Heatmap tile pyramid over the image table: leaf tile assignment
    at z=9, then cascaded re-aggregation to z=7 and z=4 via the slippy
    quadtree parent shift (operators/tiles.tile_pyramid_rollup — the
    Web-Mercator sibling of s2_multires_rollup). The oracle computes
    EVERY level directly from the leaves, proving the cascade exact
    (count→sum-of-counts, min→min; same contract as SQL_S2_MRR)."""
    from .operators import tiles as TL

    img = images_probe(spark, sf_dir)
    leaf = img.selectExpr(
        "img_id",
        f"{_WM.tile_x_sql('lon', TILE_PYR_ZOOMS[0])} AS x",
        f"{_WM.tile_y_sql('lat', TILE_PYR_ZOOMS[0])} AS y")
    return TL.tile_pyramid_rollup(
        leaf, TILE_PYR_ZOOMS,
        {"n_images": ("count", "img_id"), "min_img": ("min", "img_id")})


def _pyr_level_sql(zv: int) -> str:
    dz = TILE_PYR_ZOOMS[0] - zv
    return (f"SELECT CAST({zv} AS INTEGER) AS z, tx >> {dz} AS x, "
            f"ty >> {dz} AS y, count(*) AS n_images, "
            f"min(img_id) AS min_img FROM t "
            f"GROUP BY tx >> {dz}, ty >> {dz}")


SQL_TILE_PYR = f"""
WITH images AS ({IMAGES_SQL}),
t AS (
  SELECT img_id,
         {_WM.tile_x_sql('lon', TILE_PYR_ZOOMS[0])} AS tx,
         {_WM.tile_y_sql('lat', TILE_PYR_ZOOMS[0])} AS ty
  FROM images)
{' UNION ALL '.join(_pyr_level_sql(zv) for zv in TILE_PYR_ZOOMS)}
"""


def q_vector_tiles(spark, sf_dir):
    """The tiling engine end-to-end: PBF fixture → polygon assembly →
    Web-Mercator tile fan-out → Sutherland–Hodgman clip to the buffered
    tile rect → Douglas–Peucker simplify at pixel tolerance → integer
    quantization on the MVT 4096 extent → per-tile layer stats.
    Single-stage scan→explode→mapInPandas plan (pinned in
    tests/test_plan_audit.py); engine-native rows-only (recursive
    clip/simplify has no SQL equivalent), features brute-force-verified
    against a pure-Python reference in tests/test_tiles.py."""
    from .operators import assemble as ASM
    from .operators import tiles as TL
    from .sources.pbf import decode as PD

    path = _fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    feats = TL.build_vector_tiles(polys, zoom=13)
    return TL.tile_layer_stats(feats).orderBy("z", "x", "y")


HEAT_Z, HEAT_SIZE = 4, 256


def q_heatmap_tiles(spark, sf_dir):
    """Raster-tile sink: every image binned into (tile, pixel) at z=4 /
    256px, painted as a per-tile log-scaled grayscale PNG
    (operators/tiles.render_heatmap_tiles + the hand-rolled PNG codec).
    The oracle reproduces the full binning + per-tile stats in SQL
    (n_points / max_count); pixel-exact PNG parity vs an independent
    numpy binning is pytest-proven (test_tiles.py)."""
    from .operators import tiles as TL

    img = images_probe(spark, sf_dir)
    out = TL.render_heatmap_tiles(img, HEAT_Z, HEAT_SIZE)
    return out.select("z", "x", "y", "n_points", "max_count")


def _heat_sql():
    xc, yc = _WM.tile_xc_sql("lon", HEAT_Z), _WM.tile_yc_sql("lat", HEAT_Z)
    return f"""
WITH images AS ({IMAGES_SQL}),
c AS (SELECT {xc} AS xc, {yc} AS yc FROM images),
b AS (
  SELECT CAST(floor(xc) AS BIGINT) AS x, CAST(floor(yc) AS BIGINT) AS y,
         least(CAST(floor((xc - floor(xc)) * {HEAT_SIZE}) AS BIGINT),
               {HEAT_SIZE - 1}) AS px,
         least(CAST(floor((yc - floor(yc)) * {HEAT_SIZE}) AS BIGINT),
               {HEAT_SIZE - 1}) AS py,
         count(*) AS n
  FROM c GROUP BY 1, 2, 3, 4)
SELECT CAST({HEAT_Z} AS INTEGER) AS z, x, y,
       CAST(sum(n) AS BIGINT) AS n_points,
       CAST(max(n) AS BIGINT) AS max_count
FROM b GROUP BY x, y
"""


SQL_HEATMAP = _heat_sql()


HEAT_PYR_ZOOMS = (6, 5, 3)


def q_heatmap_pyramid(spark, sf_dir):
    """Raster pyramid from ONE pass over the image table
    (operators/tiles.render_heatmap_pyramid): finest-zoom global pixel
    bins aggregated once, coarser zooms re-aggregated from the
    previous level's partials via the exact parent shift. The oracle
    computes EVERY level's per-tile stats directly from the leaf bins,
    proving the cascade exact (the div-floor identity
    floor(floor(v)/2) == floor(v/2) makes gx>>dz the true coarse
    bin)."""
    from .operators import tiles as TL

    img = images_probe(spark, sf_dir)
    out = TL.render_heatmap_pyramid(img, HEAT_PYR_ZOOMS, HEAT_SIZE)
    return out.select("z", "x", "y", "n_points", "max_count")


def _heat_pyr_sql():
    z0 = HEAT_PYR_ZOOMS[0]
    xc, yc = _WM.tile_xc_sql("lon", z0), _WM.tile_yc_sql("lat", z0)
    lg = HEAT_SIZE.bit_length() - 1
    levels = []
    for zv in HEAT_PYR_ZOOMS:
        dz = z0 - zv
        levels.append(f"""
SELECT CAST({zv} AS INTEGER) AS z, (gx >> {dz}) >> {lg} AS x,
       (gy >> {dz}) >> {lg} AS y,
       CAST(sum(n) AS BIGINT) AS n_points,
       CAST(max(nL) AS BIGINT) AS max_count
FROM (SELECT gx, gy, n,
             sum(n) OVER (PARTITION BY gx >> {dz}, gy >> {dz}) AS nL
      FROM b) _l{zv}
GROUP BY 1, 2, 3""")
    return f"""
WITH images AS ({IMAGES_SQL}),
c AS (SELECT {xc} AS xc, {yc} AS yc FROM images),
g AS (SELECT CAST(floor(xc * {HEAT_SIZE}) AS BIGINT) AS gx,
             CAST(floor(yc * {HEAT_SIZE}) AS BIGINT) AS gy
      FROM c),
b AS (SELECT gx, gy, count(*) AS n FROM g GROUP BY 1, 2)
{' UNION ALL '.join(levels)}
"""


SQL_HEAT_PYR = _heat_pyr_sql()


def q_tile_retile(spark, sf_dir):
    """Incremental tile maintenance (operators/tiles.retile): every
    10th bench rect 'changes'; only the dirty tiles are rebuilt — the
    kernel's work is proportional to the dirty area while the full
    polygon table passes only through the Column fan-out. Rows-only;
    incremental == full-rebuild-restricted proven in test_tiles.py."""
    from .operators import tiles as TL

    polys = rect_polygons_ringed(spark, sf_dir)
    changed = polys.filter(F.expr("polygon_id % 100 = 0"))
    dirty, feats = TL.retile(polys, changed, TILE_Z_COVER + 2)
    return (feats.groupBy("z", "x", "y")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("n_pts").alias("n_pts"))
            .orderBy("z", "x", "y"))


def q_mvt_tiles(spark, sf_dir):
    """The tile SINK: fixture polygons → vector-tile features → one
    Mapbox-Vector-Tile 2.1 binary blob per tile (functions/mvt.py
    hand-encodes the published protobuf wire format; blobs are
    byte-deterministic via the in-tile feature sort). Engine-native
    rows-only; blob↔feature roundtrip + hand-assembled golden wire
    bytes proven in tests/test_tiles.py."""
    from .operators import assemble as ASM
    from .operators import tiles as TL
    from .sources.pbf import decode as PD

    path = _fixture_pbf_path(spark)
    polys = ASM.assemble_polygons(PD.read_pbf(spark, path))
    feats = TL.build_vector_tiles(polys, zoom=13)
    out = TL.encode_mvt_layers([("osm", feats, "polygon")])
    return (out.select("z", "x", "y", "n_features",
                       F.length("mvt").alias("mvt_bytes"))
            .orderBy("z", "x", "y"))


def q_vector_tile_points(spark, sf_dir):
    """Point features for vector tiles: every image → its quantized
    in-tile pixel position, INCLUDING buffer-margin duplicates into
    adjacent tiles (the published MVT overzoom convention — a marker
    16 px from a tile edge also renders in the neighbor; x wraps at the
    antimeridian seam). SQL text (operators/tiles.tile_points:
    continuous tile coords + 3×3 neighbor explode + one filter), zero
    shuffle, whole-stage codegen end-to-end. FULLY ORACLED: the DuckDB
    twin reproduces the fan-out with a VALUES cross join on identical
    IEEE double arithmetic."""
    from .operators import tiles as TL

    img = images_probe(spark, sf_dir)
    pts = img.select(F.col("img_id").alias("point_id"), "lon", "lat")
    return TL.tile_points(pts, TILE_Z_PT)


_TP_N = 1 << TILE_Z_PT
SQL_TILE_POINTS = f"""
WITH images AS ({IMAGES_SQL}),
c AS (
  SELECT img_id AS point_id,
         {_WM.tile_xc_sql('lon', TILE_Z_PT)} AS fx,
         {_WM.tile_yc_sql('lat', TILE_Z_PT)} AS fy
  FROM images),
f AS (
  SELECT point_id, fx, fy,
         CAST(floor(fx) AS BIGINT) + dxs.dx AS tx0,
         CAST(floor(fy) AS BIGINT) + dys.dy AS ty
  FROM c
  CROSS JOIN (VALUES (-1), (0), (1)) dxs(dx)
  CROSS JOIN (VALUES (-1), (0), (1)) dys(dy)),
p AS (
  SELECT point_id, tx0, ty,
         (fx - tx0) * 4096.0 AS px,
         (fy - ty) * 4096.0 AS py
  FROM f)
SELECT point_id, CAST({TILE_Z_PT} AS INTEGER) AS z,
       ((tx0 % {_TP_N}) + {_TP_N}) % {_TP_N} AS x, ty AS y,
       CAST(floor(px + 0.5) AS INTEGER) AS px,
       CAST(floor(py + 0.5) AS INTEGER) AS py
FROM p
WHERE px >= -16.0 AND px <= 4112.0
  AND py >= -16.0 AND py <= 4112.0
  AND ty >= 0 AND ty <= {_TP_N - 1}
"""


def q_vector_tile_lines(spark, sf_dir):
    """LINE features — the rendering path for the majority of OSM ways
    (roads/rivers/paths; reference way geometry:
    way_relations_reader.rs:69-160): fixture ways → ordered polyline
    assembly → tile fan-out → open-polyline clip (a way SPLITS into a
    multilinestring where it exits and re-enters the buffered tile
    rect) → Douglas–Peucker → quantize; per-tile stats. Same one-stage
    scan→explode→mapInPandas shape as vector_tiles. Engine-native
    rows-only; the clip kernel is refereed by BOTH a scalar twin
    (bit-exact) and an independent Liang–Barsky clipper in
    tests/test_tile_lines.py."""
    from .operators import assemble as ASM
    from .operators import tiles as TL
    from .sources.pbf import decode as PD

    path = _fixture_pbf_path(spark)
    nodes, ways, _ = ASM.by_type(ASM.current_elements(
        PD.read_pbf(spark, path)))
    lines = (ASM.way_lines(ways, nodes)
             .select(F.col("id").alias("way_id"),
                     F.col("ring").alias("line"),
                     "left", "bottom", "right", "top"))
    feats = TL.build_vector_tile_lines(lines, zoom=13)
    return (feats.groupBy("z", "x", "y")
            .agg(F.count(F.lit(1)).alias("n_features"),
                 F.sum("n_pts").alias("n_pts"),
                 F.sum(F.size("part_lens")).alias("n_parts"))
            .orderBy("z", "x", "y"))


def q_mvt_layered_tiles(spark, sf_dir):
    """The COMPLETE map-server tile: polygon + line + point layers of
    each tile in ONE multi-layer MVT 2.1 blob (spec: a Tile is repeated
    Layer messages; features carry their geometry type — POLYGON=3 for
    assembled areas, LINESTRING=2 for ways, POINT=1 for tagged-node
    POIs), with OSM tags as feature attributes — the PBF layers of
    jobs/tile_export.source_layers. One tile-key repartition; blobs
    byte-deterministic. Rows-only; wire bytes, decode roundtrip, and
    layer ordering proven in tests/test_tile_lines.py."""
    from .jobs.tile_export import source_layers  # imports this module
    from .operators import tiles as TL

    tiles = TL.encode_mvt_layers(
        source_layers(spark, None, _fixture_pbf_path(spark), 13))
    return (tiles.select("z", "x", "y", "n_layers", "n_features",
                         F.length("mvt").alias("mvt_bytes"))
            .orderBy("z", "x", "y"))


# ---------------------------------------------------------------------------
# context index (the reference's SECOND roadmap item — README.md:46-48,
# src/lib.rs:29-30: "index the entire OSM dataset by relations between
# its objects ... efficiently discard all Nodes that belong to a
# deleted Way"; the S2 index was the first). operators/context.py.
#
# The synthetic context graph is derived deterministically from the
# TPC-H tables so DuckDB can run identical SQL: ways = orders (their
# lineitems are the way→node reference list), nodes = part spread over
# a 16-replica id domain (so per-node parent counts stay small, like
# real OSM where most nodes belong to 1-2 ways), relations = customers
# (containing their orders' ways) nested under nation- and region-level
# relations (1e12+/2e12+ id namespaces — far above any sf-scaled key:
# at sf0.1 custkey reached 15000 and collided with a 10000+ offset,
# chaining relations into unintended deep cycles). Every 7th lineitem and every
# 97th order reference a non-existent target — the dangling-audit
# signal.
# ---------------------------------------------------------------------------


def _ctx_way_node_edges(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    ref = ((F.col("l_partkey") * 16) + (F.col("l_orderkey") % 16)
           + F.when(F.col("l_linenumber") % 7 == 0, F.lit(4000000000000))
           .otherwise(F.lit(0)))
    return li.select(
        F.lit("way").alias("parent_type"),
        F.col("l_orderkey").cast("long").alias("parent_id"),
        F.col("l_linenumber").cast("long").alias("seq"),
        F.lit("node").alias("ref_type"),
        ref.cast("long").alias("ref_id"))


def _ctx_rel_way_edges(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    ref = (F.col("o_orderkey")
           + F.when(F.col("o_orderkey") % 97 == 0, F.lit(5000000000000))
           .otherwise(F.lit(0)))
    return o.select(
        F.lit("relation").alias("parent_type"),
        F.col("o_custkey").cast("long").alias("parent_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("way").alias("ref_type"),
        ref.cast("long").alias("ref_id"))


def _ctx_rel_rel_edges(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    e1 = c.select(
        F.lit("relation").alias("parent_type"),
        (F.col("c_nationkey") + 1000000000000).cast("long").alias("parent_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("relation").alias("ref_type"),
        F.col("c_custkey").cast("long").alias("ref_id"))
    e2 = n.select(
        F.lit("relation").alias("parent_type"),
        (F.col("n_regionkey") + 2000000000000).cast("long").alias("parent_id"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("relation").alias("ref_type"),
        (F.col("n_nationkey") + 1000000000000).cast("long").alias("ref_id"))
    return e1.unionByName(e2)


def _ctx_nodes(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return (p.select("p_partkey",
                     F.explode(F.sequence(F.lit(0), F.lit(15))).alias("r"))
            .select(((F.col("p_partkey") * 16) + F.col("r")).cast("long")
                    .alias("node_id"),
                    (((F.col("p_partkey") * 31) + F.col("r")) % 5 == 0)
                    .alias("tagged")))


_SQL_CTX_EDGES = """
wn AS (
  SELECT 'way' AS parent_type, CAST(l_orderkey AS BIGINT) AS parent_id,
         'node' AS ref_type,
         CAST(l_partkey * 16 + l_orderkey % 16
              + CASE WHEN l_linenumber % 7 = 0 THEN 4000000000000 ELSE 0 END
              AS BIGINT) AS ref_id
  FROM lineitem),
rw AS (
  SELECT 'relation' AS parent_type, CAST(o_custkey AS BIGINT) AS parent_id,
         'way' AS ref_type,
         CAST(o_orderkey
              + CASE WHEN o_orderkey % 97 = 0 THEN 5000000000000 ELSE 0 END
              AS BIGINT) AS ref_id
  FROM orders),
rr AS (
  SELECT 'relation' AS parent_type,
         CAST(1000000000000 + c_nationkey AS BIGINT) AS parent_id,
         'relation' AS ref_type, CAST(c_custkey AS BIGINT) AS ref_id
  FROM customer
  UNION ALL
  SELECT 'relation', CAST(2000000000000 + n_regionkey AS BIGINT),
         'relation', CAST(1000000000000 + n_nationkey AS BIGINT)
  FROM nation),
ctx_edges AS (SELECT * FROM wn UNION ALL SELECT * FROM rw
              UNION ALL SELECT * FROM rr)
"""


def q_ctx_reverse_index(spark, sf_dir):
    """Context index, query side: "who references X?" over the full
    edge table (way→node ∪ relation→way ∪ relation→relation) — ONE
    hash aggregation, hot objects absorbed by map-side partials."""
    from .operators import context as CTX
    edges = (_ctx_way_node_edges(spark, sf_dir)
             .unionByName(_ctx_rel_way_edges(spark, sf_dir))
             .unionByName(_ctx_rel_rel_edges(spark, sf_dir)))
    return CTX.reverse_index(edges)


SQL_CTX_RIDX = f"""
WITH {_SQL_CTX_EDGES}
SELECT ref_type, ref_id, CAST(count(*) AS BIGINT) AS n_refs,
       CAST(count(DISTINCT parent_type || ':' || CAST(parent_id AS VARCHAR))
            AS BIGINT) AS n_parents,
       min(parent_id) AS min_parent, max(parent_id) AS max_parent
FROM ctx_edges GROUP BY ref_type, ref_id
"""


def q_ctx_cascade_discard(spark, sf_dir):
    """The roadmap's own example: ways with o_orderstatus='F' are
    deleted; emit the untagged nodes whose EVERY referencing way is
    deleted (broadcast-gated deleted set, bool_and liveness agg)."""
    from .operators import context as CTX
    edges = _ctx_way_node_edges(spark, sf_dir)
    deleted = (_t(spark, sf_dir, "orders")
               .filter(F.col("o_orderstatus") == "F")
               .select(F.col("o_orderkey").cast("long").alias("way_id")))
    return CTX.cascade_discard(_ctx_nodes(spark, sf_dir), edges, deleted)


SQL_CTX_CASCADE = """
WITH e AS (
  SELECT CAST(l_orderkey AS BIGINT) AS way_id,
         CAST(l_partkey * 16 + l_orderkey % 16
              + CASE WHEN l_linenumber % 7 = 0 THEN 4000000000000 ELSE 0 END
              AS BIGINT) AS node_id
  FROM lineitem),
del AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS way_id
        FROM orders WHERE o_orderstatus = 'F'),
g AS (SELECT e.node_id, CAST(count(*) AS BIGINT) AS n_refs,
             CAST(count(DISTINCT e.way_id) AS BIGINT) AS n_parents,
             bool_and(del.way_id IS NOT NULL) AS all_deleted
      FROM e LEFT JOIN del ON e.way_id = del.way_id
      GROUP BY e.node_id),
nd AS (SELECT CAST(p_partkey * 16 + r AS BIGINT) AS node_id,
              ((p_partkey * 31 + r) % 5) = 0 AS tagged
       FROM part, (SELECT unnest(generate_series(0, 15)) AS r) rs)
SELECT nd.node_id, g.n_refs, g.n_parents
FROM g JOIN nd ON g.node_id = nd.node_id
WHERE g.all_deleted AND NOT nd.tagged
"""


def q_ctx_dangling_refs(spark, sf_dir):
    """Referential-integrity audit: references whose target id does
    not exist (null-safe LEFT ANTI joins per ref_type, never NOT IN)."""
    from .operators import context as CTX
    edges = (_ctx_way_node_edges(spark, sf_dir)
             .unionByName(_ctx_rel_way_edges(spark, sf_dir))
             .unionByName(_ctx_rel_rel_edges(spark, sf_dir)))
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    targets = {
        "node": _ctx_nodes(spark, sf_dir).select("node_id"),
        "way": (li.select(F.col("l_orderkey").cast("long").alias("id"))
                .distinct()),
        "relation": (c.select(F.col("c_custkey").cast("long").alias("id"))
                     .unionByName(n.select(
                         (F.col("n_nationkey") + 1000000000000).cast("long")
                         .alias("id")))
                     .unionByName(r.select(
                         (F.col("r_regionkey") + 2000000000000).cast("long")
                         .alias("id")))
                     .distinct()),
    }
    return CTX.dangling_references(edges, targets)


SQL_CTX_DANGLING = f"""
WITH {_SQL_CTX_EDGES},
nd AS (SELECT CAST(p_partkey * 16 + r AS BIGINT) AS id
       FROM part, (SELECT unnest(generate_series(0, 15)) AS r) rs),
wy AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS id FROM lineitem),
rl AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer
       UNION SELECT CAST(1000000000000 + n_nationkey AS BIGINT) FROM nation
       UNION SELECT CAST(2000000000000 + r_regionkey AS BIGINT) FROM region),
miss AS (
  SELECT e.parent_type, e.ref_type, e.ref_id
  FROM ctx_edges e LEFT JOIN nd ON e.ref_id = nd.id
  WHERE e.ref_type = 'node' AND nd.id IS NULL
  UNION ALL
  SELECT e.parent_type, e.ref_type, e.ref_id
  FROM ctx_edges e LEFT JOIN wy ON e.ref_id = wy.id
  WHERE e.ref_type = 'way' AND wy.id IS NULL
  UNION ALL
  SELECT e.parent_type, e.ref_type, e.ref_id
  FROM ctx_edges e LEFT JOIN rl ON e.ref_id = rl.id
  WHERE e.ref_type = 'relation' AND rl.id IS NULL)
SELECT parent_type, ref_type, CAST(count(*) AS BIGINT) AS n_dangling,
       CAST(count(DISTINCT ref_id) AS BIGINT) AS n_missing_targets,
       min(ref_id) AS min_missing, max(ref_id) AS max_missing
FROM miss GROUP BY parent_type, ref_type
"""


def q_ctx_relation_closure(spark, sf_dir):
    """Relation-nesting transitive closure (customer-relations nested
    under nation-relations under region-relations): BFS frontier loop,
    min-depth semantics — the oracle is a genuine recursive CTE."""
    from .operators import context as CTX
    e = (_ctx_rel_rel_edges(spark, sf_dir)
         .select("parent_id", F.col("ref_id").alias("child_id")))
    return CTX.transitive_closure(e, max_depth=8)


SQL_CTX_CLOSURE = """
WITH RECURSIVE e AS (
  SELECT CAST(1000000000000 + c_nationkey AS BIGINT) AS parent_id,
         CAST(c_custkey AS BIGINT) AS child_id
  FROM customer
  UNION ALL
  SELECT CAST(2000000000000 + n_regionkey AS BIGINT),
         CAST(1000000000000 + n_nationkey AS BIGINT)
  FROM nation),
tc AS (
  SELECT parent_id AS ancestor_id, child_id AS descendant_id, 1 AS depth
  FROM e
  UNION
  SELECT tc.ancestor_id, e.child_id, tc.depth + 1
  FROM tc JOIN e ON tc.descendant_id = e.parent_id)
SELECT ancestor_id, descendant_id, CAST(min(depth) AS INT) AS depth
FROM tc GROUP BY ancestor_id, descendant_id
"""


def q_ctx_pbf_discard(spark, sf_dir):
    """The roadmap example end-to-end on the REAL OSM path: PBF fixture
    → explode way refs → delete every third way → discardable untagged
    nodes. Engine-native rows-only (brute-force pandas parity in
    tests/test_context.py)."""
    from .operators import context as CTX
    from .sources.pbf import decode as PD
    path = _fixture_pbf_path(spark)
    els = PD.read_pbf(spark, path)
    ways = els.filter("etype = 'way'").select("id", "refs")
    nodes = (els.filter("etype = 'node'")
             .select(F.col("id").alias("node_id"),
                     (F.size("tags") > 0).alias("tagged")))
    edges = CTX.explode_references(ways=ways)
    deleted = ways.filter("id % 3 = 0").select(F.col("id").alias("way_id"))
    out = CTX.cascade_discard(nodes, edges, deleted)
    return out.agg(F.count("*").alias("n_discardable"),
                   F.min("node_id").alias("min_id"),
                   F.max("node_id").alias("max_id"),
                   F.sum("n_refs").alias("total_refs"))


# ---------------------------------------------------------------------------
# replication diffs (OsmChange application — the osmosis_replication_*
# state the reference's FileInfo carries, file_info.rs:11-13; delete =
# visible=false per the history model, current_object.rs:18-31).
# operators/replication.py. Synthetic derivation: base snapshot = part
# (version-1 nodes), the diff = lineitem (versions 2-5, every
# returnflag='R' row a delete, every linenumber-7 row a creation at a
# fresh id).
# ---------------------------------------------------------------------------


def _repl_base(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(F.lit("node").alias("etype"),
                    F.col("p_partkey").cast("long").alias("id"),
                    F.lit(1).cast("int").alias("version"),
                    F.lit(True).alias("visible"),
                    F.col("p_brand").alias("payload"))


def _repl_changes(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    new_id = (F.col("l_partkey")
              + F.when(F.col("l_linenumber") == 7, F.lit(2000))
              .otherwise(F.lit(0)))
    return li.select(F.lit("node").alias("etype"),
                     new_id.cast("long").alias("id"),
                     (F.lit(2) + F.col("l_linenumber") % 4).cast("int")
                     .alias("version"),
                     (F.col("l_returnflag") != "R").alias("visible"),
                     F.col("l_linestatus").alias("payload"))


def q_osm_apply_diff(spark, sf_dir):
    """OsmChange application: base ∪ diff → latest (etype, id) wins
    with change-beats-base + payload tie-breaks (the diff carries
    duplicate (id, version) rows — dup-key-aware by construction);
    deletes drop out of the current view."""
    from .operators import replication as REPL
    return REPL.apply_diff(_repl_base(spark, sf_dir),
                           _repl_changes(spark, sf_dir),
                           tie_breakers=("payload", "visible"))


SQL_APPLY_DIFF = """
WITH base AS (
  SELECT 'node' AS etype, CAST(p_partkey AS BIGINT) AS id,
         1 AS version, TRUE AS visible, p_brand AS payload, 0 AS src_pri
  FROM part),
chg AS (
  SELECT 'node' AS etype,
         CAST(l_partkey
              + CASE WHEN l_linenumber = 7 THEN 2000 ELSE 0 END
              AS BIGINT) AS id,
         2 + l_linenumber % 4 AS version,
         l_returnflag <> 'R' AS visible,
         l_linestatus AS payload, 1 AS src_pri
  FROM lineitem),
merged AS (SELECT * FROM base UNION ALL SELECT * FROM chg),
latest AS (
  SELECT etype, id, version, visible, payload,
         row_number() OVER (
           PARTITION BY etype, id
           ORDER BY version DESC, src_pri DESC, payload DESC,
                    visible DESC) AS rn
  FROM merged)
SELECT etype, id, CAST(version AS INT) AS version, visible, payload
FROM latest WHERE rn = 1 AND visible
"""


def q_osm_diff_stats(spark, sf_dir):
    """Diff classification (created / modified / deleted per element
    type): both sides collapse to one row per key before a single
    key join — the apply-changes bookkeeping."""
    from .operators import replication as REPL
    return REPL.diff_stats(_repl_base(spark, sf_dir),
                           _repl_changes(spark, sf_dir))


SQL_DIFF_STATS = """
WITH base AS (
  SELECT 'node' AS etype, CAST(p_partkey AS BIGINT) AS id, TRUE AS visible
  FROM part),
chg AS (
  SELECT 'node' AS etype,
         CAST(l_partkey
              + CASE WHEN l_linenumber = 7 THEN 2000 ELSE 0 END
              AS BIGINT) AS id,
         2 + l_linenumber % 4 AS version,
         l_returnflag <> 'R' AS visible
  FROM lineitem),
clat AS (
  SELECT etype, id, visible AS chg_vis FROM (
    SELECT etype, id, visible,
           row_number() OVER (PARTITION BY etype, id
                              ORDER BY version DESC, visible DESC) AS rn
    FROM chg) WHERE rn = 1),
blat AS (SELECT DISTINCT etype, id, visible AS base_vis FROM base)
SELECT etype,
       CASE WHEN base_vis IS NULL AND chg_vis THEN 'created'
            WHEN base_vis IS NULL THEN 'deleted_unknown'
            WHEN NOT chg_vis THEN 'deleted'
            ELSE 'modified' END AS action,
       CAST(count(*) AS BIGINT) AS n
FROM clat LEFT JOIN blat USING (etype, id)
GROUP BY etype, action
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


class Entry(NamedTuple):
    """One registry row. ``build(spark, sf_dir)`` returns the query's
    DataFrame; ``oracle`` is the DuckDB SQL whose result must hash-match
    it. ``window`` puts the entry inside the driver's hard-gated window,
    ``bench`` makes it a bench.py row, and ``bench_build`` replaces
    ``build`` when the bench should time a different (larger or leaner)
    computation than the parity fixture."""
    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    window: bool = False
    bench: bool = False
    bench_build: Callable[[SparkSession, str], DataFrame] | None = None


# The registry's knn_graph_ivf also computes the EXACT graph for its
# recall column; timing that would make the IVF scale path look slower
# than the exact knn_graph row it exists to beat. Bench the scale path
# alone, same parameters.
def _bench_knn_graph_ivf(spark, sf_dir):
    return ANN.knn_graph_ivf(_t(spark, sf_dir, "embeddings"),
                             k=5, n_centroids=16, n_probe=8)


# The registry's vector_tiles / mvt_tiles run over the small PBF fixture
# so their brute-force parity stays cheap; the bench tiles every
# part-table rect + triangle polygon at z=12 instead, so the rows
# reflect kernel + fan-out throughput, not fixture decode.
def _bench_tile_features(spark, sf_dir):
    from .jobs.tile_export import source_polygons  # imports this module
    from .operators import tiles as TL

    return TL.build_vector_tiles(source_polygons(spark, sf_dir, None),
                                 zoom=12)


def _bench_vector_tiles(spark, sf_dir):
    from .operators import tiles as TL

    return TL.tile_layer_stats(_bench_tile_features(spark, sf_dir))


def _bench_mvt_tiles(spark, sf_dir):
    from .operators import tiles as TL

    return TL.encode_mvt_layers(
        [("osm", _bench_tile_features(spark, sf_dir), "polygon")]).select(
        "z", "x", "y", "n_features", F.length("mvt").alias("mvt_bytes"))


# The driver hard-gates only the first 50 QUERIES entries (its window);
# every oracled entry also gets full parity in tests/test_oracle_parity.py.
# Spend the window on operators whose failure modes the driver can catch
# (joins, covers, partitioning, codecs, iterative plans); cheap
# pure-Column transforms live past it with their oracles kept.
# Cheap pure-Column rows stay off the bench (bench=False) so bench.py's
# stdout line fits the driver's 1900-byte capture (tier-2 line pinned
# by tests/test_registry_contract.py).
REGISTRY = [
    Entry("j7_spatial_cell_join", q_j7_spatial_cell_join, SQL_J7,
          window=True, bench=True),
    Entry("j8_pip_refine", q_j8_pip_refine, SQL_J8, window=True, bench=True),
    Entry("j9_knn_ring_expansion", q_j9_knn, SQL_J9, window=True, bench=True),
    Entry("j10_raster_vector", q_j10_raster_vector, SQL_J10,
          window=True, bench=True),
    Entry("c1_zorder_tile", q_c1_zorder_tile, SQL_C1, window=True, bench=True),
    Entry("s2_cellid", q_s2_cellid, SQL_S2CELL, window=True, bench=True),
    Entry("s2_containment_join", q_s2_containment_join, SQL_S2CONTAIN,
          window=True, bench=True),
    Entry("tile_point_assign", q_tile_point_assign, SQL_TILE_PT,
          window=True, bench=True),
    Entry("tile_cover_assign", q_tile_cover_assign, SQL_TILE_COVER,
          window=True, bench=True),
    Entry("ctx_cascade_discard", q_ctx_cascade_discard, SQL_CTX_CASCADE,
          window=True, bench=True),
    Entry("ctx_relation_closure", q_ctx_relation_closure, SQL_CTX_CLOSURE,
          window=True, bench=True),
    Entry("ctx_dangling_refs", q_ctx_dangling_refs, SQL_CTX_DANGLING,
          window=True),
    Entry("agg_cell_rollup", q_agg_cell_rollup, SQL_ROLLUP,
          window=True, bench=True),
    Entry("a2_bounding_box", q_a2_bounding_box, SQL_A2,
          window=True, bench=True),
    Entry("a1_count_by_type", q_a1_count_by_type, SQL_A1, window=True),
    Entry("a3_block_bbox", q_a3_block_bbox, SQL_A3, window=True),
    Entry("a4_ordered_assembly", q_a4_ordered_assembly, SQL_A4,
          window=True, bench=True),
    Entry("a5_latest_version", q_a5_latest_version, SQL_A5,
          window=True, bench=True),
    Entry("a6_distinct_dims", q_a6_distinct_dims, SQL_A6, window=True),
    Entry("a7_stats", q_a7_stats, SQL_A7, window=True),
    Entry("o2_global_order", q_o2_global_order, SQL_O2, window=True),
    Entry("o5_topk_per_group", q_o5_topk_per_group, SQL_O5,
          window=True, bench=True),
    Entry("s2_distance_join", q_s2_distance_join, SQL_S2_DIST,
          window=True, bench=True),
    Entry("ring_centroid", q_ring_centroid, SQL_RING_CENTROID, window=True),
    Entry("spatial_dbscan", q_spatial_dbscan, SQL_DBSCAN,
          window=True, bench=True),
    Entry("hotspot_gistar", q_hotspot_gistar, SQL_GISTAR,
          window=True, bench=True),
    Entry("f4_current_visible", q_f4_current_visible, SQL_F4, window=True),
    Entry("rollup_multires", q_rollup_multires, SQL_ROLLUP_MR,
          window=True, bench=True),
    Entry("j1_sortmerge_group_join", q_j1_sortmerge_group_join, SQL_J1,
          window=True, bench=True),
    Entry("j2_threeway_assembly", q_j2_threeway_assembly, SQL_J2,
          window=True, bench=True),
    Entry("j3_member_assembly", q_j3_member_assembly, SQL_J3, window=True),
    Entry("j4_broadcast_lookup", q_j4_broadcast_lookup, SQL_J4,
          window=True, bench=True),
    Entry("w1_hourly_window", q_w1_hourly_window, SQL_W1,
          window=True, bench=True),
    Entry("w2_sessionize_batch", q_w2_sessionize_batch, SQL_W2,
          window=True, bench=True),
    Entry("text_chunks", q_text_chunks, SQL_TEXT_CHUNKS,
          window=True, bench=True),
    Entry("dedup_exact", q_dedup_exact, SQL_DEDUP_EXACT,
          window=True, bench=True),
    Entry("dedup_minhash_lsh", q_dedup_minhash_lsh, SQL_DEDUP_MINHASH,
          window=True, bench=True),
    Entry("dedup_clusters", q_dedup_clusters, SQL_DEDUP_CLUSTERS,
          window=True, bench=True),
    Entry("corpus_curation", q_corpus_curation, SQL_CURATION,
          window=True, bench=True),
    Entry("dedup_simhash", q_dedup_simhash, SQL_DEDUP_SIMHASH,
          window=True, bench=True),
    Entry("dedup_ngram_jaccard", q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM,
          window=True, bench=True),
    Entry("dedup_embedding_cosine", q_dedup_embedding, SQL_DEDUP_EMB,
          window=True, bench=True),
    Entry("dedup_embedding_ivf", q_dedup_embedding_ivf, SQL_DEDUP_EMB,
          window=True, bench=True),
    Entry("dedup_phash_hamming", q_dedup_phash_hamming, SQL_DEDUP_HAMMING,
          window=True, bench=True),
    Entry("ann_topk_cosine", q_ann_topk, SQL_ANN, window=True, bench=True),
    Entry("knn_graph", q_knn_graph, SQL_KNN_GRAPH, window=True, bench=True),
    Entry("stream_hourly_window", q_stream_hourly_window, SQL_STREAM_W,
          window=True),
    Entry("stream_dedup", q_stream_dedup, SQL_STREAM_DD, window=True),
    Entry("mm_row_invariants", q_mm_row_invariants, SQL_MM_INV, window=True),
    Entry("mm_decode_stats", q_mm_decode_stats, SQL_MM_STATS,
          window=True, bench=True),
    # -- past the driver window: oracled, hash-checked by pytest parity
    Entry("text_quality", q_text_quality, SQL_QUALITY),
    Entry("text_fingerprint", q_text_fingerprint, SQL_FINGERPRINT),
    Entry("text_repetition", q_text_repetition, SQL_TEXT_REP),
    Entry("text_vocab", q_text_vocab, SQL_TEXT_VOCAB),
    Entry("text_token_count", q_text_token_count, SQL_TOKENS),
    Entry("text_token_count_bpe", q_text_token_count_bpe, SQL_TOKENS_BPE),
    Entry("text_language_id", q_text_language_id, SQL_LANG),
    Entry("c2_fixed_point", q_c2_fixed_point, SQL_C2),
    Entry("c5_timestamp_convert", q_c5_timestamp_convert, SQL_C5),
    Entry("sample_mixture", q_sample_mixture, SQL_SAMPLE_MIX, bench=True),
    Entry("f1_token_filter", q_f1_token_filter, SQL_F1),
    Entry("ctx_reverse_index", q_ctx_reverse_index, SQL_CTX_RIDX, bench=True),
    Entry("osm_apply_diff", q_osm_apply_diff, SQL_APPLY_DIFF),
    Entry("osm_diff_stats", q_osm_diff_stats, SQL_DIFF_STATS),
    Entry("s2_multires_rollup", q_s2_multires_rollup, SQL_S2_MRR, bench=True),
    Entry("tile_quadkey", q_tile_quadkey, SQL_TILE_QK, bench=True),
    Entry("zonal_stats", q_zonal_stats, SQL_ZONAL, bench=True),
    Entry("tile_geohash", q_tile_geohash, SQL_TILE_GH, bench=True),
    Entry("coverage_audit", q_coverage_audit, SQL_COVERAGE, bench=True),
    Entry("overlap_join", q_overlap_join, SQL_OVERLAP, bench=True),
    Entry("overlap_dissolve", q_overlap_dissolve, SQL_DISSOLVE, bench=True),
    Entry("trip_segments", q_trip_segments, SQL_TRIPS, bench=True),
    # -- engine-native, no SQL equivalent: the driver checks rows only;
    # each entry is refereed (brute force, numpy or golden bytes) in its
    # operator's tests/ module
    Entry("mm_phash_near_dup", q_mm_phash_near_dup, bench=True),
    Entry("image_curation", q_image_curation, bench=True),
    Entry("mm_embed_near_dup", q_mm_embed_near_dup, bench=True),
    Entry("pbf_roundtrip_counts", q_pbf_roundtrip_counts),
    Entry("polygon_assembly", q_polygon_assembly),
    Entry("pbf_spatial_join", q_pbf_spatial_join),
    Entry("apidb_roundtrip_counts", q_apidb_roundtrip),
    Entry("ref_fixture_parity", q_ref_fixture_parity),
    Entry("stream_sessionize", q_stream_sessionize),
    Entry("stream_cell_enrich", q_stream_cell_enrich),
    Entry("stream_image_dedup", q_stream_image_dedup),
    Entry("ann_lsh_topk", q_ann_lsh_topk),
    Entry("ann_ivf_topk", q_ann_ivf_topk, bench=True),
    Entry("knn_graph_ivf", q_knn_graph_ivf,
          bench=True, bench_build=_bench_knn_graph_ivf),
    Entry("pack_sequences", q_pack_sequences, bench=True),
    Entry("dedup_substring", q_dedup_substring, bench=True),
    Entry("mm_caption_audit", q_mm_caption_audit, bench=True),
    Entry("text_pii_scrub", q_text_pii_scrub, bench=True),
    Entry("s2_cap_cover_join", q_s2_cap_cover_join, bench=True),
    Entry("s2_polygon_cover_join", q_s2_polygon_cover_join, bench=True),
    Entry("s2_osm_polygon_join", q_s2_osm_polygon_join),
    Entry("s2_knn_join", q_s2_knn_join, bench=True),
    Entry("idw_interpolation", q_idw_interpolation, bench=True),
    Entry("stream_s2_enrich", q_stream_s2_enrich),
    Entry("vector_tiles", q_vector_tiles,
          bench=True, bench_build=_bench_vector_tiles),
    Entry("tile_pyramid", q_tile_pyramid, SQL_TILE_PYR, bench=True),
    Entry("mvt_tiles", q_mvt_tiles, bench=True, bench_build=_bench_mvt_tiles),
    Entry("heatmap_tiles", q_heatmap_tiles, SQL_HEATMAP, bench=True),
    Entry("heatmap_pyramid", q_heatmap_pyramid, SQL_HEAT_PYR, bench=True),
    Entry("tile_retile", q_tile_retile, bench=True),
    Entry("stream_tile_heatmap", q_stream_tile_heatmap, SQL_STREAM_TILEHEAT),
    Entry("ctx_pbf_discard", q_ctx_pbf_discard),
    Entry("osm_geodesic_stats", q_osm_geodesic_stats),
    Entry("vector_tile_points", q_vector_tile_points, SQL_TILE_POINTS,
          bench=True),
    Entry("vector_tile_lines", q_vector_tile_lines, bench=True),
    Entry("mvt_layered_tiles", q_mvt_layered_tiles, bench=True),
]

QUERIES = {e.name: e.build
           for e in sorted(REGISTRY, key=lambda e: not e.window)}
ORACLES = {e.name: e.oracle for e in REGISTRY if e.oracle is not None}
BENCH_QUERIES = [e.name for e in REGISTRY if e.bench]
BENCH_BUILD = {e.name: e.bench_build or e.build for e in REGISTRY}


def time_runs(run, runs: int, warmup: int = 0) -> tuple[list[float], Any]:
    """Call ``run()`` ``warmup`` untimed then ``runs`` timed times;
    return (seconds per timed call, the last call's result). ``run``
    must build its query INSIDE the call: some builds do eager work
    (index builds, guard counts, lazy checkpoints) and a reused
    DataFrame would replay checkpoints or AQE shuffle stages and time
    only the tail — so every measurement is timed the same way."""
    samples, out = [], None
    for i in range(warmup + runs):
        t0 = time.perf_counter()
        out = run()
        if i >= warmup:
            samples.append(time.perf_counter() - t0)
    return samples, out


def time_query(spark, sf_dir: str, name: str, runs: int,
               warmup: int = 0) -> tuple[list[float], int]:
    """Time ``BENCH_BUILD[name](spark, sf_dir).count()``; return
    (seconds per run, row count)."""
    build = BENCH_BUILD[name]
    return time_runs(lambda: build(spark, sf_dir).count(), runs, warmup)
