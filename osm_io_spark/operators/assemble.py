"""Geometry assembly: ways + nodes → polylines/rings, relations →
multipolygons (SURVEY.md J2/J3/A4 re-expressed as DataFrame joins).

The reference reassembles ways by joining way_nodes (ordered by
sequence_id) against node coordinates via streaming merge joins
(way_relations_reader.rs:69-160). Spark-first: posexplode preserves ref
order as a position column, an equi-join fetches coordinates, and
sort_array(collect_list(struct(pos, …))) restores order — Catalyst
picks SMJ/shuffle-hash as appropriate.

Multipolygon semantics (documented minimal subset, FIXTURES.md §4):
relation members of type Way with roles outer/inner, each member way a
closed ring; ring 0..k outer rings first (member order preserved), then
inner rings. Containment uses the even-odd rule, so inner rings punch
holes without explicit nesting analysis.

One assembly path, in three steps that share their frames:
:func:`current_elements` (the current view of every element type, one
window), :func:`way_lines` (one ordered polyline per way, serving way
polygons, relation members and road lines) and :func:`polygons`
(closed ways ∪ multipolygon relations over those lines).
:func:`assemble_polygons` chains them lazily; a caller that fans out
from the shared frames (jobs/tile_export.source_layers) pins each step
before the next reads it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .current import current_view


def current_elements(elements: DataFrame) -> DataFrame:
    """The current view (operators/current.py) of every element type
    of a unified PBF element frame, as ONE window over (etype, id):
    element ids are per-type namespaces."""
    return current_view(elements, ["etype", "id"])


def by_type(elements: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(nodes, ways, relations) of a unified element frame."""
    return tuple(elements.filter(F.col("etype") == t)
                 for t in ("node", "way", "relation"))


def way_lines(ways: DataFrame, nodes: DataFrame) -> DataFrame:
    """(id, version, tags, closed, ring, left, bottom, right, top) for
    every way; ``ring`` is the ordered array<struct<lon,lat>> of its
    node coords, ``closed`` whether its refs close a ring (first ref ==
    last ref, at least 4 refs). Ways referencing missing nodes are
    dropped (inner join), matching the apidb FK expectation."""
    closed = (F.element_at("refs", 1) == F.element_at("refs", -1)) & \
             (F.size("refs") >= 4)
    w = ways.select("id", "version", "tags", closed.alias("closed"),
                    F.posexplode("refs").alias("pos", "ref"))
    n = nodes.select(F.col("id").alias("ref"), "lat", "lon")
    j = w.join(n, "ref")
    pts = F.array_sort(F.collect_list(F.struct("pos", "lon", "lat")))
    return (j.groupBy("id", "version")
            .agg(F.first("tags").alias("tags"),
                 F.first("closed").alias("closed"),
                 pts.alias("_pts"),
                 F.min("lon").alias("left"), F.min("lat").alias("bottom"),
                 F.max("lon").alias("right"), F.max("lat").alias("top"))
            .withColumn("ring", F.transform(
                F.col("_pts"),
                lambda p: F.struct(p["lon"].alias("lon"), p["lat"].alias("lat"))))
            .drop("_pts"))


def _way_polygons(lines: DataFrame) -> DataFrame:
    """Closed ways → single-ring polygons (schemas.POLYGONS shape)."""
    return lines.filter("closed").select(
        F.col("id").alias("polygon_id"), F.lit("way").alias("source"),
        F.array("ring").alias("rings"),
        "left", "bottom", "right", "top", "tags")


def _relation_polygons(relations: DataFrame, lines: DataFrame) -> DataFrame:
    """type=multipolygon relations → multi-ring polygons. Outer member
    rings first (member order preserved), then inner rings."""
    is_mp = F.exists("tags", lambda t: (t["k"] == F.lit("type"))
                     & (t["v"] == F.lit("multipolygon")))
    mem = (relations.filter(is_mp)
           .select(F.col("id").alias("rel_id"), F.col("tags").alias("rel_tags"),
                   F.posexplode("members").alias("mpos", "m"))
           .filter((F.col("m.type") == "Way")
                   & F.col("m.role").isin("outer", "inner"))
           .select("rel_id", "rel_tags", "mpos",
                   F.col("m.id").alias("id"), F.col("m.role").alias("role")))
    rings = lines.select("id", "ring", "left", "bottom", "right", "top")
    j = mem.join(rings, "id")
    ordered = F.transform(
        F.array_sort(F.collect_list(F.struct(
            F.when(F.col("role") == "outer", 0).otherwise(1).alias("rk"),
            F.col("mpos").alias("mpos"), F.col("ring").alias("ring")))),
        lambda s: s["ring"])
    return (j.groupBy("rel_id")
            .agg(F.first("rel_tags").alias("tags"),
                 ordered.alias("rings"),
                 F.min("left").alias("left"), F.min("bottom").alias("bottom"),
                 F.max("right").alias("right"), F.max("top").alias("top"))
            .select(F.col("rel_id").alias("polygon_id"),
                    F.lit("relation").alias("source"),
                    "rings", "left", "bottom", "right", "top", "tags"))


def polygons(relations: DataFrame, lines: DataFrame) -> DataFrame:
    """Polygons table (ways ∪ relations) from current relations and the
    :func:`way_lines` of the current ways and nodes."""
    # ways consumed by a multipolygon relation stay available standalone —
    # minimal semantics; OSM proper would suppress role-member ways with
    # no own tags. Documented subset.
    return _way_polygons(lines).unionByName(
        _relation_polygons(relations, lines))


def assemble_polygons(elements: DataFrame) -> DataFrame:
    """Unified PBF element frame → polygons table (ways ∪ relations).
    History-aware: only current (latest-version visible) elements
    participate (A5 before assembly)."""
    nodes, ways, rels = by_type(current_elements(elements))
    return polygons(rels, way_lines(ways, nodes))
