"""Tile-export pipeline: polygons → vector tiles → MVT blobs committed
into the snapshot layer, checkpoint-resumable per shard.

    spark-submit --py-files engine.zip -m osm_io_spark.jobs.tile_export \
        --sf-dir /root/testdata/sf0.01 --out /tmp/tiles --zoom 12

    # real OSM input instead of the bench corpus:
    ... -m osm_io_spark.jobs.tile_export --pbf planet.osm.pbf --zoom 13

The north-star sentence as a CLI: OSM polygons (PBF assembly or the
bench rect+tri corpus) are clipped/simplified/quantized into slippy
tiles and encoded as Mapbox-Vector-Tile blobs, stored as
parquet-of-blobs partitions in a SnapshotTable — per-shard lineage +
row/byte metrics in the manifest, re-runs skip completed shards
(ResumableJob), time travel and S2-style pruning come with the layer.

Shards partition the TILE key space (xxhash of x,y mod N), so a crash
loses at most ``--commit-every`` shards of encode work and re-running
reprocesses only the missing ones. The blob frame is pinned with an
eager localCheckpoint before the per-shard fan-out (the fan-out
rule: each shard's write would otherwise re-run the clip kernel; a
lazy one would run the encoder's shuffle twice under AQE).

``--materialize DIR`` additionally writes the final snapshot out as a
z/x/y.mvt file tree (the delivery layout) — driver-side, guarded to
driver-sized tile counts; the parquet snapshot is the scale path.

``--layered`` exports the COMPLETE map-server tile instead of the
polygon-only layer: areas + roads + pois in one multi-layer blob per
tile (operators/tiles.encode_mvt_layers), with real OSM tags as
feature attributes when the input is a .pbf. A .pbf is decoded and
assembled once for all three layers and their attributes
(:func:`source_layers`).
"""

from __future__ import annotations

import argparse
import json
import os

from pyspark.sql import functions as F

from ..operators import tiles as TL
from ..plans.snapshots import ResumableJob, SnapshotCatalog
from ..queries import (ensure_shipped, rect_polygons_ringed,
                       tri_polygons_ringed)
from ..session import get_spark


def source_polygons(spark, sf_dir: str | None, pbf: str | None):
    if pbf:
        from ..operators import assemble as ASM
        from ..sources.pbf import decode as PD
        return ASM.assemble_polygons(PD.read_pbf(spark, pbf))
    return rect_polygons_ringed(spark, sf_dir).unionByName(
        tri_polygons_ringed(spark, sf_dir))


def source_layers(spark, sf_dir: str | None, pbf: str | None, zoom: int):
    """[(name, features, kind[, attrs])] for the --layered export: the
    complete map-server tile (areas + roads + pois). PBF input carries
    real OSM tags into every layer; the bench corpus ships polygons,
    their rings read as open polylines, and the image probe as POIs.

    The PBF branch runs operators/assemble's one assembly path once and
    reads every layer from it: one current view of all element types,
    one ``way_lines`` (way polygons, relation members and the roads
    layer), one polygon frame (the areas features and their tag
    attributes). Each of the three is pinned with an eager
    localCheckpoint before the next step reads it (fan-out rule; a
    lazy one would re-run the window and join shuffles under AQE), so
    building the layers runs those three jobs and nothing upstream of
    them runs again; the checkpoints are freed with the frames."""
    if pbf:
        from ..operators import assemble as ASM
        from ..sources.pbf import decode as PD

        cur = ASM.current_elements(PD.read_pbf(spark, pbf)).localCheckpoint()
        nodes, ways, rels = ASM.by_type(cur)
        lines = ASM.way_lines(ways, nodes).localCheckpoint()
        polys = ASM.polygons(rels, lines).localCheckpoint()
        pois = nodes.filter(F.size("tags") > 0)

        def _kv(df, idcol):
            # OSM tags → the layer attribute frame shape
            return df.selectExpr(f"`{idcol}` AS fid",
                                 "transform(tags, t -> t.k) AS tag_ks",
                                 "transform(tags, t -> t.v) AS tag_vs")

        # polygon ids conflate the way and relation namespaces, and
        # attrs need one row per fid: deterministic min-struct dedupe
        area_kv = (_kv(polys, "polygon_id").groupBy("fid")
                   .agg(F.min(F.struct("tag_ks", "tag_vs")).alias("_s"))
                   .selectExpr("fid", "_s.tag_ks", "_s.tag_vs"))
        return [
            ("areas", TL.build_vector_tiles(polys, zoom), "polygon",
             area_kv),
            ("roads", TL.build_vector_tile_lines(
                lines.selectExpr("id AS way_id", "ring AS line", "left",
                                 "bottom", "right", "top"), zoom),
             "line", _kv(lines, "id")),
            ("pois", TL.tile_points(
                pois.selectExpr("id AS point_id", "lon", "lat"), zoom),
             "point", _kv(pois, "id")),
        ]
    from ..queries import images_probe

    polys = source_polygons(spark, sf_dir, None)
    lines = polys.select(F.col("polygon_id").alias("way_id"),
                         F.element_at("rings", 1).alias("line"),
                         "left", "bottom", "right", "top")
    pois = images_probe(spark, sf_dir).select(
        F.col("img_id").alias("point_id"), "lon", "lat")
    return [("areas", TL.build_vector_tiles(polys, zoom), "polygon"),
            ("roads", TL.build_vector_tile_lines(lines, zoom), "line"),
            ("pois", TL.tile_points(pois, zoom), "point")]


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--pbf", default=None,
                    help="OSM .pbf input (overrides --sf-dir corpus)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--zoom", type=int, default=12)
    ap.add_argument("--layered", action="store_true",
                    help="export the complete multi-layer tile "
                         "(areas+roads+pois with attributes) instead "
                         "of the polygon-only layer")
    ap.add_argument("--shards", type=int, default=8)
    ap.add_argument("--shard-by", default="morton",
                    choices=["morton", "hash"],
                    help="morton = contiguous Morton-range shards with "
                         "per-shard m min/max manifest stats, enabling "
                         "read_tile_region's data skipping; hash = "
                         "uniform xxhash shards (no read locality)")
    ap.add_argument("--commit-every", type=int, default=4)
    ap.add_argument("--materialize", default=None,
                    help="also write z/x/y.mvt files (driver-sized sets)")
    ap.add_argument("--max-materialize", type=int, default=100_000)
    args = ap.parse_args(argv)
    if args.zoom > 16:
        ap.error("--zoom above 16: the tile store's Morton key "
                 "(tiles.tile_morton_col) covers tile indices below 2^16")

    spark = get_spark("tile-export")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    if args.layered:
        layer_defs = source_layers(spark, args.sf_dir, args.pbf,
                                   args.zoom)
    else:
        polys = source_polygons(spark, args.sf_dir, args.pbf)
        layer_defs = [("osm", TL.build_vector_tiles(polys, args.zoom),
                       "polygon")]
    blobs = TL.encode_mvt_layers(layer_defs).withColumn(
        "m", TL.tile_morton_col("x", "y"))
    if args.shard_by == "morton":
        # contiguous Morton ranges: shard k holds m ∈ [k, k+1)·4^z/N —
        # 2-D tile locality becomes per-shard m min/max manifest stats,
        # so read_tile_region serves a bbox from a few shards. Ranges
        # split the ID space uniformly (deterministic and resumable);
        # a sparse/clustered tile set (small extracts, ocean-free
        # planets) leaves some shards empty — harmless: empty shards
        # carry no stats and the pruned reader skips zero-row
        # partitions outright. Data-quantile boundaries would balance
        # bytes better but make the shard of a tile depend on the
        # WHOLE dataset, breaking per-shard resume.
        blobs = blobs.withColumn(
            "shard", F.shiftright(F.col("m") * args.shards,
                                  2 * args.zoom))
    else:
        blobs = blobs.withColumn(
            "shard", F.pmod(F.xxhash64("x", "y"), F.lit(args.shards)))
    blobs = blobs.localCheckpoint()

    catalog = SnapshotCatalog(args.out)
    suffix = "_layered" if args.layered else ""
    table = catalog.table(f"tiles_z{args.zoom}{suffix}")
    job = ResumableJob(table, "tile_export",
                       inputs={"sf_dir": args.sf_dir, "pbf": args.pbf,
                               "zoom": args.zoom, "shards": args.shards,
                               "shard_by": args.shard_by,
                               "layered": args.layered},
                       commit_every=args.commit_every,
                       stats_columns=["m"])
    plan = [f"shard={s}" for s in range(args.shards)]

    def build(partition: str):
        s = int(partition.split("=")[1])
        return blobs.filter(F.col("shard") == s).drop("shard")

    snap = job.run(plan, build)

    n_files = 0
    if args.materialize:
        tiles = table.read(spark)
        n_tiles = tiles.count()
        if n_tiles > args.max_materialize:
            raise ValueError(
                f"{n_tiles} tiles exceed --max-materialize="
                f"{args.max_materialize}; the parquet snapshot IS the "
                f"scale path — raise the cap only for driver-sized sets")
        # guarded driver-sized: one collect (toLocalIterator would
        # schedule a sequential job per partition — CLAUDE.md rule)
        for row in tiles.select("z", "x", "y", "mvt").collect():
            d = os.path.join(args.materialize, str(row.z), str(row.x))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, f"{row.y}.mvt"), "wb") as fh:
                fh.write(bytes(row.mvt))
            n_files += 1

    summary = {
        "metric": "tiles_exported",
        "n_partitions": snap.summary["n_partitions"],
        "rows": snap.summary["total_rows"],
        "bytes": snap.summary["total_bytes"],
        "version": snap.version,
        "materialized_files": n_files,
        "out": args.out,
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
