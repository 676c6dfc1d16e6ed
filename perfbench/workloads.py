"""The two workload jobs. Each runs ONE job through the engine's public
functions, with a span around every call; each call's output is
materialized at its boundary (an aggregate collected to the driver, or
a persisted frame) so the span holds that call's work.

A job returns (items, result): ``items`` is the workload's throughput
unit, ``result`` what the output checks need.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import functions as F

from osm_io_spark.jobs import tile_export as TE
from osm_io_spark.operators import assemble as ASM
from osm_io_spark.operators import knn as KNN
from osm_io_spark.operators import raster as RAS
from osm_io_spark.operators import spatial_join as SJ
from osm_io_spark.operators import tiles as TL
from osm_io_spark.plans.snapshots import ResumableJob, SnapshotCatalog
from osm_io_spark.sources.pbf import decode as PD
from osm_io_spark.sources.pbf import encode as PE

from .gen import FP_SQL, IMAGE_JOIN, OSM_EXTRACT

_DISK = StorageLevel.MEMORY_AND_DISK


def fingerprint(df, a: str = "img_id", b: str = "polygon_id") -> list[int]:
    row = df.agg(*[F.expr(e.format(a=a, b=b)) for e in FP_SQL]).collect()[0]
    return [int(x or 0) for x in row]


def _commit(blobs, root: str, name: str, zoom: int, shards: int):
    """Morton-range shard + ResumableJob commit, as jobs/tile_export does."""
    blobs = blobs.withColumn("shard", F.shiftright(F.col("m") * shards,
                                                   2 * zoom))
    table = SnapshotCatalog(root).table(name)
    job = ResumableJob(table, "tile_export", inputs={"zoom": zoom},
                       commit_every=4, stats_columns=["m"])

    def build(partition: str):
        s = int(partition.split("=")[1])
        return blobs.filter(F.col("shard") == s).drop("shard")

    snap = job.run([f"shard={s}" for s in range(shards)], build)
    return table, snap


def image_join(spark, tr, d: str, job_dir: str, meta: dict):
    p = IMAGE_JOIN
    rd = spark.read.parquet
    imgs = rd(f"{d}/images.parquet")
    rects = rd(f"{d}/rects.parquet")
    polys = rd(f"{d}/polys.parquet")
    out = {}
    with tr.span("join.rect"):
        out["rect"] = fingerprint(
            SJ.spatial_join_rect(imgs, rects, p["join_res"]))
    with tr.span("join.pip"):
        out["pip"] = fingerprint(
            SJ.spatial_join_polygons(imgs, polys, p["join_res"]))
    with tr.span("raster"):
        out["raster"] = fingerprint(
            RAS.raster_vector_assign(imgs, rects, p["raster_res"]))
    with tr.span("knn"):
        knn = KNN.knn_join(rd(f"{d}/knn_probes.parquet"), rects,
                           k=p["knn_k"], res=p["knn_res"])
        out["knn"] = fingerprint(knn, b="polygon_id * 4 + rank")
    s2polys = rd(f"{d}/s2_polys.parquet")
    with tr.span("join.s2.cover"):
        out["s2_cover_cells"] = SJ.s2_cover_polygons(s2polys).count()
    with tr.span("join.s2"):
        out["s2"] = fingerprint(SJ.s2_spatial_join_polygons(
            rd(f"{d}/s2_images.parquet"), s2polys))
    # three joins probe every image; kNN and S2 probe their subsets
    return 3 * p["images"] + p["knn_probes"] + p["s2_images"], out


def osm_extract(spark, tr, d: str, job_dir: str, meta: dict):
    p = OSM_EXTRACT
    z = p["zoom"]
    out = {}
    os.makedirs(job_dir, exist_ok=True)
    pbf = os.path.join(job_dir, "extract.osm.pbf")
    with tr.span("pbf.write"):
        out["blocks"] = PE.write_pbf(spark.read.parquet(f"{d}/elements.parquet"),
                                     pbf, history=True)
        out["pbf_bytes"] = os.path.getsize(pbf)
    with tr.span("pbf.read"):
        els = PD.read_pbf(spark, pbf).persist(_DISK)
        tag_hash = F.aggregate(
            F.coalesce("tags", F.array().cast(els.schema["tags"].dataType)),
            F.lit(0).cast("long"),
            lambda acc, t: acc + F.crc32(F.concat(t["k"], F.lit("="), t["v"])
                                         .cast("binary")))
        rows = els.groupBy("etype").agg(
            F.count(F.lit(1)), F.min("id"), F.max("id"), F.min("lon"),
            F.min("lat"), F.max("lon"), F.max("lat"),
            F.sum(tag_hash)).collect()
        out["read"] = {r[0]: list(r[1:]) for r in rows}
    with tr.span("assemble"):
        polys = ASM.assemble_polygons(els).persist(_DISK)
        agg = polys.agg(F.count(F.lit(1)), F.sum(F.size("rings"))).collect()[0]
        out["polygons"], out["rings"] = int(agg[0]), int(agg[1] or 0)
    polys.unpersist()
    els.unpersist()
    # the calls `jobs/tile_export --pbf --layered` makes; each layer's
    # clipped features are pinned at the clip boundary
    with tr.span("tiles.clip"):
        layers = [(t[0], t[1].persist(_DISK), *t[2:])
                  for t in TE.source_layers(spark, None, pbf, z)]
        out["features"] = sum(t[1].count() for t in layers)
    with tr.span("tiles.layered"):
        blobs = (TL.encode_mvt_layers(layers)
                 .withColumn("m", TL.tile_morton_col("x", "y"))
                 .persist(_DISK))
        agg = blobs.agg(F.count(F.lit(1)), F.sum(F.length("mvt"))).collect()[0]
        out["tiles"], out["mvt_bytes"] = int(agg[0]), int(agg[1] or 0)
    with tr.span("snapshots.commit"):
        table, snap = _commit(blobs, job_dir, f"tiles_z{z}_layered", z,
                              p["shards"])
    blobs.unpersist()
    for t in layers:
        t[1].unpersist()
    out["table_dir"] = table.dir
    out["partitions"] = snap.partitions
    out["regions"] = []
    with tr.span("tiles.region"):
        for bbox in meta["regions"]:
            df, kept = TL.read_tile_region(table, spark, z, *bbox)
            rows = [tuple(r) for r in df.select("z", "x", "y", "mvt").collect()]
            scanned = sum(snap.partitions[k]["rows"] for k in kept)
            out["regions"].append((bbox, rows, scanned))
    return sum(v[0] for v in out["read"].values()), out
