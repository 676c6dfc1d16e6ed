"""Per-layer metrics of a traced run: span times per call, the counts
each layer reports at its boundary, and the event-log task metrics of
each call's job group. Every metric is reported on every workload; a
layer a workload bypasses reads 0.
"""

from __future__ import annotations

import statistics

from osm_io_spark.operators import spatial_join as SJ

from .gen import IMAGE_JOIN
from .trace import group_metrics

# call (span and job group name) -> its time metric
CALL_TIME = {
    "join.rect": "join.rect.s", "join.pip": "join.pip.s",
    "raster": "raster.s", "knn": "knn.s",
    "join.s2.cover": "join.s2.cover_s", "join.s2": "join.s2.s",
    "pbf.write": "pbf.write.s", "pbf.read": "pbf.read.s",
    "assemble": "assemble.s", "tiles.clip": "tiles.clip.s",
    "tiles.layered": "tiles.layered.s",
    "tiles.region": "tiles.region.s", "snapshots.commit": "snapshots.commit.s",
}
COUNTS = [
    "pbf.write.bytes", "pbf.write.blocks", "pbf.read.elements",
    "assemble.polygons", "assemble.rings",
    "join.rect.candidates", "join.rect.matches", "join.rect.match_ratio",
    "join.pip.cover_cells", "join.pip.candidates", "join.pip.matches",
    "join.pip.match_ratio", "join.s2.cover_cells", "join.s2.matches",
    "knn.pairs", "knn.jobs", "raster.pairs",
    "tiles.clip.features", "tiles.layered.tiles", "tiles.layered.bytes",
    "tiles.region.tiles", "tiles.region.read_ratio",
    "snapshots.partitions", "snapshots.files", "snapshots.bytes",
]
SESSION = ["session.start_s", "session.ship_s", "session.worker_warm_s"]
RUN = ["trace.overhead_s", "job.self_s", "job.peak_rss_mb"]
EVENT = ["task_cpu_s", "python_wait_s", "shuffle_bytes", "spill_bytes",
         "task_skew"]


def names() -> list[str]:
    return (SESSION + list(CALL_TIME.values()) + COUNTS + RUN
            + [f"{c}.{e}" for c in CALL_TIME for e in EVENT])


def unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("ratio", "skew")):
        return "ratio"
    return "count"


def layer_counts(wl: str, spark, d: str) -> dict:
    """Candidate and cover-cell counts of the planar joins, from the
    engine's own cover_* / cell_join calls; run after the traced jobs,
    outside every span, so they cost the timed jobs nothing."""
    if wl != "image_join":
        return {}
    res = IMAGE_JOIN["join_res"]
    imgs = spark.read.parquet(f"{d}/images.parquet")
    spark.sparkContext.setJobGroup("counts", "counts")
    probe = SJ.tag_probe_cells(imgs, res)
    cover = SJ.cover_polygon_cells_json(
        spark.read.parquet(f"{d}/polys.parquet"), res).persist()
    out = {"join.pip.cover_cells": cover.count(),
           "join.pip.candidates": SJ.cell_join(probe, cover).count(),
           "join.rect.candidates": SJ.cell_join(probe, SJ.cover_bbox_cells(
               spark.read.parquet(f"{d}/rects.parquet"), res)).count()}
    cover.unpersist()
    return out


def per_layer(traced, spans, groups, counts, setups, untraced_walls):
    """(metrics, shares of the traced wall time per call)."""
    n = len(traced)
    wall = statistics.median(j["wall_s"] for j in traced)
    m = {k: 0.0 for k in names()}
    for i, k in enumerate(SESSION):
        m[k] = statistics.median(s[i] for s in setups)
    durs, selfs = {}, []
    for name, dur, self_s in spans:
        durs.setdefault(name, []).append(dur)
        if name == "job":
            selfs.append(self_s)
    shares = {}
    for call, metric in CALL_TIME.items():
        if call in durs:
            m[metric] = statistics.median(durs[call])
            shares[call] = m[metric] / wall
        m.update(group_metrics(call, groups.get(call), n))
    m["job.self_s"] = statistics.median(selfs)
    m["trace.overhead_s"] = wall - statistics.median(untraced_walls)
    m["job.peak_rss_mb"] = statistics.median(j["peak_rss_mb"] for j in traced)
    res = traced[-1]["res"]
    m.update(counts)
    if "rect" in res:
        m["join.rect.matches"] = res["rect"][0]
        m["join.pip.matches"] = res["pip"][0]
        m["raster.pairs"] = res["raster"][0]
        m["knn.pairs"] = res["knn"][0]
        m["join.s2.matches"] = res["s2"][0]
        m["join.s2.cover_cells"] = res["s2_cover_cells"]
    if "read" in res:
        m["pbf.write.bytes"] = res["pbf_bytes"]
        m["pbf.write.blocks"] = res["blocks"]
        m["pbf.read.elements"] = sum(v[0] for v in res["read"].values())
        m["assemble.polygons"] = res["polygons"]
        m["assemble.rings"] = res["rings"]
        m["tiles.clip.features"] = res["features"]
        m["tiles.layered.tiles"] = res["tiles"]
        m["tiles.layered.bytes"] = res["mvt_bytes"]
        got = sum(len(r[1]) for r in res["regions"])
        scanned = sum(r[2] for r in res["regions"])
        m["tiles.region.tiles"] = got
        m["tiles.region.read_ratio"] = got / scanned if scanned else 0.0
        m["snapshots.partitions"] = len(res["partitions"])
        m["snapshots.files"] = res["snapshot"]["files"]
        m["snapshots.bytes"] = res["snapshot"]["bytes"]
    for kind in ("rect", "pip"):
        cand = m[f"join.{kind}.candidates"]
        if cand:
            m[f"join.{kind}.match_ratio"] = m[f"join.{kind}.matches"] / cand
    g = groups.get("knn")
    m["knn.jobs"] = g["jobs"] / n if g else 0.0
    return {k: float(v) for k, v in m.items()}, shares
