"""spark-submit entrypoint: the flagship checkpoint-resumable spatial join.

Launch (the north rule's mandated shape)::

    spark-submit --py-files $(python -m osm_io_spark.jobs.engine_zip) \\
        -m osm_io_spark.jobs.spatial_join_job -- \\
        --sf-dir /root/testdata/sf0.1 --catalog /tmp/catalog \\
        --res 10 --n-buckets 16

or equivalently ``python -m osm_io_spark.jobs.spatial_join_job ...`` (the
session factory ships the engine zip itself via addPyFile).

The job partitions the probe table into ``--n-buckets`` hash buckets of
``img_id`` and runs the J7 cell-join + exact refinement per bucket,
committing each bucket into the snapshot catalog with lineage + metrics.
Re-running the identical command after a crash resumes: completed buckets
are read from the latest snapshot manifest and skipped.

Bucketing by probe key (not by cell) keeps resume units balanced even
under Zipf-skewed geodata — a hot cell spreads across all buckets.
``--fail-after N`` injects a crash after N buckets (test hook used by
tests/test_snapshots.py to prove resume semantics).
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import functions as F

from ..plans.snapshots import ResumableJob, SnapshotCatalog
from ..session import get_spark


class InjectedFailure(RuntimeError):
    pass


def run(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--catalog", required=True)
    ap.add_argument("--table", default="image_polygon_matches")
    ap.add_argument("--res", type=int, default=10)
    ap.add_argument("--index", choices=("morton", "s2"), default="morton",
                    help="morton = planar Z-order cell join + rect "
                         "refine (J7); s2 = true S2 spine "
                         "(distributed polygon covers + hierarchical "
                         "containment + spherical winding refine) — "
                         "salting flags are ignored: the broadcast "
                         "path never shuffles the probe and the "
                         "shuffled path is AQE-skew-safe")
    ap.add_argument("--s2-max-level", type=int, default=12)
    ap.add_argument("--n-buckets", type=int, default=8)
    ap.add_argument("--salt", default="0",
                    help="salt factor for hot cells, or 'auto' to "
                         "measure the Zipf head and size the salt "
                         "(0 = AQE only)")
    ap.add_argument("--hot-threshold", type=int, default=2_000_000)
    ap.add_argument("--bbox", default=None,
                    help="'left,bottom,right,top' probe filter (C9 "
                         "validation, bounding_box.rs:89-121); probes "
                         "outside the box are dropped before cell "
                         "tagging, so the filter pushes to the scan")
    ap.add_argument("--commit-every", type=int, default=4)
    ap.add_argument("--fail-after", type=int, default=0,
                    help="TEST HOOK: raise after N buckets")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark("osm-io-spark-spatial-join", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")

    from .. import queries as Q
    from ..operators import spatial_join as SJ

    images = Q.images_probe(spark, args.sf_dir)
    rects = Q.rect_polygons(spark, args.sf_dir)
    if args.bbox is not None:
        from ..functions.geometry import bbox_from_str
        left, bottom, right, top = bbox_from_str(args.bbox)
        images = images.filter(
            (F.col("lon") >= left) & (F.col("lon") <= right)
            & (F.col("lat") >= bottom) & (F.col("lat") <= top))

    if args.index == "s2":
        return _run_s2(spark, args, images, rects)

    # each bucket joins only ~1/n_buckets of the probe, so hotness and
    # salt factor are sized on per-bucket counts: full-table count
    # > threshold*n_buckets ⟺ per-bucket count > threshold
    bucket_threshold = args.hot_threshold * args.n_buckets
    hot: list[int] = []
    if args.salt == "auto":
        probe_cells = SJ.tag_probe_cells(images, args.res)
        salt, hot = SJ.resolve_salt(probe_cells, "auto", None,
                                    threshold_rows=bucket_threshold)
    else:
        salt = int(args.salt)
        if salt > 1:
            probe_cells = SJ.tag_probe_cells(images, args.res)
            hot = SJ.resolve_salt(probe_cells, "auto", None,
                                  threshold_rows=bucket_threshold)[1]

    catalog = SnapshotCatalog(args.catalog)
    table = catalog.table(args.table)
    job = ResumableJob(
        table, "spatial_join_j7",
        inputs={"sf_dir": args.sf_dir, "res": args.res,
                "n_buckets": args.n_buckets, "salt": args.salt,
                "bbox": args.bbox},
        commit_every=args.commit_every)

    plan = [f"bucket={b:04d}" for b in range(args.n_buckets)]

    def task(pk: str):
        b = int(pk.split("=")[1])
        probe = images.filter(F.pmod(F.col("img_id"), F.lit(args.n_buckets)) == b)
        out = SJ.spatial_join_rect(probe, rects, res=args.res,
                                   salt=salt, hot=hot)
        return out.select("img_id", "polygon_id", "cell")

    done_count = {"n": len(table.completed_partitions())}

    def on_partition(entry: dict) -> None:
        done_count["n"] += 1
        print(f"# committed {entry['partition']}: rows={entry['rows']} "
              f"bytes={entry['bytes']}", file=sys.stderr)
        if args.fail_after and done_count["n"] >= args.fail_after:
            # publish progress so far, then die (simulated crash)
            table.commit_partitions([entry], "spatial_join_j7:progress",
                                    {"job": "spatial_join_j7"})
            raise InjectedFailure(f"injected failure after {done_count['n']} buckets")

    snap = job.run(plan, task, on_partition=on_partition)
    result = {
        "table": args.table,
        "snapshot_version": snap.version,
        "n_partitions": snap.summary["n_partitions"],
        "total_rows": snap.summary["total_rows"],
        "total_bytes": snap.summary["total_bytes"],
    }
    print(json.dumps(result))
    return result


def _run_s2(spark, args, images, rects):
    """--index s2: the same resumable bucket plan over the TRUE S2
    spine (distributed polygon covers → hierarchical containment →
    spherical winding refine). The rect table becomes 4-vertex ring
    polygons; note the semantic is containment ON THE SPHERE (rect
    top/bottom edges become geodesics, not parallels), so counts are
    not expected to equal the planar --index morton run."""
    from pyspark.sql import functions as FF

    from ..operators import spatial_join as SJ

    ring = FF.array(*[
        FF.struct(FF.col(lo).alias("lon"), FF.col(la).alias("lat"))
        for lo, la in (("left", "bottom"), ("right", "bottom"),
                       ("right", "top"), ("left", "top"),
                       ("left", "bottom"))])
    polys = rects.select("polygon_id", FF.lit("rect").alias("source"),
                         FF.array(ring).alias("rings"))

    catalog = SnapshotCatalog(args.catalog)
    table = catalog.table(args.table)
    job = ResumableJob(
        table, "spatial_join_s2",
        inputs={"sf_dir": args.sf_dir, "index": "s2",
                "s2_max_level": args.s2_max_level,
                "n_buckets": args.n_buckets, "bbox": args.bbox},
        commit_every=args.commit_every)
    plan = [f"bucket={b:04d}" for b in range(args.n_buckets)]

    def task(pk: str):
        b = int(pk.split("=")[1])
        probe = images.filter(
            FF.pmod(FF.col("img_id"), FF.lit(args.n_buckets)) == b)
        out = SJ.s2_spatial_join_polygons(probe, polys,
                                          max_level=args.s2_max_level)
        return out.select("img_id", "polygon_id",
                          FF.col("s2_cell").alias("cell"))

    done_count = {"n": len(table.completed_partitions())}

    def on_partition(entry: dict) -> None:
        done_count["n"] += 1
        print(f"# committed {entry['partition']}: rows={entry['rows']} "
              f"bytes={entry['bytes']}", file=sys.stderr)
        if args.fail_after and done_count["n"] >= args.fail_after:
            table.commit_partitions([entry], "spatial_join_s2:progress",
                                    {"job": "spatial_join_s2"})
            raise InjectedFailure(
                f"injected failure after {done_count['n']} buckets")

    snap = job.run(plan, task, on_partition=on_partition)
    result = {
        "table": args.table,
        "snapshot_version": snap.version,
        "n_partitions": snap.summary["n_partitions"],
        "total_rows": snap.summary["total_rows"],
        "total_bytes": snap.summary["total_bytes"],
    }
    print(json.dumps(result))
    return result


if __name__ == "__main__":
    run()
