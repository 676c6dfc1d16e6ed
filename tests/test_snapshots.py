"""Snapshot/manifest layer: atomic commit, lineage+metrics, crash resume,
and the spark-submit --py-files launch path (north-rule ops gates)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions.steps import select_steps
from osm_io_spark.jobs import spatial_join_job
from osm_io_spark.jobs.engine_zip import build_engine_zip
from osm_io_spark.plans.snapshots import ResumableJob, SnapshotCatalog

SF_DIR = "/root/testdata/sf0.001"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_write_read_roundtrip_and_metrics(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("demo")
    df = spark.range(1000).select(
        F.col("id"), (F.col("id") * 3).alias("v"))
    snap = t.write(df, operation="test", lineage={"src": "range"})

    assert snap.version == 1
    assert snap.summary["total_rows"] == 1000
    assert snap.summary["total_bytes"] > 0
    # per-partition manifest entries carry files with rows+bytes
    entry = snap.partitions["all"]
    assert entry["rows"] == 1000
    assert sum(f["rows"] for f in entry["files"]) == 1000
    assert entry["lineage"] == {"src": "range"}

    back = t.read(spark)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).collect()[0][0] == 3 * 999 * 1000 // 2


def test_snapshot_log_versions_are_immutable(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("demo")
    t.write(spark.range(10).select("id"), operation="v1")
    t.write(spark.range(20).select("id"), operation="v2")
    assert t.current_version() == 2
    assert t.read(spark, version=2).count() == 20
    hist = t.history()
    assert [s.operation for s in hist] == ["v1", "v2"]
    assert hist[0].summary["total_rows"] == 10


def test_time_travel_read_as_of(spark, tmp_path):
    """version_as_of/read_as_of: the Iceberg TIMESTAMP AS OF analogue
    over the snapshot log's second-resolution created_at stamps."""
    import time as _time

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("demo")
    s1 = t.write(spark.range(10).select("id"), operation="v1")
    _time.sleep(1.1)  # distinct second-resolution created_at
    s2 = t.write(spark.range(20).select("id"), operation="v2")
    assert s1.created_at < s2.created_at

    assert t.version_as_of(s1.created_at) == 1
    # historical reads see the OLD bytes even though v2 overwrote the
    # same logical partition — immutable data paths
    assert t.read_as_of(spark, s1.created_at).count() == 10
    assert t.version_as_of(s2.created_at) == 2
    assert t.read_as_of(spark, "2999-01-01T00:00:00Z").count() == 20
    with pytest.raises(FileNotFoundError):
        t.version_as_of("1999-01-01T00:00:00Z")

    # an in-flight (renamed but uncommitted) data dir must SURVIVE
    # expiry — only paths referenced by expired manifests are fair game
    os.makedirs(os.path.join(t.data_dir, "inflight-deadbeef"))

    # expiry reclaims v1's manifest and its now-unreferenced bytes
    res = t.expire_snapshots(keep_last=1)
    assert res["expired_versions"] == [1] and res["deleted_paths"] == 1
    assert t.snapshot(1) is None
    assert os.path.isdir(os.path.join(t.data_dir, "inflight-deadbeef"))
    assert t.read(spark).count() == 20            # current still reads
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)
    assert [s.version for s in t.history()] == [2]

    # an incremental consumer whose checkpointed base was expired must
    # get a loud error, never a silent "everything changed" re-emit
    from osm_io_spark.plans.snapshots import changes
    with pytest.raises(FileNotFoundError, match="expired"):
        changes(t, spark, from_version=1)


def test_resumable_job_skips_completed_partitions(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("out")
    calls: list[str] = []

    def task(pk: str):
        calls.append(pk)
        n = int(pk.split("=")[1])
        return spark.range(100 + n).select("id")

    plan = [f"p={i}" for i in range(6)]
    job = ResumableJob(t, "test_job", inputs={"x": 1}, commit_every=2)

    # first run: fail after 3 partitions (committed via commit_every=2 → 2 safe)
    class Boom(Exception):
        pass

    def failing_task(pk: str):
        if len(calls) == 3:
            raise Boom()
        return task(pk)

    with pytest.raises(Boom):
        job.run(plan, failing_task)
    done_before = t.completed_partitions()
    assert 0 < len(done_before) < 6

    # resume: only missing partitions are recomputed
    calls.clear()
    snap = job.run(plan, task)
    assert set(calls) == set(plan) - done_before
    assert snap.summary["n_partitions"] == 6
    assert t.completed_partitions() == set(plan)
    # lineage recorded per partition
    assert snap.partitions["p=0"]["lineage"]["job"] == "test_job"
    assert snap.partitions["p=0"]["lineage"]["partition_key"] == "p=0"
    # second resume is a no-op
    calls.clear()
    job.run(plan, task)
    assert calls == []


def test_staging_gc_hides_halfwritten_data(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("demo")
    # simulate a crashed writer: stage data but never commit
    os.makedirs(os.path.join(t.staging_dir, "p=9-deadbeef"))
    t.write(spark.range(5).select("id"), operation="v1")
    assert t.read(spark).count() == 5
    assert t.gc_staging() >= 0
    assert os.listdir(t.staging_dir) == []


def test_spatial_join_job_crash_and_resume(tmp_path):
    """End-to-end: the flagship job crashes mid-run, then resumes and
    produces exactly the rows of an uninterrupted run."""
    cat_dir = str(tmp_path / "cat")
    argv = ["--sf-dir", SF_DIR, "--catalog", cat_dir,
            "--n-buckets", "6", "--commit-every", "2", "--master", "local[4]"]

    with pytest.raises(spatial_join_job.InjectedFailure):
        spatial_join_job.run(argv + ["--fail-after", "2"])

    cat = SnapshotCatalog(cat_dir)
    t = cat.table("image_polygon_matches")
    partial = len(t.completed_partitions())
    assert 0 < partial < 6

    result = spatial_join_job.run(argv)
    assert result["n_partitions"] == 6

    # uninterrupted control run → identical totals
    control = spatial_join_job.run(
        ["--sf-dir", SF_DIR, "--catalog", str(tmp_path / "cat2"),
         "--n-buckets", "6", "--master", "local[4]"])
    assert result["total_rows"] == control["total_rows"]


def test_spatial_join_job_s2_index_crash_and_resume(tmp_path):
    """--index s2 (round 5): the TRUE-S2 spine under the same
    resumable-bucket contract — crash mid-run, resume, identical totals
    to an uninterrupted run, and rows > 0 so the spherical path
    actually matched."""
    cat_dir = str(tmp_path / "cat_s2")
    argv = ["--sf-dir", "/root/testdata/sf0.01", "--catalog", cat_dir,
            "--index", "s2", "--n-buckets", "4", "--commit-every", "1",
            "--master", "local[4]"]
    with pytest.raises(spatial_join_job.InjectedFailure):
        spatial_join_job.run(argv + ["--fail-after", "1"])
    cat = SnapshotCatalog(cat_dir)
    t = cat.table("image_polygon_matches")
    assert 0 < len(t.completed_partitions()) < 4

    result = spatial_join_job.run(argv)
    assert result["n_partitions"] == 4
    control = spatial_join_job.run(
        ["--sf-dir", "/root/testdata/sf0.01",
         "--catalog", str(tmp_path / "cat_s2b"), "--index", "s2",
         "--n-buckets", "4", "--master", "local[4]"])
    assert result["total_rows"] == control["total_rows"] > 0


def test_spatial_join_job_bbox_flag(tmp_path):
    """C9 wiring: --bbox filters the probe side (strictly fewer matches
    for a half-world box than unfiltered) and malformed boxes are
    rejected before any Spark work starts."""
    # sf0.01: at sf0.001 the synthetic join is empty by construction
    # (modular geo synthesis degenerates below ~60k probes)
    base = ["--sf-dir", "/root/testdata/sf0.01",
            "--n-buckets", "2", "--master", "local[4]"]
    full = spatial_join_job.run(
        base + ["--catalog", str(tmp_path / "cat_full")])
    # matched probes cluster in lon ∈ [-172, -156]; -164 splits them
    west = spatial_join_job.run(
        base + ["--catalog", str(tmp_path / "cat_west"),
                "--bbox", "-180, -90, -164, 90"])
    assert 0 < west["total_rows"] < full["total_rows"]
    with pytest.raises(ValueError):
        spatial_join_job.run(
            base + ["--catalog", str(tmp_path / "cat_bad"),
                    "--bbox", "-190, -90, 0, 90"])


@pytest.mark.slow
def test_spark_submit_py_files_launch(tmp_path):
    """The literal north-rule launch shape: spark-submit --py-files
    engine.zip running the ingest job from a cwd OUTSIDE the repo."""
    zpath = build_engine_zip(str(tmp_path / "engine.zip"))

    # tiny fixture PBF via the engine itself
    from osm_io_spark import queries as Q
    from osm_io_spark.session import get_spark
    spark = get_spark("fixture-builder", master="local[4]")
    pbf = Q._fixture_pbf_path(spark)

    launcher = tmp_path / "launch.py"
    launcher.write_text(
        "from osm_io_spark.jobs.ingest_pbf import run\n"
        f"run(['--pbf', {str(pbf)!r}, '--catalog', {str(tmp_path / 'cat')!r},"
        " '--master', 'local[2]'])\n")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--py-files", zpath,
         str(launcher)],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["nodes"]["rows"] > 0
    assert out["ways"]["rows"] > 0

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    nodes = cat.table("nodes")
    snap = nodes.snapshot()
    assert snap.lineage["source"] == pbf
    assert snap.summary["total_rows"] == out["nodes"]["rows"]


def test_manifest_data_skipping(spark, tmp_path):
    """Iceberg-style pruning: partitions carry min/max column stats in
    the manifest; read_pruned reads only overlapping partitions and the
    pruned+filtered result equals the full-scan filter."""
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("cells")

    def task(pk: str):
        b = int(pk.split("=")[1])
        return (spark.range(b * 1000, (b + 1) * 1000)
                .select(F.col("id").alias("cell"),
                        (F.col("id") * 7).alias("v")))

    job = ResumableJob(t, "skip_job", stats_columns=["cell"])
    plan = [f"p={i}" for i in range(8)]
    snap = job.run(plan, task)
    st = snap.partitions["p=3"]["column_stats"]["cell"]
    assert st["min"] == 3000 and st["max"] == 3999

    df, kept = t.read_pruned(spark, "cell", 2500, 4200)
    assert kept == ["p=2", "p=3", "p=4"]  # only overlapping partitions
    got = df.filter("cell BETWEEN 2500 AND 4200")
    full = t.read(spark).filter("cell BETWEEN 2500 AND 4200")
    assert got.count() == full.count() == 1701
    assert got.agg(F.sum("v")).collect()[0][0] == \
        full.agg(F.sum("v")).collect()[0][0]

    # disjoint range → zero partitions, empty frame with same schema
    df0, kept0 = t.read_pruned(spark, "cell", 50_000, 60_000)
    assert kept0 == [] and df0.count() == 0
    assert df0.schema == df.schema


def test_s2_region_read_prunes_manifest(spark, tmp_path):
    """The S2 read-path payoff (round 5): a table RANGE-partitioned by
    s2_cell serves a cap-cover region query from a handful of
    partitions — manifest-skipped, never listed — and the pruned +
    exact-filtered result equals the full-scan brute force."""
    import numpy as np

    from osm_io_spark.functions import s2 as S2
    from osm_io_spark.operators.spatial_join import s2_read_region_pruned

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("images_by_cell")

    # deterministic global points, keyed + RANGE-sorted by leaf cell
    pts = (spark.range(40_000)
           .select(F.col("id").alias("img_id"),
                   (F.pmod(F.col("id") * 2654435761, 1_000_000)
                    / 1e6 * 140 - 70).alias("lat"),
                   (F.pmod(F.col("id") * 2971215073, 1_000_000)
                    / 1e6 * 360 - 180).alias("lon")))
    keyed = S2.with_s2_cell(S2.with_latlon_xyz(pts, "lat", "lon"),
                            "px", "py", "pz").drop("px", "py", "pz")
    n_parts = 16
    ranged = keyed.repartitionByRange(n_parts, "s2_cell")

    def task(pk: str):
        b = int(pk.split("=")[1])
        return ranged.withColumn("_sp", F.spark_partition_id()) \
            .filter(F.col("_sp") == b).drop("_sp")

    job = ResumableJob(t, "s2_layout", stats_columns=["s2_cell"])
    job.run([f"p={i:02d}" for i in range(n_parts)], task)

    cover = S2.s2_cover_cap_np(43.1, -79.2, 0.12, max_level=8,
                               max_cells=64)
    df, kept = s2_read_region_pruned(t, spark, cover)
    assert 0 < len(kept) <= n_parts // 2, kept  # real skipping

    got = {r["img_id"] for r in df.collect()}
    # brute force: every point whose leaf is inside any cover range
    full = t.read(spark).toPandas()
    leafs = full["s2_cell"].to_numpy()
    rn, rx = S2.s2_range_np(cover)
    inside = np.zeros(len(full), bool)
    for a, b in zip(rn, rx):
        inside |= (leafs >= a) & (leafs <= b)
    want = set(full["img_id"].to_numpy()[inside].tolist())
    assert got == want and len(want) > 0

    # r5 review: an EMPTY cover (a region the caller computed to be
    # void) must return an empty frame, not df.filter(None)/TypeError
    df_empty, _ = s2_read_region_pruned(t, spark, [])
    assert df_empty.count() == 0


def test_quadkey_region_read_prunes_manifest(spark, tmp_path):
    """The quadkey read-path payoff (r5e): a table range-sorted by its
    STRING quadkey serves an ancestor-prefix region query from a
    handful of partitions — string min/max manifest stats, the string
    sibling of test_s2_region_read_prunes_manifest — and the pruned +
    exact-filtered result equals the full-scan brute force."""
    from osm_io_spark.functions import webmercator as WM
    from osm_io_spark.operators.tiles import read_tile_region_quadkey

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("tiles_by_quadkey")
    zoom = 9

    pts = (spark.range(30_000)
           .select(F.col("id").alias("img_id"),
                   (F.pmod(F.col("id") * 2654435761, 1_000_000)
                    / 1e6 * 140 - 70).alias("lat"),
                   (F.pmod(F.col("id") * 2971215073, 1_000_000)
                    / 1e6 * 360 - 180).alias("lon")))
    keyed = select_steps(pts, [("_tx", WM.tile_x_sql("lon", zoom)),
                               ("_ty", WM.tile_y_sql("lat", zoom)),
                               *WM.quadkey_steps("_tx", "_ty", zoom, "qk")],
                         keep=("qk",))
    n_parts = 16
    ranged = keyed.repartitionByRange(n_parts, "qk")

    def task(pk: str):
        b = int(pk.split("=")[1])
        return ranged.withColumn("_sp", F.spark_partition_id()) \
            .filter(F.col("_sp") == b).drop("_sp")

    job = ResumableJob(t, "qk_layout", stats_columns=["qk"])
    job.run([f"p={i:02d}" for i in range(n_parts)], task)

    # two ancestor tiles (a level-3 and a level-4 prefix)
    prefixes = ["102", "0313"]
    df, kept = read_tile_region_quadkey(t, spark, prefixes)
    assert 0 < len(kept) <= n_parts // 2, kept  # real skipping

    got = {r["img_id"] for r in df.collect()}
    full = t.read(spark).toPandas()
    qks = full["qk"].astype(str)
    inside = qks.str.startswith(prefixes[0])
    for p in prefixes[1:]:
        inside |= qks.str.startswith(p)
    want = set(full["img_id"][inside].tolist())
    assert got == want and len(want) > 0

    # empty prefix list → empty frame, no TypeError
    df_empty, _ = read_tile_region_quadkey(t, spark, [])
    assert df_empty.count() == 0


def test_curate_job_runs_and_resumes(spark, tmp_path):
    """The curation pipeline commits per-bucket partitions with metrics
    and a re-run is a no-op resume (same snapshot version, no rework)."""
    from osm_io_spark.jobs import curate

    out = str(tmp_path / "curated")
    s1 = curate.main(["--sf-dir", "/root/testdata/sf0.001",
                      "--out", out, "--buckets", "3"])
    s2 = curate.main(["--sf-dir", "/root/testdata/sf0.001",
                      "--out", out, "--buckets", "3"])
    assert s1["version"] == s2["version"] == 1
    assert 0 < s1["rows"] <= 500
    assert s1["n_partitions"] == 3

    curated = curate.curated_documents(spark, "/root/testdata/sf0.001")
    assert curated.count() == s1["rows"]


def test_compact_small_files(spark, tmp_path):
    """compact() rewrites many-small-file partitions into the minimal
    layout, preserves every row, keeps time travel to the pre-compaction
    version working (immutable paths), carries untouched partitions by
    reference, and expire_snapshots afterwards reclaims the old layout
    without touching the new one."""
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("frag")
    # partition 'a': 16 tiny files; partition 'b': already 1 file
    a = spark.range(2000).select(F.col("id"), (F.col("id") * 7).alias("v")) \
        .repartition(16)
    b = spark.range(2000, 2100).select(F.col("id"), (F.col("id") * 7).alias("v")) \
        .coalesce(1)
    e1 = t.write_partition(a, "a", stats_columns=["id"])
    e2 = t.write_partition(b, "b", stats_columns=["id"])
    snap1 = t.commit_partitions([e1, e2], operation="append")
    assert len(snap1.partitions["a"]["files"]) == 16

    rep = t.compact(spark)
    assert rep["partitions_compacted"] == 1          # 'b' untouched
    assert rep["files_before"] == 16 and rep["files_after"] == 1
    snap2 = t.snapshot()
    assert snap2.version == rep["version"] == snap1.version + 1
    assert snap2.operation == "compact"
    assert len(snap2.partitions["a"]["files"]) == 1
    # untouched partition carried over by manifest reference
    assert snap2.partitions["b"]["path"] == snap1.partitions["b"]["path"]
    # data identical; data-skipping stats carried over
    assert t.read(spark).agg(F.sum("v")).collect()[0][0] \
        == 7 * (2099 * 2100 // 2)
    assert snap2.partitions["a"]["column_stats"] \
        == snap1.partitions["a"]["column_stats"]
    # time travel to the fragmented version still reads the OLD layout
    old = t.read(spark, version=snap1.version)
    assert old.count() == 2100
    # second compact is a no-op and publishes nothing
    rep2 = t.compact(spark)
    assert rep2["version"] is None and t.current_version() == snap2.version
    # expiry reclaims the fragmented layout, current read unaffected
    t.expire_snapshots(keep_last=1)
    assert t.read(spark).count() == 2100
    with pytest.raises(Exception):
        t.read(spark, version=snap1.version).count()


def test_compact_epochs_consolidates_streaming_partitions(spark, tmp_path):
    """compact_epochs merges old micro-batch partitions into
    ``epochs=a..b`` buckets, NEVER touches the numerically-newest
    keep_last epochs (even with unpadded names where lexicographic
    order lies: epoch=12 < epoch=2), preserves every row, and records
    merge lineage."""
    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("stream")
    entries = []
    # deliberately UNPADDED epoch names spanning a lexicographic trap:
    # sorted() order is 10,11,12,8,9 but numeric order is 8..12
    for e in (8, 9, 10, 11, 12):
        df = spark.range(e * 100, e * 100 + 50).select(
            F.col("id"), (F.col("id") * 3).alias("v"))
        entries.append(t.write_partition(df.coalesce(1), f"epoch={e}"))
    snap1 = t.commit_partitions(entries, operation="append")
    assert len(snap1.partitions) == 5

    rep = t.compact_epochs(spark, keep_last=2)
    assert rep["epochs_merged"] == 3 and rep["buckets"] == 1
    snap2 = t.snapshot()
    # numerically-newest two survive untouched; 8..10 merged
    assert "epoch=11" in snap2.partitions
    assert "epoch=12" in snap2.partitions
    assert "epochs=8..10" in snap2.partitions
    assert "epoch=8" not in snap2.partitions
    merged = snap2.partitions["epochs=8..10"]
    assert merged["lineage"]["merged"] == ["epoch=8", "epoch=9", "epoch=10"]
    # every row preserved, exactly once
    assert t.read(spark).count() == 250
    assert t.read(spark).agg(F.sum("v")).collect()[0][0] == \
        3 * sum(range(800, 850)) + 3 * sum(range(900, 950)) \
        + 3 * sum(range(1000, 1050)) + 3 * sum(range(1100, 1150)) \
        + 3 * sum(range(1200, 1250))
    # a crash-replay of the newest epoch overwrites its own partition
    # without racing the consolidated bucket
    df12 = spark.range(1200, 1250).select(
        F.col("id"), (F.col("id") * 3).alias("v"))
    e12 = t.write_partition(df12.coalesce(1), "epoch=12")
    t.commit_partitions([e12], operation="append")
    assert t.read(spark).count() == 250
    # second pass: nothing old enough left to merge (keep_last=2
    # protects epoch=11/12; the bucket is a single partition)
    rep2 = t.compact_epochs(spark, keep_last=2)
    assert rep2["epochs_merged"] == 0

    # non-numeric, mixed-width suffixes cannot be ordered safely
    t2 = cat.table("bad")
    b = []
    for name in ("epoch=aa", "epoch=b"):
        b.append(t2.write_partition(
            spark.range(3).select(F.col("id"), F.col("id").alias("v"))
            .coalesce(1), name))
    t2.commit_partitions(b, operation="append")
    with pytest.raises(ValueError, match="cannot order"):
        t2.compact_epochs(spark, keep_last=0)


def test_geohash_region_read_prunes_manifest(spark, tmp_path):
    """The geohash read-path payoff (C32): a table range-sorted by its
    8-char geohash serves ancestor-prefix region queries (one 2-char
    and one 4-char parent) from a handful of partitions — same string
    min/max manifest machinery as the quadkey path — and the pruned +
    exact-filtered result equals the full-scan brute force."""
    from osm_io_spark.functions import geohash as GH
    from osm_io_spark.operators.tiles import read_tile_region_geohash

    cat = SnapshotCatalog(str(tmp_path / "cat"))
    t = cat.table("imgs_by_geohash")

    pts = (spark.range(30_000)
           .select(F.col("id").alias("img_id"),
                   (F.pmod(F.col("id") * 2654435761, 1_000_000)
                    / 1e6 * 140 - 70).alias("lat"),
                   (F.pmod(F.col("id") * 2971215073, 1_000_000)
                    / 1e6 * 360 - 180).alias("lon")))
    keyed = select_steps(pts, GH.geohash_steps("lat", "lon", 8, "gh"),
                         keep=("gh",))
    n_parts = 16
    ranged = keyed.repartitionByRange(n_parts, "gh")

    def task(pk: str):
        b = int(pk.split("=")[1])
        return ranged.withColumn("_sp", F.spark_partition_id()) \
            .filter(F.col("_sp") == b).drop("_sp")

    job = ResumableJob(t, "gh_layout", stats_columns=["gh"])
    job.run([f"p={i:02d}" for i in range(n_parts)], task)

    # ancestor prefixes at two depths; derived from real keys so the
    # query region is guaranteed non-empty
    some = [r["gh"] for r in ranged.select("gh").limit(200).collect()]
    prefixes = [some[0][:2], some[-1][:4]]
    df, kept = read_tile_region_geohash(t, spark, prefixes)
    assert 0 < len(kept) <= n_parts // 2, kept  # real skipping

    got = {r["img_id"] for r in df.collect()}
    full = t.read(spark).toPandas()
    ghs = full["gh"].astype(str)
    inside = ghs.str.startswith(prefixes[0])
    for p in prefixes[1:]:
        inside |= ghs.str.startswith(p)
    want = set(full["img_id"][inside].tolist())
    assert got == want and len(want) > 0

    # empty prefix list → empty frame
    df_empty, _ = read_tile_region_geohash(t, spark, [])
    assert df_empty.count() == 0
