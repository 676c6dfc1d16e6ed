"""Plan-shape regression tests: the scale contract lives in the plan.

Each check pins the physical strategy we designed for 100 TB: flagship
spatial joins must broadcast their polygon-cover side and leave the
probe path shuffle-free; dimension lookups must broadcast, never SMJ;
scans must stay column-pruned.
"""

from __future__ import annotations

import os
import re

import pytest

from osm_io_spark import queries as Q
from osm_io_spark.plans import audit as A

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


def test_j7_flagship_no_probe_shuffle(spark):
    df = Q.q_j7_spatial_cell_join(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=0, min_broadcast_joins=1,
                  forbid_sort_merge_join=True,
                  max_scan_cols={"lineitem.parquet": 2, "part.parquet": 1})
    assert rep["broadcast_joins"] == 1


def test_polygon_joins_pass_rings_flat(spark):
    """Polygon rings cross into the Python kernels in the flat layout
    only (functions/geometry.flat_ring_cols): no to_json / from_json
    round trip anywhere in the optimized plans of the polygon joins."""
    for name in ["j8_pip_refine", "s2_osm_polygon_join", "pbf_spatial_join"]:
        plan = (Q.QUERIES[name](spark, SF_DIR)._jdf.queryExecution()
                .optimizedPlan().toString())
        for op in ("to_json", "from_json", "StructsToJson", "JsonToStructs"):
            assert op not in plan, (name, op)


def test_j10_raster_no_probe_shuffle(spark):
    df = Q.q_j10_raster_vector(spark, SF_DIR)
    A.audit(df, max_shuffles=0, min_broadcast_joins=1,
            forbid_sort_merge_join=True)


def test_j4_dims_broadcast_not_smj(spark):
    df = Q.q_j4_broadcast_lookup(spark, SF_DIR)
    # final aggregation is the only legal shuffle
    A.audit(df, max_shuffles=1, min_broadcast_joins=2,
            forbid_sort_merge_join=True)


def test_entry_flagship_scan_pruned(spark):
    df = Q.q_entry_flagship(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=0, min_broadcast_joins=1,
                  max_scan_cols={"lineitem.parquet": 2})
    # build side reads only the part key (geometry is derived)
    part_scans = [s for s in rep["scans"] if s["location"] == "part.parquet"]
    assert part_scans and all(s["n_cols"] == 1 for s in part_scans)


def test_f1_filter_pushdown_reaches_scan(spark):
    df = Q.q_f1_token_filter(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=0)
    doc = [s for s in rep["scans"] if s["location"] == "documents.parquet"]
    assert doc and doc[0]["n_cols"] == 3  # doc_id, text, n_chars only


def test_a2_partial_agg_single_reduce(spark):
    df = Q.q_a2_bounding_box(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=1)  # partial agg → single final exchange
    assert rep["sort_merge_joins"] == 0


def test_text_vocab_topk_is_bounded(spark):
    """Round-2 fix: vocabulary top-k must plan as TakeOrderedAndProject
    (per-partition heap, driver merge of k rows), and any rank Window
    must sit ABOVE the limit (bounded input) — never over the full
    corpus vocabulary."""
    df = Q.q_text_vocab(spark, SF_DIR)
    plan = A.formatted_plan(df)
    tree = A.operator_tree(plan)
    assert A.count_op(plan, "TakeOrderedAndProject") == 1, tree
    # the single shuffle is the token-count aggregation
    A.audit(df, max_shuffles=1)
    # the Window (rank) must consume the TakeOrderedAndProject output:
    # in the operator tree, Window's child is the bounded top-k
    lines = tree.splitlines()
    widx = [i for i, l in enumerate(lines) if "Window" in l]
    assert widx and "TakeOrderedAndProject" in lines[widx[0] + 1], tree


def test_o2_global_order_no_global_window(spark):
    """Round-2 fix: the global-position contract must not use a
    single-partition Window — offsets + per-partition arange only."""
    df = Q.q_o2_global_order(spark, SF_DIR)
    plan = A.formatted_plan(df)
    assert A.count_op(plan, "Window") == 0, A.operator_tree(plan)
    assert A.count_op(plan, "MapInPandas") == 1


def test_o2_positions_are_dense_and_ordered(spark):
    """pos must be exactly 1..n in (event_type, event_id) order even
    when the source arrives as many partitions (multi-block path —
    small-sf parity alone cannot see cross-partition offset bugs)."""
    from osm_io_spark.operators.order import with_global_position
    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .select("event_id", "event_type").repartition(13))
    got = with_global_position(ev, ["event_type", "event_id"], "pos").toPandas()
    got = got.sort_values("pos").reset_index(drop=True)
    assert list(got["pos"]) == list(range(1, len(got) + 1))
    want = got.sort_values(["event_type", "event_id"]).reset_index(drop=True)
    assert (got["event_id"] == want["event_id"]).all()


def test_widen_runs_no_job(spark):
    """Under AQE, ``df.rdd.getNumPartitions()`` runs every upstream
    shuffle stage at call time and throws the result away. widen (and
    the global-order and PBF-writer partition counts) read the plan
    instead: building on a shuffled frame launches no job. Counts an
    explicit repartition fixes are read off the plan; a shuffle AQE may
    coalesce leaves the count unknown."""
    from pyspark.sql import functions as F

    from osm_io_spark.operators.util import planned_partitions, widen
    base = spark.range(2000).repartition(3)
    shuffled = base.groupBy((F.col("id") % 97).alias("k")).count()
    sc = spark.sparkContext
    sc.setJobGroup("widen_no_job", "widen_no_job")
    try:
        widened = widen(shuffled)
        assert planned_partitions(shuffled) is None
        assert planned_partitions(spark.range(10, numPartitions=3)) == 3
        assert planned_partitions(
            base.mapInPandas(lambda it: it, base.schema)
            .filter("id > 5")) == 3
        assert planned_partitions(
            base.repartitionByRange(7, "id").sortWithinPartitions("id")) == 7
        assert planned_partitions(base.coalesce(2)) == 2
        assert planned_partitions(base.orderBy("id").limit(5)) == 1
        assert planned_partitions(base.repartition("id")) is None
        jobs = sc.statusTracker().getJobIdsForGroup("widen_no_job")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(jobs) == []
    assert widened.count() == 97


def test_dedup_band_joins_never_cartesian(spark):
    """The minhash and hamming candidate generators must always be
    bucketed equi-joins — a lost join key would silently degrade to a
    10^24-pair cross join at corpus scale."""
    for name in ["dedup_minhash_lsh", "dedup_phash_hamming",
                 "dedup_ngram_jaccard",
                 # image-modality candidate generators (round 3): the
                 # phash band join inside image_curation and the IVF
                 # centroid equi-join inside mm_embed_near_dup must
                 # obey the same rule (the IVF build's bounded centroid
                 # broadcasts run at construction, not in this plan)
                 "image_curation", "mm_embed_near_dup"]:
        df = Q.QUERIES[name](spark, SF_DIR)
        plan = A.formatted_plan(df)
        assert A.count_op(plan, "CartesianProduct") == 0, name
        assert A.count_op(plan, "BroadcastNestedLoopJoin") == 0, name


def test_bucketed_join_is_zero_exchange(spark, tmp_path):
    """Both sides bucketed+sorted on the join key → sort-merge join with
    NO shuffle exchange (bucket i joins bucket i in place) — the layout
    that makes repeated 10^12-row fact-fact joins affordable."""
    from osm_io_spark.plans import bucketing as B

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
                .withColumnRenamed("l_orderkey", "o_orderkey"))
    B.write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    B.write_bucketed(lineitem, "b_lineitem", "o_orderkey", n_buckets=8)
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = B.bucketed_join(spark, "b_orders", "b_lineitem",
                                 "o_orderkey")
        rep = A.audit(joined, max_shuffles=0)
        assert rep["sort_merge_joins"] == 1
        n = joined.count()
        want = (orders.join(lineitem, "o_orderkey").count())
        assert n == want > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64m")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_pack_sequences_no_global_window(spark):
    """Round-4: sequence packing's global prefix sum must plan like
    o2 — per-partition offsets + Arrow cumsum, never a single-partition
    Window over the whole corpus."""
    df = Q.q_pack_sequences(spark, SF_DIR)
    plan = A.formatted_plan(df)
    assert A.count_op(plan, "Window") == 0, A.operator_tree(plan)
    assert A.count_op(plan, "MapInPandas") == 1


def test_new_candidate_joins_never_cartesian(spark):
    """Round-4 candidate generators (substring window match-back,
    caption-audit union of band + md5 equi-joins) must stay bucketed
    equi-joins — same rule as the round-3 generators."""
    for name in ["dedup_substring", "mm_caption_audit"]:
        df = Q.QUERIES[name](spark, SF_DIR)
        plan = A.formatted_plan(df)
        assert A.count_op(plan, "CartesianProduct") == 0, name
        assert A.count_op(plan, "BroadcastNestedLoopJoin") == 0, name


def test_dbscan_candidate_join_never_cartesian(spark):
    """Round-5f: DBSCAN's eps-pair candidate generation must stay a
    hash equi-join on the cell key (probe 3×3 fan-out vs build cell) —
    a lost key degrades to an n² cross join over the full point table.
    No Python eval anywhere: the whole operator is Column math +
    dedup_clusters' joins. Same rule for the conflation dissolve's
    overlap-edge generation."""
    for name in ("spatial_dbscan", "overlap_dissolve"):
        df = Q.QUERIES[name](spark, SF_DIR)
        plan = A.formatted_plan(df)
        assert A.count_op(plan, "CartesianProduct") == 0, name
        assert A.count_op(plan, "BroadcastNestedLoopJoin") == 0, name
        assert "BatchEvalPython" not in plan and "ArrowEval" not in plan, name


def test_vector_tile_points_zero_shuffle_pruned(spark):
    """Point-feature fan-out is pure Column math: no exchange anywhere,
    no Python eval, and the lineitem scan reads only the two id
    columns the synthetic probe derives from."""
    df = Q.q_vector_tile_points(spark, SF_DIR)
    A.audit(df, max_shuffles=0,
            max_scan_cols={"lineitem.parquet": 2})
    plan = A.formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_s2_containment_join_one_equi_join(spark):
    """Mixed-level S2 containment is ONE broadcast equi-join on each
    point's ancestors at the cover levels — no Union of per-level
    joins; the probe never shuffles, and the one exchange is the
    query's per-cover aggregate."""
    df = Q.q_s2_containment_join(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=1, min_broadcast_joins=1,
                  forbid_sort_merge_join=True)
    assert rep["broadcast_joins"] == 1
    assert A.count_op(A.formatted_plan(df), "Union") == 0


def test_s2_distance_join_two_broadcast_joins(spark):
    """ST_DWithin on the S2 index: the containment equi-join plus the
    site-position lookup, both broadcast; the probe never shuffles,
    and the one exchange is the site table's distinct."""
    df = Q.q_s2_distance_join(spark, SF_DIR)
    rep = A.audit(df, max_shuffles=1, min_broadcast_joins=2,
                  forbid_sort_merge_join=True)
    assert rep["broadcast_joins"] == 2


@pytest.mark.parametrize("name", ["j9_knn_ring_expansion", "s2_knn_join"])
def test_knn_small_build_is_one_kernel_pass(spark, name):
    """The kNN build side is small at this scale: one broadcast numpy
    top-k pass over the deduped probes. The one exchange is that
    probe-id dedup; no join and no window anywhere in the plan."""
    tree = A.operator_tree(A.formatted_plan(Q.QUERIES[name](spark, SF_DIR)))
    assert A.count_op(tree, "Exchange") == 1
    assert A.count_op(tree, "Window") == 0
    assert not re.search(r"Join|CartesianProduct", tree)


def _executed_plans(spark, run) -> list[str]:
    """Call ``run()`` and return, in order, the final physical plan of
    every SQL execution it started (actions and eager checkpoints
    alike): the formatted operator tree up to AQE's ``Initial Plan``,
    then the details of the nodes in it. Work a caller pinned before
    its last action shows here, once; the last action's own plan
    shows only the checkpoint scans."""
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def executions():
        return sorted(conv.asJava(store.executionsList()),
                      key=lambda e: e.executionId())

    seen = {e.executionId() for e in executions()}
    run()
    # the status store fills from the asynchronous listener bus
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    out = []
    for e in executions():
        if e.executionId() in seen:
            continue
        desc = e.physicalPlanDescription()
        tree = A.operator_tree(desc).split("== Initial Plan ==")[0]
        ids = set(re.findall(r"\((\d+)\)", tree))
        blocks = [tree]
        for b in desc.split("\n\n")[1:]:
            m = re.match(r"\s*\((\d+)\) ", b)
            if m and m.group(1) in ids:
                blocks.append(b)
        out.append("\n\n".join(blocks))
    return out


@pytest.mark.parametrize("name, cap", [("mvt_tiles", 23),
                                       ("mvt_layered_tiles", 5)])
def test_mvt_sink_exchange_budget(spark, name, cap):
    """The MVT sinks stay within their exchange counts. ``mvt_tiles``:
    all but the encoder's one belong to the fixture PBF assembly and
    the attribute join. ``mvt_layered_tiles`` reads pinned assembly
    frames (its pinned work is counted by
    test_layered_source_runs_each_shared_frame_once); its 5 are the
    polygon-attribute dedupe, the areas and roads fan-out widens, the
    encoder's tile-key repartition and the final sort (42 when every
    layer re-ran the assembly)."""
    A.audit(Q.QUERIES[name](spark, SF_DIR), max_shuffles=cap)


def test_layered_source_runs_each_shared_frame_once(spark):
    """Over every SQL execution of the layered export on the fixture
    PBF (the eager pins of jobs/tile_export.source_layers and the final
    collect): the PBF is decoded once, the current view is one window
    for all element types, ``way_lines`` explodes the refs once, and
    the whole export plans 9 shuffles. Before, each layer and each
    attribute frame re-ran its own current views and its own
    ``way_lines``: 14 current-view windows over the executions, 42
    exchanges in the final plan alone."""
    Q._fixture_pbf_path(spark)  # written once per machine, not counted
    plans = _executed_plans(
        spark, lambda: Q.QUERIES["mvt_layered_tiles"](spark, SF_DIR).collect())
    text = "\n".join(plans)
    assert text.count("_decode_batches(") == 1, text
    assert sum(A.count_op(p, "Window") for p in plans) <= 3
    assert text.count("posexplode(refs") == 1
    assert sum(A.count_op(p, "Exchange") for p in plans) <= 9


def test_layered_source_job_count(spark):
    """The Spark jobs of ``encode_mvt_layers(source_layers(...))``
    collected on the fixture PBF, pinned: three eager pins (current
    view, way lines, polygons), then the encode reads only them: 17
    jobs (27 when every layer re-ran the assembly)."""
    from osm_io_spark.jobs.tile_export import source_layers
    from osm_io_spark.operators import tiles as TL

    path = Q._fixture_pbf_path(spark)
    sc = spark.sparkContext
    sc.setJobGroup("layered_export", "layered export")
    try:
        TL.encode_mvt_layers(source_layers(spark, None, path, 13)).collect()
        jobs = sc.statusTracker().getJobIdsForGroup("layered_export")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 17, sorted(jobs)


def test_driver_tables_are_local_relations(spark):
    """Small driver-built tables (the PBF blob manifest, the distance
    join's site covers) are ``LocalRelation``s: a ``createDataFrame``
    of a Python list plans a ``PythonRDD`` scan, whose first run in a
    JVM starts a second Python daemon (about 1 s)."""
    from osm_io_spark.sources.pbf import decode as PD

    manifest, n = PD.blob_manifest(spark, Q._fixture_pbf_path(spark))
    plan = manifest._jdf.queryExecution().optimizedPlan().toString()
    assert n > 0 and plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan and "ExistingRDD" not in plan, plan
    # the covers are pinned inside the containment join, so their
    # source shows in the executed plans, not in the optimized one
    text = "\n".join(_executed_plans(
        spark, lambda: Q.q_s2_distance_join(spark, SF_DIR).collect()))
    assert "LocalTableScan" in text
    assert "PythonRDD" not in text, text


def test_mvt_encoder_adds_one_exchange(spark):
    """encode_mvt_layers adds exactly one shuffle above its feature
    frame: the tile-key repartition feeding the sorted-run kernel."""
    from osm_io_spark.operators import tiles as TL

    feats = Q._bench_tile_features(spark, SF_DIR)
    blobs = TL.encode_mvt_layers([("osm", feats, "polygon")])
    before = A.count_op(A.formatted_plan(feats), "Exchange")
    assert A.count_op(A.formatted_plan(blobs), "Exchange") == before + 1


def _small_join_inputs(spark):
    """Tiny image / rect / polygon frames shaped like the perfbench
    image_join inputs (rings as array<array<struct<lon, lat>>>)."""
    import numpy as np

    rng = np.random.default_rng(5)
    imgs = spark.createDataFrame(
        [(int(i), float(a), float(b)) for i, (a, b) in
         enumerate(zip(rng.uniform(-60, 60, 64), rng.uniform(-170, 170, 64)))],
        "img_id long, lat double, lon double")
    rects = spark.createDataFrame(
        [(i, x, y, x + 5.0, y + 4.0, x + 2.5, y + 2.0)
         for i, (x, y) in enumerate([(-20.0, -10.0), (30.0, 15.0),
                                     (100.0, -40.0)])],
        "polygon_id long, left double, bottom double, right double, "
        "top double, clon double, clat double")
    ring = [(10.0, 10.0), (14.0, 10.0), (12.0, 14.0), (10.0, 10.0)]
    polys = spark.createDataFrame(
        [(i, src, [[{"lon": x + dx, "lat": y} for x, y in ring]],
          10.0 + dx, 10.0, 14.0 + dx, 14.0)
         for i, src, dx in ((1, "way", 0.0), (2, "relation", 20.0))],
        "polygon_id long, source string, "
        "rings array<array<struct<lon: double, lat: double>>>, "
        "left double, bottom double, right double, top double")
    return imgs, rects, polys


def test_plan_build_round_trips_are_bounded(spark, py4j_round_trips):
    """Building the image-join plans is a bounded number of py4j round
    trips per public call: each step of a cell-id chain is one lateral
    column alias of one SQL ``selectExpr`` (functions/steps.py), not a
    tree of Column calls (each F.col / F.lit / operator is a round
    trip). Measured on these frames, build only (the call, no action),
    with the Column builders → with the SQL steps:

    * ``with_s2_cell``: 3,863 → 38
    * ``spatial_join_rect``: 1,461 → 93
    * ``spatial_join_polygons``: 1,637 → 239
    * ``raster_vector_assign``: 1,279 → 92
    * ``s2_spatial_join_polygons``: 6,263 → 271 (this call also runs
      its one eager cover-stats aggregate)

    and the tile fan-out and kNN, with the cell and tile encoders'
    Column builders → with their SQL text:

    * ``tile_cover``: 1,126 → 55
    * ``tile_points``: 825 → 39
    * ``build_vector_tiles``: 1,219 → 150
    * ``knn_join``: 84 → 78 (this call also runs its one bounded
      collect of the build side)

    py4j's finalizer thread, which sends object deletions whenever
    Python garbage is collected, is not counted."""
    from osm_io_spark.functions import s2 as S2
    from osm_io_spark.operators import knn as KNN
    from osm_io_spark.operators import raster as RAS
    from osm_io_spark.operators import spatial_join as SJ
    from osm_io_spark.operators import tiles as TL

    imgs, rects, polys = _small_join_inputs(spark)
    xyz = imgs.selectExpr("img_id", "lat AS x", "lon AS y", "1.0D AS z")
    for df in (imgs, rects, polys, xyz):
        df.columns  # the schema fetch is the caller's, not the call's
    calls = {
        "with_s2_cell": (lambda: S2.with_s2_cell(xyz, "x", "y", "z"), 200),
        "spatial_join_rect": (
            lambda: SJ.spatial_join_rect(imgs, rects, 10), 200),
        "spatial_join_polygons": (
            lambda: SJ.spatial_join_polygons(imgs, polys, 10), 400),
        "raster_vector_assign": (
            lambda: RAS.raster_vector_assign(imgs, rects, 7), 200),
        "s2_spatial_join_polygons": (
            lambda: SJ.s2_spatial_join_polygons(imgs, polys), 500),
        "tile_cover": (lambda: TL.tile_cover(polys, 10), 200),
        "tile_points": (
            lambda: TL.tile_points(imgs, 10, id_col="img_id"), 150),
        "build_vector_tiles": (
            lambda: TL.build_vector_tiles(polys, 10), 400),
        "knn_join": (lambda: KNN.knn_join(imgs, rects, k=2, res=5), 200),
    }
    for name, (build, bound) in calls.items():
        n0 = py4j_round_trips()
        build()
        n = py4j_round_trips() - n0
        assert n <= bound, f"{name}: {n} py4j round trips > {bound}"


def test_s2_polygon_join_build_runs_one_aggregate(spark):
    """Building ``s2_spatial_join_polygons`` runs ONE eager aggregate,
    the cover stats, which also counts the covered polygons for the
    rings-dim broadcast gate. Before, a ``polygons.count()`` ran first:
    two actions, 4 Spark jobs (AQE runs each aggregate as a map-stage
    job and a result job). Now 3: the count(DISTINCT polygon) of the
    one aggregate adds a map stage."""
    from osm_io_spark.operators import spatial_join as SJ

    imgs, _, polys = _small_join_inputs(spark)
    sc = spark.sparkContext
    sc.setJobGroup("s2_polygon_join_build", "build only")
    try:
        SJ.s2_spatial_join_polygons(imgs, polys)
        jobs = sc.statusTracker().getJobIdsForGroup("s2_polygon_join_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) == 3, sorted(jobs)


def test_knn_build_runs_one_bounded_collect(spark):
    """Building ``knn_join`` fetches at most ``_SMALL_BUILD + 1`` build
    rows in ONE collect, which both routes (duplicates count) and, on
    the small-build route, is the build matrix. Before, a
    ``build.count()`` ran first and a ``toPandas()`` of the deduped
    build second: 6 Spark jobs on this 50-row, 3-partition build; now
    2 (the limit's two passes)."""
    from osm_io_spark.operators import knn as KNN

    imgs, _, _ = _small_join_inputs(spark)
    build = spark.createDataFrame(
        [(i, float(i % 7), float(i % 11)) for i in range(50)],
        "polygon_id long, clat double, clon double").repartition(3)
    sc = spark.sparkContext
    sc.setJobGroup("knn_build", "build only")
    try:
        KNN.knn_join(imgs, build, k=2, res=5)
        jobs = sc.statusTracker().getJobIdsForGroup("knn_build")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(jobs) <= 2, sorted(jobs)
