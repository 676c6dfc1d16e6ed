"""Cascaded S2 multires rollup (round 5): the cascade (leaves once,
coarser levels from the previous level's partials) must equal the
direct-from-leaves aggregation at every level, for every re-aggregable
kind. The registry oracle (SQL_S2_MRR) proves the same property
hash-exactly vs DuckDB at sf0.01/0.1; this test covers the operator's
API surface (min kind, Column measures, validation) on a small frame
whose points intentionally straddle faces so parents at coarse levels
collide across inputs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osm_io_spark.functions import s2 as S2
from osm_io_spark.operators import spatial_join as SJ


@pytest.fixture(scope="module")
def pts(spark):
    # deterministic scatter across all 6 faces, integer-valued measure
    df = spark.range(0, 3000).select(
        F.col("id"),
        ((F.col("id") * 37 % 1700) / 10.0 - 85.0).alias("lat"),
        ((F.col("id") * 53 % 3600) / 10.0 - 180.0).alias("lon"),
        (F.col("id") % 97).cast("double").alias("qty"))
    return S2.with_s2_cell(S2.with_latlon_xyz(df, "lat", "lon"),
                           "px", "py", "pz").select("id", "qty", "s2_cell") \
        .cache()


def _direct(pts, level):
    return (pts.groupBy(F.expr(S2.s2_parent_sql("s2_cell", level))
                        .alias("cell"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("qty").alias("s"),
                 F.min("qty").alias("mn"),
                 F.max("qty").alias("mx")))


def test_cascade_equals_direct_per_level(spark, pts):
    out = SJ.s2_multires_rollup(
        pts, (12, 8, 5, 2),
        {"n": ("count", None), "s": ("sum", "qty"),
         "mn": ("min", "qty"), "mx": ("max", F.col("qty"))})
    got = {(r["level"], r["cell"]): (r["n"], r["s"], r["mn"], r["mx"])
           for r in out.collect()}
    n_rows = 0
    for lv in (12, 8, 5, 2):
        exp = {r["cell"]: (r["n"], r["s"], r["mn"], r["mx"])
               for r in _direct(pts, lv).collect()}
        n_rows += len(exp)
        for cell, vals in exp.items():
            assert got[(lv, cell)] == vals, (lv, cell)
    assert len(got) == n_rows
    # coarse levels genuinely coalesce (the cascade did real work):
    # level-2 has at most 6·4² = 96 cells globally (pigeonhole), and
    # distinct-cell counts are monotone non-increasing up the hierarchy
    lv_counts = {lv: sum(1 for (l, _) in got if l == lv)
                 for lv in (12, 8, 5, 2)}
    assert lv_counts[2] <= 96 < lv_counts[12]
    assert lv_counts[2] <= lv_counts[5] <= lv_counts[8] <= lv_counts[12]


def test_rollup_validation(spark, pts):
    with pytest.raises(ValueError, match="strictly decreasing"):
        SJ.s2_multires_rollup(pts, (4, 6), {"n": ("count", None)})
    with pytest.raises(ValueError, match="strictly decreasing"):
        SJ.s2_multires_rollup(pts, (6, 6), {"n": ("count", None)})
    with pytest.raises(ValueError, match="non-re-aggregable"):
        SJ.s2_multires_rollup(pts, (6,), {"a": ("avg", "qty")})


def test_single_level_is_plain_groupby(spark, pts):
    out = SJ.s2_multires_rollup(pts, (9,), {"n": ("count", None)})
    rows = out.collect()
    assert all(r["level"] == 9 for r in rows)
    exp = {r["cell"]: r["n"] for r in _direct(pts, 9).collect()}
    assert {r["cell"]: r["n"] for r in rows} == exp
