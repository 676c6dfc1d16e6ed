"""Geohash (functions/geohash.py): published golden vectors, numpy /
Spark SQL steps / DuckDB-SQL tri-identity, decode-bounds containment, the
prefix property, and the edge clamps."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from osm_io_spark.functions import geohash as GH
from osm_io_spark.functions.steps import select_steps


def test_published_golden_vectors():
    """Literal examples from the public geohash record: Niemeyer's
    original announcement example (57.64911, 10.40744) @10 =
    'u4pruydqqv' and the Wikipedia Curitiba example (-25.382708,
    -49.265506) @8 = '6gkzwgjz'."""
    assert GH.geohash_np(np.array([57.64911]),
                         np.array([10.40744]), 10) == ["u4pruydqqv"]
    assert GH.geohash_np(np.array([-25.382708]),
                         np.array([-49.265506]), 8) == ["6gkzwgjz"]
    # even-precision truncations of the same points (prefix property
    # against the published strings themselves)
    assert GH.geohash_np(np.array([57.64911]),
                         np.array([10.40744]), 6) == ["u4pruy"]
    assert GH.geohash_np(np.array([-25.382708]),
                         np.array([-49.265506]), 4) == ["6gkz"]


def test_odd_or_oversized_precision_rejected():
    for p in (1, 3, 5, 7, 9, 0, -2, 12):
        with pytest.raises(ValueError):
            GH.geohash_np(np.array([0.0]), np.array([0.0]), p)


def test_three_way_parity_bounds_and_prefix(spark, duck):
    """numpy / Spark SQL steps / DuckDB SQL geohashes are string-identical on
    random points at every supported precision; decoded bounds contain
    the point; every hash starts with its coarser-precision hash."""
    rng = np.random.Generator(np.random.Philox(23))
    lat = rng.uniform(-90, 90, 3000)
    lon = rng.uniform(-180, 180, 3000)
    pdf = pd.DataFrame({"lat": lat, "lon": lon})
    sdf = spark.createDataFrame(pdf)
    prev = None
    for p in (2, 4, 6, 8, 10):
        want = GH.geohash_np(lat, lon, p)
        got = select_steps(sdf, GH.geohash_steps("lat", "lon", p, "gh"),
                           keep=("gh",)).toPandas()["gh"]
        assert list(got) == want, p
        d = duck.sql(f"SELECT {GH.geohash_sql('lat', 'lon', p)} AS gh "
                     f"FROM pdf").df()["gh"]
        assert list(d) == want, p
        left, bottom, right, top = GH.geohash_bounds_np(want)
        assert (left <= lon).all() and (lon < right).all(), p
        assert (bottom <= lat).all() and (lat < top).all(), p
        if prev is not None:
            assert all(w.startswith(q) for w, q in zip(want, prev)), p
        prev = want


def test_arithmetic_ancestor_equals_substring(duck):
    """The oracle construction: a geohash rendered from 5-bit-coarsened
    bins (x>>5, y>>5) IS the substring ancestor — for every point, not
    just cell corners."""
    rng = np.random.Generator(np.random.Philox(31))
    lat = rng.uniform(-90, 90, 2000)
    lon = rng.uniform(-180, 180, 2000)
    fine = GH.geohash_np(lat, lon, 8)
    x, y = GH._bins_np(lat, lon, GH._half_bits(8))
    pdf = pd.DataFrame({"gx": x, "gy": y})
    d = duck.sql(
        f"SELECT {GH.geohash_from_bins_sql('gx // 32', 'gy // 32', 6)} "
        f"AS gh FROM pdf").df()["gh"]
    assert list(d) == [g[:6] for g in fine]


def test_edge_clamps_stay_in_alphabet():
    """lat=+90 / lon=+180 clamp to the max bin (never a 6th base-32
    digit per 5 bits); poles and antimeridian round-trip through the
    decoder."""
    lat = np.array([90.0, -90.0, 0.0, 89.999999, -89.999999])
    lon = np.array([180.0, -180.0, 0.0, 179.999999, -179.999999])
    for p in (2, 6, 10):
        gh = GH.geohash_np(lat, lon, p)
        assert all(len(g) == p for g in gh)
        assert all(c in GH.GEOHASH32 for g in gh for c in g)
        left, bottom, right, top = GH.geohash_bounds_np(gh)
        assert (left >= -180).all() and (right <= 180 + 1e-9).all()
        assert (bottom >= -90).all() and (top <= 90 + 1e-9).all()
