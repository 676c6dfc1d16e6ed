"""Executable gate-visibility invariants — the two round-2 regressions
that silently blinded the driver, pinned as tests:

1. window: the driver hard-gates the first 50 registry entries in
   QUERIES order, so those must be exactly the ``window=True`` entries
   and every one of them oracled (r2: two oracled streaming entries
   sat past the window and got no CORRECTNESS row at all).
2. bench stdout line: the driver tail-captures stdout, so the JSON
   line must stay under ~1900 bytes even in the fallback shape
   (r2: the rows dict grew the line past the capture window and the
   headline metric never parsed).
"""

from __future__ import annotations

import json

import pytest

from osm_io_spark import queries as Q


DRIVER_WINDOW = 50  # entries the driver's gate runs, in dict order


def test_every_oracled_key_precedes_every_rows_only_key():
    """The gate must never burn a window slot on a rows-only entry.
    There are more oracled entries than window slots, so the contract
    is: exactly DRIVER_WINDOW entries carry ``window=True``, all of them
    oracled, and they lead QUERIES; oracled entries past the window are
    hash-checked by tests/test_oracle_parity.py."""
    window = [e.name for e in Q.REGISTRY if e.window]
    assert len(window) == DRIVER_WINDOW, len(window)
    not_oracled = [e.name for e in Q.REGISTRY if e.window and not e.oracle]
    assert not not_oracled, (
        f"rows-only entries occupy driver-window slots: {not_oracled}")
    assert list(Q.QUERIES)[:DRIVER_WINDOW] == window


# Named window memberships: operators whose failure modes (joins,
# covers, partitioning, iterative plans, the north-rule per-row
# invariant) the driver gate exists to catch stay inside the window;
# single-projection Column transforms sit outside it, oracles kept.
WINDOW_MEMBERSHIP = [
    *[(n, True) for n in (
        "s2_cellid", "s2_containment_join",
        "tile_point_assign", "tile_cover_assign",
        "mm_row_invariants", "mm_decode_stats",
        "ctx_cascade_discard", "ctx_relation_closure", "ctx_dangling_refs",
        "s2_distance_join", "ring_centroid",
        "spatial_dbscan", "hotspot_gistar")],
    *[(n, False) for n in (
        "text_quality", "text_fingerprint",
        "text_repetition", "text_vocab",
        "text_token_count", "text_token_count_bpe", "text_language_id",
        "ctx_reverse_index",
        "c2_fixed_point", "c5_timestamp_convert",
        "sample_mixture", "f1_token_filter")],
]


@pytest.mark.parametrize("name,inside", WINDOW_MEMBERSHIP,
                         ids=[n for n, _ in WINDOW_MEMBERSHIP])
def test_window_membership(name, inside):
    window = set(list(Q.QUERIES)[:DRIVER_WINDOW])
    assert (name in window) is inside, name
    if not inside:
        assert name in Q.ORACLES, f"{name} left the window without its oracle"


def test_every_oracle_key_is_a_registry_key():
    missing = set(Q.ORACLES) - set(Q.QUERIES)
    assert not missing, f"ORACLES keys without a queries() entry: {missing}"


def test_bench_json_line_fits_driver_capture():
    """Both the full line (current BENCH_QUERIES at realistic timing
    widths) and the fallback shape must stay under the 1900-byte
    driver tail-capture bound bench.py enforces."""
    timings = {name: 12345.6789 for name in Q.BENCH_QUERIES}
    full = json.dumps({
        "metric": "images_joined_tiled_per_sec", "value": 1234567.89,
        "unit": "sec", "queries": timings, "n_images": 600000,
        "cpus": 32, "sf": 0.1}, separators=(",", ":"))
    fallback = json.dumps({
        "metric": "images_joined_tiled_per_sec", "value": 1234567.89,
        "unit": "sec", "n_images": 600000, "cpus": 32, "sf": 0.1},
        separators=(",", ":"))
    assert len(fallback) < 1900
    # THE invariant that matters (r5f incident: trip_segments pushed
    # the registry to 77 bench entries, the centisecond tier overflowed
    # to 2004 bytes and the driver's BENCH json silently lost every
    # per-query timing): the TIER-2 line — every entry at 2-decimal
    # precision, realistic 4-char values — must fit the capture window
    # with headroom for a few 3-digit-second rows.
    tier2 = json.dumps({
        "metric": "images_joined_tiled_per_sec", "value": 1234567.89,
        "unit": "sec",
        "queries": {k: 12.81 for k in Q.BENCH_QUERIES},
        "n_images": 600000, "cpus": 32, "sf": 0.1},
        separators=(",", ":"))
    assert len(tier2) <= 1860, (
        f"tier-2 bench line {len(tier2)} bytes — clear bench=True flags "
        "on cheap registry rows before tier-3 silently drops "
        "the per-query dict")
    # the full line is allowed to exceed 1900 only because bench.py
    # swaps in the tier-2 shape — but warn-by-failure if it ever grows
    # so large that even the per-query diagnostics are unprintable
    assert len(full) < 4 * 1900, len(full)


def test_bench_methodology_is_shared_and_valid():
    """bench.py times rows through the one queries.time_query and
    stagebench runs a registry name as a stage; both build from
    BENCH_BUILD, and every bench name and every bench_build entry must
    resolve in the single table."""
    import bench
    from osm_io_spark.jobs import stagebench as SB

    assert "Q.time_query(" in open(bench.__file__).read()

    class Built:
        def count(self):
            return 3

    calls = []
    with pytest.MonkeyPatch.context() as mp:
        for name in Q.BENCH_BUILD:
            mp.setitem(Q.BENCH_BUILD, name, lambda spark, sf_dir, name=name:
                       calls.append((name, spark, sf_dir)) or Built())
        for name in Q.BENCH_BUILD:
            st = SB.resolve(name)
            assert (st.file, st.id, st.size, st.check) == (
                "", name, None, None)
            assert st.run("session", 0) == {"rows": 3}
    assert calls == [(n, "session", SB.SF_DIR) for n in Q.BENCH_BUILD]
    names = [e.name for e in Q.REGISTRY]
    assert len(names) == len(set(names)), "duplicate registry names"
    assert set(Q.BENCH_QUERIES) <= set(Q.QUERIES)
    assert set(Q.BENCH_BUILD) == set(Q.QUERIES)
    for e in Q.REGISTRY:
        assert callable(e.build), e.name
        want = e.bench_build or e.build
        assert callable(want) and Q.BENCH_BUILD[e.name] is want, e.name
        if e.bench_build is not None:
            assert e.bench, f"{e.name}: bench_build on a non-bench entry"
