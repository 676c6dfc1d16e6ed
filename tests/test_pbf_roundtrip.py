"""PBF codec round-trip — the reference's core test strategy
(tests/test_pbf_rw_pipe.rs, test_uncompressed_pbf_rw.rs): write a
deterministic fixture, read it back, assert golden counts/bbox/ids and
full element fidelity (tags, refs, members, metadata)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_io_spark.sources import synth
from osm_io_spark.sources.pbf import decode as D
from osm_io_spark.sources.pbf import encode as E
from osm_io_spark.sources.pbf import proto as P


# ---------------------------------------------------------------------------
# proto kernels
# ---------------------------------------------------------------------------

def test_varint_roundtrip():
    rng = np.random.default_rng(5)
    # every part uint64: int64 parts would promote the concatenation
    # to float64 and round the wide values
    vals = np.concatenate([
        rng.integers(0, 2**7, 100, dtype=np.uint64),
        rng.integers(0, 2**14, 100, dtype=np.uint64),
        rng.integers(0, 2**35, 100, dtype=np.uint64),
        rng.integers(0, 2**63, 100, dtype=np.uint64),
        np.array([0, 1, 127, 128, 2**64 - 1], dtype=np.uint64)])
    buf = P.encode_varints(vals)
    back = P.decode_varints(buf)
    assert (back == vals).all()


_VARINT_CASES = {
    # 1-10 byte boundaries, 64-bit top bit included
    "boundaries": np.array([0, 1, 127, 128, 300, 16383, 16384, 2097151,
                            2097152, 2**28 - 1, 2**28, 2**32 - 1,
                            2**63, 2**64 - 1], np.uint64),
    "mixed_widths": (np.random.default_rng(61).integers(0, 2**63, 5000)
                     >> np.random.default_rng(62).integers(0, 63, 5000)
                     ).astype(np.uint64),
    "small": np.random.default_rng(63).integers(0, 100, 5000)
    .astype(np.uint64),
    "zigzag_deltas": P.zigzag_encode(
        np.random.default_rng(64).integers(-2000, 2000, 5000)),
    "empty": np.zeros(0, np.uint64),
}


@pytest.mark.parametrize("case", sorted(_VARINT_CASES))
def test_encode_varints_matches_scalar(case):
    """The one vectorized varint encoder (PBF packed fields and MVT
    geometry streams) == the scalar encoder, byte for byte, with the
    right per-value lengths."""
    vals = _VARINT_CASES[case]
    want = [P.varint(v) for v in vals.tolist()]
    buf, lens = P.encode_varints(vals, return_lens=True)
    assert buf == b"".join(want) == P.encode_varints(vals)
    assert lens.tolist() == [len(w) for w in want]


def test_negative_varint_terminates():
    """A negative int is its 64-bit two's complement: 10 bytes."""
    assert P.varint(-1) == P.varint(2**64 - 1) == b"\xff" * 9 + b"\x01"


def test_zigzag_and_delta():
    rng = np.random.default_rng(6)
    v = rng.integers(-2**62, 2**62, 1000)
    assert (P.zigzag_decode(P.zigzag_encode(v)) == v).all()
    assert (P.delta_decode(P.delta_encode(v)) == v).all()
    buf = P.encode_sint_packed(v)
    assert (P.decode_sint_packed(buf) == v).all()


def test_message_roundtrip():
    msg = (P.field_varint(1, 42) + P.field_len(2, b"hello")
           + P.field_sint(3, -7) + P.field_packed_varints(4, np.array([1, 2, 300])))
    parsed = P.parse_message(msg)
    assert P.first(parsed, 1) == 42
    assert bytes(P.first(parsed, 2)) == b"hello"
    assert P.zigzag_decode(np.array([P.first(parsed, 3)], np.uint64))[0] == -7
    assert P.decode_varints(P.first(parsed, 4)).tolist() == [1, 2, 300]


# ---------------------------------------------------------------------------
# end-to-end fixture round trips
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def fixture_pbf(spark, tmp_path_factory):
    nodes, ways, relations, analysis = synth.osm_elements_local(
        seed=42, n_nodes=900, n_ways=60, n_relations=8)
    elements = _to_elements_df(spark, nodes, ways, relations)
    path = str(tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf")
    n_blocks = E.write_pbf(elements, path, compress=True)
    return path, analysis, (nodes, ways, relations), n_blocks


def _to_elements_df(spark, nodes, ways, relations):
    rows = []
    for n in nodes:
        rows.append(("node", n["id"], n["version"], n["lat"], n["lon"],
                     n["timestamp"], n["changeset"], n["uid"], n["user"],
                     n["visible"], n["tags"], None, None))
    for w in ways:
        rows.append(("way", w["id"], w["version"], None, None,
                     w["timestamp"], w["changeset"], w["uid"], w["user"],
                     w["visible"], w["tags"], w["refs"], None))
    for r in relations:
        rows.append(("relation", r["id"], r["version"], None, None,
                     r["timestamp"], r["changeset"], r["uid"], r["user"],
                     r["visible"], r["tags"], None, r["members"]))
    return spark.createDataFrame(rows, schema=D.ELEMENTS)


def test_header(fixture_pbf):
    path, analysis, _, _ = fixture_pbf
    info = D.read_header(path)
    assert info["required_features"] == ["OsmSchema-V0.6", "DenseNodes"]
    assert info["optional_features"] == ["Sort.Type_then_ID"]
    got = np.array(info["bbox"])
    want = np.array(analysis["data"]["bbox"])
    assert np.allclose(got, want, atol=1e-9)


def test_replication_metadata_roundtrip(spark, fixture_pbf, tmp_path):
    """FileInfo round-trip (file_info.rs:4-14, osm_header.rs:30-55):
    writingprogram/source + osmosis_replication_* written by write_pbf
    must read back field-exact through read_header."""
    path, _, _, _ = fixture_pbf
    els = D.read_pbf(spark, path)
    fi = {
        "writingprogram": "osm-io-spark-test",
        "source": "synthetic fixture",
        "osmosis_replication_timestamp": 1_673_222_400,
        "osmosis_replication_sequence_number": 5_432_109,
        "osmosis_replication_base_url":
            "https://example.org/replication/minute",
    }
    out = str(tmp_path / "replicated.osm.pbf")
    E.write_pbf(els, out, file_info=fi)
    got = D.read_header(out)
    for k, v in fi.items():
        assert got[k] == v, (k, got[k], v)
    # absent state stays absent: the original fixture header has none
    base = D.read_header(path)
    assert base["osmosis_replication_timestamp"] is None
    assert base["osmosis_replication_sequence_number"] is None
    assert base["osmosis_replication_base_url"] is None
    # and a second pass (read the replicated file, write again) keeps it
    out2 = str(tmp_path / "replicated2.osm.pbf")
    E.write_pbf(D.read_pbf(spark, out), out2, file_info=D.read_header(out))
    assert {k: D.read_header(out2)[k] for k in fi} == fi


def test_golden_counts_and_ids(spark, fixture_pbf):
    path, analysis, _, _ = fixture_pbf
    els = D.read_pbf(spark, path)
    counts = {r["etype"]: r["n"] for r in
              els.groupBy("etype").agg(F.count("*").alias("n")).collect()}
    want = analysis["data"]["count"]
    assert counts == {"node": want["nodes"], "way": want["ways"],
                      "relation": want["relations"]}
    stats = (els.groupBy("etype").agg(F.min("id").alias("lo"),
                                      F.max("id").alias("hi")).collect())
    m = {r["etype"]: (r["lo"], r["hi"]) for r in stats}
    assert m["node"] == (analysis["data"]["minid"]["nodes"],
                         analysis["data"]["maxid"]["nodes"])
    assert m["way"] == (analysis["data"]["minid"]["ways"],
                        analysis["data"]["maxid"]["ways"])
    assert m["relation"] == (analysis["data"]["minid"]["relations"],
                             analysis["data"]["maxid"]["relations"])


def test_bbox_aggregate(spark, fixture_pbf):
    """A2: bbox aggregate == golden (test_bounding_box_calculator.rs)."""
    path, analysis, _, _ = fixture_pbf
    els = D.read_pbf(spark, path)
    row = (els.filter(F.col("etype") == "node")
           .agg(F.min("lon"), F.min("lat"), F.max("lon"), F.max("lat")).collect()[0])
    want = analysis["data"]["bbox"]
    assert np.allclose([row[0], row[1], row[2], row[3]], want, atol=1e-9)


def _dicts(arr):
    if arr is None:
        return []
    return [t.asDict() if hasattr(t, "asDict") else dict(t) for t in arr]


def test_full_element_fidelity(spark, fixture_pbf):
    """Every field survives: coordinates to 1e-9 (granularity 100 nanodeg
    grid is below 1e-7 precision), tags/refs/members exactly."""
    path, _, (nodes, ways, relations), _ = fixture_pbf
    got = D.read_pbf(spark, path).toPandas()

    gn = got[got.etype == "node"].sort_values(["id", "version"]).reset_index(drop=True)
    assert len(gn) == len(nodes)
    for g, w in zip(gn.itertuples(), nodes):
        assert g.id == w["id"] and g.version == w["version"]
        assert abs(g.lat - w["lat"]) < 1e-7 and abs(g.lon - w["lon"]) < 1e-7
        assert g.timestamp == w["timestamp"] and g.changeset == w["changeset"]
        assert g.uid == w["uid"] and g.user == w["user"]
        assert g.visible == w["visible"]
        assert _dicts(g.tags) == w["tags"]

    gw = got[got.etype == "way"].sort_values(["id", "version"]).reset_index(drop=True)
    assert len(gw) == len(ways)
    for g, w in zip(gw.itertuples(), ways):
        assert g.id == w["id"]
        assert list(g.refs) == w["refs"]
        assert _dicts(g.tags) == w["tags"]

    gr = got[got.etype == "relation"].sort_values(["id", "version"]).reset_index(drop=True)
    assert len(gr) == len(relations)
    for g, w in zip(gr.itertuples(), relations):
        assert g.id == w["id"]
        assert _dicts(g.members) == w["members"]
        assert _dicts(g.tags) == w["tags"]


def test_uncompressed_and_double_roundtrip(spark, fixture_pbf, tmp_path):
    """test_uncompressed_pbf_rw.rs analogue: raw blobs + stability of a
    second write/read cycle."""
    path, analysis, _, _ = fixture_pbf
    els = D.read_pbf(spark, path)
    p2 = str(tmp_path / "u.osm.pbf")
    E.write_pbf(els, p2, compress=False)
    els2 = D.read_pbf(spark, p2)
    c1 = sorted([tuple(r) for r in els.select("etype", "id", "version").collect()])
    c2 = sorted([tuple(r) for r in els2.select("etype", "id", "version").collect()])
    assert c1 == c2
    want = analysis["data"]["count"]
    assert len([c for c in c2 if c[0] == "node"]) == want["nodes"]


def test_history_fixture_current_view(spark, tmp_path):
    """History fixture (multiple versions, invisible latest) through the
    codec + A5 current_* semantics (current_object.rs:18-31)."""
    from osm_io_spark.operators.current import current_view
    nodes, ways, relations, analysis = synth.osm_elements_local(
        seed=7, n_nodes=400, n_ways=30, n_relations=4, history=True)
    elements = _to_elements_df(spark, nodes, ways, relations)
    path = str(tmp_path / "hist.osm.pbf")
    E.write_pbf(elements, path, compress=True, history=True)
    info = D.read_header(path)
    assert "HistoricalInformation" in info["required_features"]

    els = D.read_pbf(spark, path)
    n_nodes_got = els.filter(F.col("etype") == "node").count()
    assert n_nodes_got == analysis["data"]["count"]["nodes"]

    cur = current_view(els.filter(F.col("etype") == "node"))
    # oracle: python-side latest-version-visible
    by_id = {}
    for n in nodes:
        prev = by_id.get(n["id"])
        if prev is None or n["version"] > prev["version"]:
            by_id[n["id"]] = n
    want_current = sorted(i for i, n in by_id.items() if n["visible"])
    got_current = sorted(r["id"] for r in cur.select("id").collect())
    assert got_current == want_current


def test_blob_structure(fixture_pbf):
    path, _, _, n_blocks = fixture_pbf
    descs = D.scan_blobs(path)
    assert descs[0]["blob_type"] == "OSMHeader"
    assert all(d["blob_type"] == "OSMData" for d in descs[1:])
    assert len(descs) == n_blocks + 1
    assert sum(1 for d in descs if d["blob_type"] == "OSMHeader") == 1


def test_negative_paths_and_feature_rejection(spark, tmp_path):
    """Mirrors the reference's negative-path reader tests
    (tests/test_pbf_reader.rs:103-122: nonexistent / directory / text
    inputs fail) and its required-feature check (reader.rs:206-227)."""
    import pytest

    from osm_io_spark.sources.pbf import decode as PD
    from osm_io_spark.sources.pbf import encode as PE

    with pytest.raises(OSError):
        PD.read_header(str(tmp_path / "does-not-exist.osm.pbf"))
    with pytest.raises(OSError):
        PD.read_header(str(tmp_path))
    txt = tmp_path / "not-a-pbf.txt"
    txt.write_text("this is not a pbf file, not even close\n" * 10)
    with pytest.raises(Exception):
        PD.read_header(str(txt))

    # unsupported REQUIRED feature must be rejected up front
    bad = tmp_path / "bad-feature.osm.pbf"
    with open(bad, "wb") as fh:
        fh.write(PE.header_block_bytes(
            None, ["OsmSchema-V0.6", "Exotic-Feature-v9"], []))
    with pytest.raises(Exception, match="[Ff]eature"):
        PD.read_header(str(bad))


def test_lenient_missing_trailing_kv_delimiter():
    """A third-party DenseNodes block that omits the trailing
    0-delimiter after the LAST tagged node must still yield that node's
    tags (decode.py lenient path; own encoder always emits n zeros)."""
    import zlib

    st = b"".join(P.field_len(1, s) for s in
                  [b"", b"k1", b"v1", b"k2", b"v2"])
    ids = P.field_packed_sints(1, P.delta_encode(np.array([10, 11])))
    lat = P.field_packed_sints(8, P.delta_encode(np.array([100, 200])))
    lon = P.field_packed_sints(9, P.delta_encode(np.array([300, 400])))
    # node 0 untagged (just a 0), node 1 tagged WITHOUT trailing 0
    kv = P.field_packed_varints(10, np.array([0, 3, 4], np.uint64))
    dense = ids + lat + lon + kv
    block = P.field_len(1, st) + P.field_len(2, P.field_len(2, dense))
    pdf = D.decode_block(block)
    assert list(pdf["tags"].iloc[0]) == []
    assert list(pdf["tags"].iloc[1]) == [{"k": "k2", "v": "v2"}]
