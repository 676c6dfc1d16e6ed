"""PBF read path: blob framing scan (S1), fetch+inflate (S2), vectorized
PrimitiveBlock decode (S3), header decode (S4) — re-expressed as a
driver-side manifest pass plus an Arrow-batched mapInPandas kernel.

Pipeline (SURVEY.md §3.1):
  scan_blobs(path)            driver, O(#blobs) metadata only — mirrors
                              blob_iterator.rs:37-53 (reads 4-byte BE
                              length + BlobHeader, skips the body)
  read_header(path)           block 0 OSMHeader + feature check —
                              mirrors osm_header.rs:17-55, reader.rs:52-62
  read_pbf(spark, path)       blob manifest DataFrame → repartition →
                              mapInPandas(decode) → unified element
                              DataFrame (one blob ≈ one input split, the
                              per-blob independence the format guarantees)
"""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from . import proto as P

SUPPORTED_FEATURES = {
    "OsmSchema-V0.6", "DenseNodes", "HistoricalInformation", "Sort.Type_then_ID",
}

# Unified element schema: one row per node/way/relation, type-specific
# columns nullable (split back into typed tables with a filter+select).
ELEMENTS = T.StructType([
    T.StructField("etype", T.StringType(), False),
    T.StructField("id", T.LongType(), False),
    T.StructField("version", T.IntegerType(), True),
    T.StructField("lat", T.DoubleType(), True),
    T.StructField("lon", T.DoubleType(), True),
    T.StructField("timestamp", T.LongType(), True),
    T.StructField("changeset", T.LongType(), True),
    T.StructField("uid", T.IntegerType(), True),
    T.StructField("user", T.StringType(), True),
    T.StructField("visible", T.BooleanType(), True),
    T.StructField("tags", T.ArrayType(T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.StringType(), False)]), False), True),
    T.StructField("refs", T.ArrayType(T.LongType(), False), True),
    T.StructField("members", T.ArrayType(T.StructType([
        T.StructField("type", T.StringType(), False),
        T.StructField("id", T.LongType(), False),
        T.StructField("role", T.StringType(), False)]), False), True),
])

_COLS = [f.name for f in ELEMENTS.fields]

# ONE shared empty-tags sentinel for the untagged majority (8000
# distinct empty-list allocations per block measurably throttle parallel
# decode). IMMUTABLE (tuple) so an in-place append by any consumer
# raises instead of silently corrupting every untagged row in the batch;
# Arrow treats tuples as list values on conversion.
_EMPTY_TAGS: tuple = ()


# ---------------------------------------------------------------------------
# framing
# ---------------------------------------------------------------------------

def scan_blobs(path: str) -> list[dict]:
    """Metadata-only blob enumeration (no body decode)."""
    out = []
    with open(path, "rb") as f:
        idx = 0
        while True:
            head = f.read(4)
            if len(head) < 4:
                break
            hlen = struct.unpack(">I", head)[0]
            header = P.parse_message(f.read(hlen))
            btype = bytes(P.first(header, 1)).decode()
            datasize = P.first(header, 3)
            offset = f.tell()
            f.seek(datasize, 1)
            out.append({"path": path, "blob_index": idx, "offset": offset,
                        "length": datasize, "blob_type": btype})
            idx += 1
    return out


def _read_blob_body(path: str, offset: int, length: int) -> bytes:
    with open(path, "rb") as f:
        f.seek(offset)
        blob = P.parse_message(f.read(length))
    if 1 in blob:                       # raw
        return bytes(blob[1][0])
    if 3 in blob:                       # zlib
        raw_size = P.first(blob, 2)
        data = zlib.decompress(bytes(blob[3][0]))
        if raw_size is not None and len(data) != raw_size:
            raise ValueError(f"zlib raw_size mismatch: {len(data)} != {raw_size}")
        return data
    # lzma(4)/bzip2(5)/lz4(6)/zstd(7): rejected, as in file_block.rs:113-155
    raise NotImplementedError(f"unsupported blob compression (fields {list(blob)})")


def read_header(path: str, check_features: bool = True) -> dict:
    """Parse block 0 (OSMHeader) → file info dict; verify features."""
    blobs = []
    with open(path, "rb") as f:
        head = f.read(4)
        hlen = struct.unpack(">I", head)[0]
        header = P.parse_message(f.read(hlen))
        btype = bytes(P.first(header, 1)).decode()
        if btype != "OSMHeader":
            raise ValueError(f"first blob is {btype}, expected OSMHeader")
        datasize = P.first(header, 3)
        offset = f.tell()
    data = _read_blob_body(path, offset, datasize)
    msg = P.parse_message(data)
    info: dict = {
        "required_features": [bytes(v).decode() for v in msg.get(4, [])],
        "optional_features": [bytes(v).decode() for v in msg.get(5, [])],
        "writingprogram": (bytes(P.first(msg, 16)).decode()
                           if P.first(msg, 16) is not None else None),
        "source": (bytes(P.first(msg, 17)).decode()
                   if P.first(msg, 17) is not None else None),
        # osmosis replication state (FileInfo, file_info.rs:4-14;
        # HeaderBlock fields 32/33/34, osm_header.rs:35-37) — int64
        # varints (NOT zigzag) + a url string; absent → None
        "osmosis_replication_timestamp": (
            int(np.uint64(P.first(msg, 32)).astype(np.int64))
            if P.first(msg, 32) is not None else None),
        "osmosis_replication_sequence_number": (
            int(np.uint64(P.first(msg, 33)).astype(np.int64))
            if P.first(msg, 33) is not None else None),
        "osmosis_replication_base_url": (
            bytes(P.first(msg, 34)).decode()
            if P.first(msg, 34) is not None else None),
    }
    bbox = P.first(msg, 1)
    if bbox is not None:
        bb = P.parse_message(bbox)
        zz = lambda f_: P.zigzag_decode(np.array([P.first(bb, f_, 0)], np.uint64))[0]
        info["bbox"] = [zz(1) / 1e9, zz(4) / 1e9, zz(2) / 1e9, zz(3) / 1e9]
        # [left, bottom, right, top] degrees
    if check_features:
        unsupported = set(info["required_features"]) - SUPPORTED_FEATURES
        if unsupported:
            raise ValueError(f"unsupported required features: {sorted(unsupported)}")
    return info


# ---------------------------------------------------------------------------
# PrimitiveBlock decode (numpy)
# ---------------------------------------------------------------------------

def _info_from_msg(imsg: dict, strings: np.ndarray, date_gran: int):
    ver = P.first(imsg, 1, -1)
    ts = P.first(imsg, 2)
    cs = P.first(imsg, 3)
    uid = P.first(imsg, 4)
    sid = P.first(imsg, 5)
    vis = P.first(imsg, 6)
    return (int(ver),
            int(ts) * date_gran if ts is not None else None,
            int(cs) if cs is not None else None,
            int(uid) if uid is not None else None,
            str(strings[sid]) if sid is not None else None,
            bool(vis) if vis is not None else True)


def _tags_from_kv(keys, vals, strings: np.ndarray):
    if len(keys) == 0:
        return []
    ks = strings[np.asarray(keys, np.int64)]
    vs = strings[np.asarray(vals, np.int64)]
    return [{"k": str(k), "v": str(v)} for k, v in zip(ks, vs)]


def decode_block(data: bytes) -> pd.DataFrame:
    """One PrimitiveBlock → pandas frame in the ELEMENTS column order.
    DenseNodes decode is fully vectorized (cumsum delta inverse,
    dictionary np.take) — osm_data.rs:88-167 re-expressed columnwise."""
    msg = P.parse_message(data)
    st = P.parse_message(P.first(msg, 1))
    strings = np.array([b.tobytes().decode("utf-8") for b in st.get(1, [])],
                       dtype=object)
    gran = P.first(msg, 17, 100)
    date_gran = P.first(msg, 18, 1000)
    lat_off = P.first(msg, 19, 0)
    lon_off = P.first(msg, 20, 0)

    frames: list[pd.DataFrame] = []
    rows: list[tuple] = []

    def _flush_rows():
        if rows:
            frames.append(pd.DataFrame(rows, columns=_COLS))
            rows.clear()

    for group_buf in msg.get(2, []):
        g = P.parse_message(group_buf)

        # --- DenseNodes (field 2) ---
        dense = P.first(g, 2)
        if dense is not None:
            _flush_rows()
            d = P.parse_message(dense)
            ids = P.delta_decode(P.decode_sint_packed(P.first(d, 1, b"")))
            lat_raw = P.delta_decode(P.decode_sint_packed(P.first(d, 8, b"")))
            lon_raw = P.delta_decode(P.decode_sint_packed(P.first(d, 9, b"")))
            lat = (lat_off + gran * lat_raw) / 1e9
            lon = (lon_off + gran * lon_raw) / 1e9
            n = len(ids)

            versions = np.full(n, -1, np.int64)
            ts = np.zeros(n, np.int64); has_info = False
            cs = np.zeros(n, np.int64)
            uid = np.zeros(n, np.int64)
            users = np.array([None] * n, dtype=object)
            vis = np.ones(n, bool)
            dinfo = P.first(d, 5)
            if dinfo is not None:
                has_info = True
                di = P.parse_message(dinfo)

                def _pad(arr, fill=0):
                    a = np.asarray(arr, np.int64)
                    if len(a) == n:
                        return a
                    out_ = np.full(n, fill, np.int64)
                    out_[:len(a)] = a
                    return out_

                versions = _pad(P.decode_varints(P.first(di, 1, b"")), -1)
                ts = _pad(P.delta_decode(P.decode_sint_packed(P.first(di, 2, b"")))) * date_gran
                cs = _pad(P.delta_decode(P.decode_sint_packed(P.first(di, 3, b""))))
                uid = _pad(P.delta_decode(P.decode_sint_packed(P.first(di, 4, b""))))
                sid = P.delta_decode(P.decode_sint_packed(P.first(di, 5, b"")))
                users = (strings[sid] if len(sid) == n
                         else np.array([None] * n, dtype=object))
                visv = P.decode_varints(P.first(di, 6, b""))
                vis = visv.astype(bool) if len(visv) == n else np.ones(n, bool)

            kv = P.decode_varints(P.first(d, 10, b"")).astype(np.int64)
            tags_per = [_EMPTY_TAGS] * n
            if len(kv):
                # vectorized zero-delimiter split: only nodes that
                # actually carry tags touch Python (untagged nodes —
                # the planet-scale majority — cost nothing)
                zeros = np.flatnonzero(kv == 0)
                starts = np.concatenate(([0], zeros[:-1] + 1))
                tagged = np.flatnonzero(zeros > starts)

                def _seg_tags(seg):
                    return [{"k": str(strings[seg[j]]),
                             "v": str(strings[seg[j + 1]])}
                            for j in range(0, len(seg), 2)]

                for i in tagged:
                    tags_per[int(i)] = _seg_tags(kv[starts[i]:zeros[i]])
                # lenient-input path: a file omitting the trailing
                # 0-delimiter after the LAST tagged node (own encoder
                # and the reference both emit n delimiters) leaves a
                # dangling segment past the final zero — assign it to
                # node len(zeros) instead of silently dropping its tags
                tail_start = zeros[-1] + 1 if len(zeros) else 0
                if len(zeros) < n and tail_start < len(kv):
                    tags_per[len(zeros)] = _seg_tags(kv[tail_start:])

            # columnar frame — no per-row tuple construction (the
            # row-wise form was allocator-bound and capped parallel
            # decode at ~3x on 32 cores)
            none_col = pd.Series([None] * n, dtype=object)
            if has_info:
                user_col = pd.Series(users, dtype=object).map(
                    lambda u: str(u) if u is not None else None)
            frames.append(pd.DataFrame({
                "etype": pd.Series(["node"] * n, dtype=object),
                "id": ids.astype(np.int64),
                "version": versions.astype(np.int64),
                "lat": lat.astype(np.float64),
                "lon": lon.astype(np.float64),
                "timestamp": ts.astype(np.int64) if has_info else none_col,
                "changeset": cs.astype(np.int64) if has_info else none_col,
                "uid": uid.astype(np.int64) if has_info else none_col,
                "user": user_col if has_info else none_col,
                "visible": vis.astype(bool),
                "tags": pd.Series(tags_per, dtype=object),
                "refs": none_col,
                "members": none_col,
            }, columns=_COLS))

        # --- plain Nodes (field 1) ---
        for nb in g.get(1, []):
            nm = P.parse_message(nb)
            nid = int(P.zigzag_decode(np.array([P.first(nm, 1, 0)], np.uint64))[0])
            latv = int(P.zigzag_decode(np.array([P.first(nm, 8, 0)], np.uint64))[0])
            lonv = int(P.zigzag_decode(np.array([P.first(nm, 9, 0)], np.uint64))[0])
            keys = P.decode_varints(P.first(nm, 2, b""))
            vals = P.decode_varints(P.first(nm, 3, b""))
            imsg = P.first(nm, 4)
            ver, ts1, cs1, uid1, user1, vis1 = (
                _info_from_msg(P.parse_message(imsg), strings, date_gran)
                if imsg is not None else (-1, None, None, None, None, True))
            rows.append(("node", nid, ver,
                         (lat_off + gran * latv) / 1e9, (lon_off + gran * lonv) / 1e9,
                         ts1, cs1, uid1, user1, vis1,
                         _tags_from_kv(keys, vals, strings), None, None))

        # --- Ways (field 3) ---
        for wb in g.get(3, []):
            wm = P.parse_message(wb)
            wid = int(P.first(wm, 1, 0))
            keys = P.decode_varints(P.first(wm, 2, b""))
            vals = P.decode_varints(P.first(wm, 3, b""))
            refs = P.delta_decode(P.decode_sint_packed(P.first(wm, 8, b"")))
            imsg = P.first(wm, 4)
            ver, ts1, cs1, uid1, user1, vis1 = (
                _info_from_msg(P.parse_message(imsg), strings, date_gran)
                if imsg is not None else (-1, None, None, None, None, True))
            rows.append(("way", wid, ver, None, None, ts1, cs1, uid1, user1, vis1,
                         _tags_from_kv(keys, vals, strings),
                         refs.tolist(), None))

        # --- Relations (field 4) ---
        member_types = ("Node", "Way", "Relation")
        for rb in g.get(4, []):
            rm = P.parse_message(rb)
            rid = int(P.first(rm, 1, 0))
            keys = P.decode_varints(P.first(rm, 2, b""))
            vals = P.decode_varints(P.first(rm, 3, b""))
            roles = P.decode_varints(P.first(rm, 8, b"")).astype(np.int64)
            memids = P.delta_decode(P.decode_sint_packed(P.first(rm, 9, b"")))
            mtypes = P.decode_varints(P.first(rm, 10, b"")).astype(np.int64)
            imsg = P.first(rm, 4)
            ver, ts1, cs1, uid1, user1, vis1 = (
                _info_from_msg(P.parse_message(imsg), strings, date_gran)
                if imsg is not None else (-1, None, None, None, None, True))
            members = [{"type": member_types[int(t)], "id": int(m),
                        "role": str(strings[r])}
                       for t, m, r in zip(mtypes, memids, roles)]
            rows.append(("relation", rid, ver, None, None, ts1, cs1, uid1, user1,
                         vis1, _tags_from_kv(keys, vals, strings), None, members))

        if 5 in g:  # changesets: reference panics too (osm_data.rs:310-314)
            raise NotImplementedError("changeset primitive groups not supported")

    _flush_rows()
    if not frames:
        return pd.DataFrame(columns=_COLS)
    if len(frames) == 1:
        return frames[0]
    return pd.concat(frames, ignore_index=True)


# ---------------------------------------------------------------------------
# Spark entry points
# ---------------------------------------------------------------------------

def blob_manifest(spark: SparkSession, path: str) -> tuple[DataFrame, int]:
    """(manifest of the file's OSMData blobs, their count) — the driver
    scans the blob headers anyway, so the count costs no job. The
    manifest is a ``LocalRelation`` (operators/util.local_frame), so
    reading a file starts no Python worker on the driver side."""
    from ... import schemas
    from ...operators.util import local_frame
    descs = [d for d in scan_blobs(path) if d["blob_type"] == "OSMData"]
    cols = {f: [d[f] for d in descs] for f in schemas.BLOB_DESC.fieldNames()}
    return local_frame(spark, cols, schemas.BLOB_DESC), len(descs)


def _decode_batches(batches):
    for pdf in batches:
        for _, row in pdf.iterrows():
            data = _read_blob_body(row["path"], int(row["offset"]), int(row["length"]))
            yield decode_block(data)


def read_pbf(spark: SparkSession, path: str,
             parallelism: int | None = None) -> DataFrame:
    """path → unified element DataFrame (ELEMENTS schema). Header block
    is validated eagerly; data blobs decode lazily on executors."""
    read_header(path)  # feature check up front, as the reference does
    manifest, n = blob_manifest(spark, path)
    if parallelism is None:
        # cap tasks at ~8 blobs (~64k elements): a planet file has
        # millions of blobs — packing them into defaultParallelism
        # partitions would make giant stragglers, and one-blob tasks
        # would drown in per-task overhead
        parallelism = max(spark.sparkContext.defaultParallelism, n // 8)
    parts = min(n, parallelism) or 1
    return manifest.repartition(parts).mapInPandas(_decode_batches, schema=ELEMENTS)
