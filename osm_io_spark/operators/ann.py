"""Similarity search over embedding columns (training-data pipeline op).

Embeddings are quantized to integers (round(x*1000)) before any
arithmetic so dot products and norms are EXACT — reproducible across
engines, partitionings and reruns (no float-sum order sensitivity);
cosine = dot / (sqrt(na)*sqrt(nb)) is then a single deterministic
float expression.

- ``brute_force_topk``: exact baseline — broadcast the (small) query set
  against all candidates; JVM-side zip_with/aggregate dot products.
- ``lsh_topk``: the scale path — random-hyperplane LSH buckets candidate
  vectors; queries probe only their bucket (+ multiprobe neighbors),
  then exact re-rank. Approximate; recall measured in tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import hash64_py
from .util import widen


def quantize(col: Column, scale: int = 1000) -> Column:
    """array<float> → array<long>, elementwise round-half-up at `scale`."""
    return F.transform(col, lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("long"))


def dot_q(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def norm_sq_q(a: Column) -> Column:
    return dot_q(a, a)


def cosine_q(dot: Column, na: Column, nb: Column) -> Column:
    return dot.cast("double") / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double")))


def brute_force_topk(queries: DataFrame, candidates: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(query_id, rank, cand_id, cos) — exact top-k by cosine, ties by
    cand_id. Queries are broadcast (small set); candidates stream."""
    q = (queries.select(F.col(id_col).alias("query_id"),
                        quantize(F.col(vec_col)).alias("_qv"))
         .withColumn("_qn", norm_sq_q(F.col("_qv"))))
    c = (widen(candidates).select(F.col(id_col).alias("cand_id"),
                                  quantize(F.col(vec_col)).alias("_cv"))
         .withColumn("_cn", norm_sq_q(F.col("_cv"))))
    pairs = (c.crossJoin(F.broadcast(q))
             .filter(F.col("cand_id") != F.col("query_id"))
             .withColumn("_dot", dot_q(F.col("_qv"), F.col("_cv")))
             .withColumn("cos", cosine_q(F.col("_dot"), F.col("_qn"), F.col("_cn"))))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id").asc())
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "cand_id", "cos"))


def with_recall(approx: DataFrame, exact: DataFrame, k: int) -> DataFrame:
    """Append per-query ``recall_at_k`` (|approx∩exact| / k) to an
    approximate top-k result — a checkable accuracy figure the driver's
    rows-only gate can see alongside every approximate ANN result."""
    ex = exact.select("query_id", "cand_id")
    hits = (approx.select("query_id", "cand_id").join(ex, ["query_id", "cand_id"])
            .groupBy("query_id")
            .agg((F.count("*").cast("double") / F.lit(k)).alias("recall_at_k")))
    return (approx.join(F.broadcast(hits), "query_id", "left")
            .fillna({"recall_at_k": 0.0}))


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from the stable hash."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hash64_py(f"lsh:{seed}:{p}:{d}")
            row.append((h % 2_000_001) / 1_000_000.0 - 1.0)
        planes.append(row)
    return planes


def _planes_q(dim: int, n_planes: int, seed: int):
    """The hyperplanes as an exact int64 matrix [n_planes, dim].

    _hyperplanes emits exact multiples of 1e-6, so scaling by 1e6
    recovers the integers losslessly; bucket signs computed from
    (quantized vector) @ (integer plane) are then EXACT int64
    arithmetic — bit-stable across partitionings, batch sizes and
    BLAS builds, unlike a float projection whose summation order
    could flip a near-zero sign."""
    import numpy as np

    P = np.array(_hyperplanes(dim, n_planes, seed), dtype=np.float64)
    return np.floor(P * 1_000_000.0 + 0.5).astype(np.int64)


def _gemm_local_topk(probe_map: dict, k: int, batch_prep,
                     query_id_type, cand_id_type):
    """Shared GEMM re-rank kernel for the approximate top-k paths.

    ``batch_prep(pdf) -> (ids, C:int64[n,d], cn:int64[n], keys:int64[n])``
    turns each Arrow batch of candidates into numpy (LSH computes
    quantize/norm/bucket right here — no interpreted higher-order
    JVM function anywhere on the scan; IVF just stacks the prebuilt
    index columns). ``probe_map`` maps each key (LSH bucket | IVF
    centroid_id) to the driver-side matrix of the queries probing it:
    (qids, Q:int64[nq,d], Qn:int64[nq]). Queries are driver-sized by
    contract (same as brute_force_topk's broadcast side), so the matrix
    rides in the closure — candidates are NEVER shuffled and the
    re-rank is ONE int64 GEMM per (batch, key), the pattern measured
    25x over HOF dots at dedup.embedding_near_dup_pairs_ivf/ivf_build.

    Emits only the per-(batch,key) top-k rows per query under the final
    total order (cos desc, cand_id asc) — the global top-k is a subset
    of the union of local top-ks under the same total order, so the
    closing window sees ≤ batches*k rows per query instead of every
    bucket candidate."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("query_id", query_id_type, False),
        T.StructField("cand_id", cand_id_type, False),
        T.StructField("cos", T.DoubleType(), False),
    ])

    def _fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_all, C_all, cn_all, keys = batch_prep(pdf)
            order_k = np.argsort(keys, kind="stable")
            bounds = np.flatnonzero(np.diff(keys[order_k])) + 1
            out_q, out_c, out_s = [], [], []
            for grp_idx in np.split(order_k, bounds):
                probe = probe_map.get(int(keys[grp_idx[0]]))
                if probe is None:
                    continue
                qids, Q, Qn = probe
                ids = ids_all[grp_idx]
                C = C_all[grp_idx]
                cn = cn_all[grp_idx]
                dots = C @ Q.T                          # [nc, nq] exact
                cos = dots / (np.sqrt(cn.astype(np.float64))[:, None]
                              * np.sqrt(Qn.astype(np.float64))[None, :])
                # ties broken by cand_id VALUE order (portable to any
                # orderable id type): rank within group once
                rank = np.empty(len(ids), dtype=np.int64)
                rank[np.argsort(ids, kind="stable")] = np.arange(len(ids))
                for j in range(len(qids)):
                    valid = np.flatnonzero(ids != qids[j])
                    if len(valid) == 0:
                        continue
                    order = np.lexsort((rank[valid], -cos[valid, j]))[:k]
                    sel = valid[order]
                    out_q.extend([qids[j]] * len(sel))
                    out_c.extend(ids[sel])
                    out_s.extend(cos[sel, j])
            if out_q:
                yield pd.DataFrame({"query_id": out_q,
                                    "cand_id": out_c,
                                    "cos": out_s})
    return _fn, out_schema


def _empty_topk(session, query_id_type, cand_id_type) -> DataFrame:
    """Empty (query_id, rank, cand_id, cos) frame — the zero-query
    result. The GEMM paths materialize the query set driver-side at
    construction, so without this guard an empty query frame crashed
    in np.stack where the old lazy JVM plan returned empty."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("query_id", query_id_type, False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("cand_id", cand_id_type, False),
        T.StructField("cos", T.DoubleType(), False),
    ])
    return session.createDataFrame([], schema)


def _finish_topk(local_pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(),
                                               F.col("cand_id").asc())
    return (local_pairs.dropDuplicates(["query_id", "cand_id"])
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "cand_id", "cos"))


def _rows_topk_partial(row_ids, cos, nbr_ids, k: int, out) -> None:
    """Per-row PARTIAL top-k under the final total order (cos desc,
    nbr_id asc), appended to ``out=(vids, nbrs, coss)`` — the one
    definition shared by knn_graph and knn_graph_ivf so a tie-break or
    edge-case fix cannot silently diverge between them.
    (_gemm_local_topk keeps its rank-based variant: it must serve
    arbitrary orderable id types, not just integers.)

    Fully vectorized: with the candidate COLUMNS pre-sorted by nbr_id,
    ONE stable argsort of -cos along each row resolves ties in column
    order = nbr_id ascending — exactly the final total order — so no
    per-row Python lexsort runs (a 20k-row cluster set spent most of
    its wall time in that loop). Top k+1 columns are kept so the single
    possible self-match per row can be masked out afterwards."""
    import numpy as np
    row_ids = np.asarray(row_ids)
    if len(row_ids) == 0 or len(nbr_ids) == 0:
        return
    order_c = np.argsort(nbr_ids, kind="stable")
    nbr_sorted = nbr_ids[order_c]
    cs = cos[:, order_c]
    top = np.argsort(-cs, axis=1, kind="stable")[:, :k + 1]
    nbr_top = nbr_sorted[top]
    valid = nbr_top != row_ids[:, None]
    keep = valid & (np.cumsum(valid, axis=1) <= k)
    rr, cc = np.nonzero(keep)
    out[0].extend(row_ids[rr])
    out[1].extend(nbr_top[rr, cc])
    out[2].extend(np.take_along_axis(cs, top, axis=1)[rr, cc])


def block_pair_sides(q: DataFrame, n_blocks: int) -> DataFrame:
    """The blocked pair grid of the exact GEMM kernels: (_id, _v, _n)
    rows hash into ``n_blocks`` blocks; block b serves as the A side
    (_side 0) of pairs (b, j≥b) and the B side (_side 1) of pairs
    (i≤b, b), pair key _pair = i*n_blocks + j — one group per
    unordered block pair."""
    blk = F.pmod(F.xxhash64("_id"), F.lit(n_blocks))
    a_keys = F.transform(F.sequence(blk, F.lit(n_blocks - 1)),
                         lambda j: blk * n_blocks + j)
    b_keys = F.transform(F.sequence(F.lit(0), blk),
                         lambda i: i * n_blocks + blk)
    return (q.select("_id", "_v", "_n", F.explode(a_keys).alias("_pair"),
                     F.lit(0).alias("_side"))
            .unionByName(q.select("_id", "_v", "_n",
                                  F.explode(b_keys).alias("_pair"),
                                  F.lit(1).alias("_side"))))


def knn_graph(vecs: DataFrame, k: int, id_col: str = "vec_id",
              vec_col: str = "embedding",
              block_rows: int = 1024,
              max_replicated_rows: int = 100_000_000) -> DataFrame:
    """(vec_id, rank, nbr_id, cos) — EXACT k-nearest-neighbor GRAPH:
    every vector's top-k cosine neighbors over the whole corpus. Unlike
    brute_force_topk/lsh_topk/ivf_topk (driver-sized query batch vs a
    corpus), BOTH sides here are the full distributed table — the
    self-kNN graph a training pipeline builds for clustering, diversity
    sampling, or graph-based dedup.

    Same blocked integer-GEMM scheme as the exact pair kernel
    (dedup.embedding_near_dup_pairs): vectors hash into
    ⌈n/block_rows⌉ blocks, each unordered block pair is ONE
    applyInPandas group computing an exact int64 GEMM, and the group
    emits only PARTIAL top-k rows for each member (≤ (na+nb)·k), which
    a final window merges under the total order (cos desc, nbr_id asc)
    — correct because the global top-k is a subset of the union of
    per-group top-ks under the same order.

    Scale honesty — this is the EXACT baseline and it is quadratic on
    BOTH axes: the GEMM work by construction, and the INPUT shuffle
    too. Every vector replicates to n_blocks+1 pair keys before the
    group shuffle, so n·(n_blocks+1) ≈ n²/block_rows full vector rows
    move — at n=10⁸, d=64, block_rows=1024 that is ~10¹³ row-copies,
    and the replication shuffle kills the job before the FLOPs matter.
    (Only the OUTPUT side is sub-quadratic: ≤ n·k·n_blocks partial
    top-k rows reach the closing window, never the n² pair matrix.)
    ``max_replicated_rows`` enforces this honestly: past the budget the
    call raises and routes you to ``knn_graph_ivf``, the bucketed scale
    path (one groupBy on centroid_id, measured recall attached)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not isinstance(vecs.schema[id_col].dataType,
                      (T.LongType, T.IntegerType, T.ShortType)):
        raise TypeError(
            f"knn_graph needs an integer {id_col} (ids enter the numpy "
            "kernel); for other id types map ids to integers first, or "
            "use dedup.embedding_near_dup_pairs_ivf for threshold "
            "pairs over orderable ids")

    # pin quantize+norm behind ONE lazy checkpoint: the frame fans out
    # into two exploded union branches below (plus the eager count
    # here), and without the pin the upstream plan — widen + quantize +
    # whatever produced vecs — re-executes per branch (fan-out rule)
    q0 = (widen(vecs)
          .select(F.col(id_col).alias("_id"),
                  quantize(F.col(vec_col)).alias("_v"))
          .withColumn("_n", norm_sq_q(F.col("_v")))
          .localCheckpoint(eager=False))
    n_vec = q0.count()   # materializes the checkpoint; reused below
    n_blocks = max(1, -(-n_vec // block_rows))
    if n_vec * (n_blocks + 1) > max_replicated_rows:
        raise ValueError(
            f"knn_graph would replicate {n_vec}x{n_blocks + 1} = "
            f"{n_vec * (n_blocks + 1)} vector rows into the pair-group "
            f"shuffle (> max_replicated_rows={max_replicated_rows}); "
            "the exact path is quadratic in the input shuffle, not "
            "just in FLOPs — use knn_graph_ivf (bucketed IVF scale "
            "path) or raise block_rows/max_replicated_rows explicitly")
    sides = block_pair_sides(q0, n_blocks)

    part_schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("nbr_id", T.LongType(), False),
        T.StructField("cos", T.DoubleType(), False),
    ])

    def _gemm_topk(key, pdf: pd.DataFrame) -> pd.DataFrame:
        diagonal = (key[0] // n_blocks) == (key[0] % n_blocks)
        asel = pdf[pdf["_side"] == 0]
        bsel = pdf[pdf["_side"] == 1]
        if len(asel) == 0 or len(bsel) == 0:
            return pd.DataFrame({c.name: [] for c in part_schema.fields})
        ids_a = asel["_id"].to_numpy(np.int64)
        ids_b = bsel["_id"].to_numpy(np.int64)
        A = np.stack(asel["_v"].to_numpy())
        B = np.stack(bsel["_v"].to_numpy())
        na = asel["_n"].to_numpy(np.int64).astype(np.float64)
        nb = bsel["_n"].to_numpy(np.int64).astype(np.float64)
        D = A @ B.T                                  # exact int64 GEMM
        cos = D / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
        out: tuple = ([], [], [])
        _rows_topk_partial(ids_a, cos, ids_b, k, out)
        if not diagonal:
            # off-diagonal groups serve B-side rows too; the diagonal
            # group's A and B are the same set — emitting both would
            # just duplicate rows into the window
            _rows_topk_partial(ids_b, cos.T, ids_a, k, out)
        return pd.DataFrame({"vec_id": out[0], "nbr_id": out[1],
                             "cos": out[2]})

    # EXPLICIT user repartition on the group key: the GEMM groups are
    # small in BYTES but quadratic in COMPUTE, and AQE's byte-based
    # partition coalescing would merge them onto a few cores (the
    # measured salted-band lesson — user repartitions are exempt)
    spark = vecs.sparkSession
    n_pairs = n_blocks * (n_blocks + 1) // 2
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                 min(n_pairs, 1024))
    parts = (sides.repartition(nparts, "_pair")
             .groupBy("_pair").applyInPandas(_gemm_topk,
                                             schema=part_schema))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             F.col("nbr_id").asc())
    return (parts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "rank", "nbr_id", "cos"))


def knn_graph_ivf(vecs: DataFrame, k: int, n_centroids: int = 32,
                  n_probe: int = 4, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  built: tuple[DataFrame, DataFrame] | None = None
                  ) -> DataFrame:
    """Approximate self-kNN graph — knn_graph's IVF scale path: every
    vector is multi-assigned to its ``n_probe`` nearest centroids
    (ivf_build index, reusable via ``built=``), candidate neighbors are
    co-members of a shared cluster (ONE groupBy on centroid_id — no
    all-pairs anywhere), and each cluster runs an exact int64-GEMM
    partial top-k whose union a window merges. A true neighbor is
    missed iff the two vectors share none of their probed clusters —
    the same multi-assignment recall argument as
    dedup.embedding_near_dup_pairs_ivf; the registry query attaches a
    measured per-vector recall column against the exact graph.

    Per-cluster GEMM work is |cluster|² — a Zipf-hot cluster bounds it;
    size n_centroids ~ √n, or salt hot cluster ids the same way as hot
    bands, if a corpus concentrates.

    ``built=(centroids, index)`` reuses a persisted ivf_build output;
    recall here is governed by the index's ``n_assign`` (the number of
    clusters each vector was multi-assigned to at build time), NOT by
    this call's ``n_probe`` — so a mismatch is rejected when the index
    carries its build stamp (ivf_build sets ``_ivf_n_assign``), and an
    unstamped index (e.g. re-read from parquet) is trusted as-is."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if not isinstance(vecs.schema[id_col].dataType,
                      (T.LongType, T.IntegerType, T.ShortType)):
        raise TypeError(
            f"knn_graph_ivf needs an integer {id_col} (ids enter the "
            "numpy kernel); for other id types map ids to integers "
            "first, or use dedup.embedding_near_dup_pairs_ivf for "
            "threshold pairs over orderable ids")

    if built is not None:
        _, index = built
        stamped = getattr(index, "_ivf_n_assign", None)
        if stamped is not None and stamped != n_probe:
            raise ValueError(
                f"prebuilt IVF index was multi-assigned with "
                f"n_assign={stamped} but this call requests "
                f"n_probe={n_probe}; recall is set by the index's "
                "n_assign, so rebuild with ivf_build(..., "
                f"n_assign={n_probe}) or call with n_probe={stamped}")
    else:
        _, index = ivf_build(vecs, n_centroids, id_col, vec_col,
                             n_assign=n_probe)
    part_schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("nbr_id", T.LongType(), False),
        T.StructField("cos", T.DoubleType(), False),
    ])

    def _fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["cand_id"].to_numpy(np.int64)
        C = np.stack(pdf["_cv"].to_numpy()).astype(np.int64)
        cn = pdf["_cn"].to_numpy(np.int64).astype(np.float64)
        cos = (C @ C.T) / (np.sqrt(cn)[:, None] * np.sqrt(cn)[None, :])
        out: tuple = ([], [], [])
        _rows_topk_partial(ids, cos, ids, k, out)
        return pd.DataFrame({"vec_id": out[0], "nbr_id": out[1],
                             "cos": out[2]})

    # same AQE-coalescing defense as knn_graph: pin the cluster-group
    # parallelism with a user repartition on the group key
    spark = vecs.sparkSession
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
                 min(n_centroids, 1024))
    parts = (index.repartition(nparts, "centroid_id")
             .groupBy("centroid_id").applyInPandas(_fn, schema=part_schema))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos").desc(),
                                             F.col("nbr_id").asc())
    # the same (vec, nbr) pair can surface from several shared clusters
    # with an identical exact cos — dedup before ranking
    return (parts.dropDuplicates(["vec_id", "nbr_id"])
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("vec_id", "rank", "nbr_id", "cos"))


def lsh_topk(queries: DataFrame, candidates: DataFrame, k: int,
             n_planes: int = 8, dim: int = 64, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             multiprobe: int = 0) -> DataFrame:
    """Approximate top-k: candidates are bucketed by LSH signature;
    each (driver-sized) query probes only its bucket, with exact
    integer-GEMM re-rank inside the bucket (_gemm_local_topk — the
    earlier per-pair aggregate/zip_with dot was interpreted, not
    codegen'd). Candidates never shuffle: the query matrix rides in the
    mapInPandas closure and only local top-k rows reach the window.

    ``multiprobe=1`` also probes every bucket at signature Hamming
    distance 1 (each hyperplane bit flipped) — the standard multiprobe
    trick: (1+n_planes)/2^n_planes of the corpus searched instead of
    1/2^n_planes, recovering the near-misses that fall just across one
    hyperplane, at zero extra candidate-side cost (only the probe map
    fans out)."""
    import numpy as np

    Pq = _planes_q(dim, n_planes, seed)
    bits = (np.int64(1) << np.arange(n_planes, dtype=np.int64))

    def _quant(raw) -> "np.ndarray":
        V = np.stack(raw.to_numpy()).astype(np.float64)
        return np.floor(V * 1000.0 + 0.5).astype(np.int64)

    def _bucket_of(C: "np.ndarray") -> "np.ndarray":
        return ((C @ Pq.T) > 0).astype(np.int64) @ bits

    q_pdf = queries.select(F.col(id_col).alias("query_id"),
                           F.col(vec_col).alias("_v")).toPandas()
    if len(q_pdf) == 0:
        return _empty_topk(queries.sparkSession,
                           queries.schema[id_col].dataType,
                           candidates.schema[id_col].dataType)
    qids = q_pdf["query_id"].to_numpy()
    Q = _quant(q_pdf["_v"])
    Qn = (Q * Q).sum(axis=1)
    buckets = _bucket_of(Q)
    probe_sets = [buckets] if multiprobe < 1 else (
        [buckets] + [buckets ^ (1 << i) for i in range(n_planes)])
    probe_map: dict = {}
    for bs in probe_sets:
        for j, b in enumerate(bs):
            probe_map.setdefault(int(b), []).append(j)
    probe_map = {b: (qids[js], Q[js], Qn[js])
                 for b, js in probe_map.items()}

    # candidate scan: id + raw vector only — quantize/norm/bucket all
    # happen in the numpy kernel below (one matmul per Arrow batch)
    c = widen(candidates).select(F.col(id_col).alias("cand_id"),
                                 F.col(vec_col).alias("_v"))

    def batch_prep(pdf):
        C = _quant(pdf["_v"])
        return (pdf["cand_id"].to_numpy(), C, (C * C).sum(axis=1),
                _bucket_of(C))

    fn, schema = _gemm_local_topk(
        probe_map, k, batch_prep,
        queries.schema[id_col].dataType, candidates.schema[id_col].dataType)
    return _finish_topk(c.mapInPandas(fn, schema), k)


def ivf_build(candidates: DataFrame, n_centroids: int = 32,
              id_col: str = "vec_id", vec_col: str = "embedding",
              n_assign: int = 1) -> tuple[DataFrame, DataFrame]:
    """Build the IVF-flat index: (centroids, index) DataFrames.

    1. Seed centroids: the ``n_centroids`` candidates with the smallest
       stable hash of their id (deterministic sample, no RNG).
    2. One Lloyd refinement: assign every candidate to its nearest seed
       under exact integer squared-L2 on quantized vectors, recompute
       centroids as element-wise means (exact long sums → deterministic
       doubles regardless of aggregation order).
    3. Index: candidates tagged with their ``n_assign`` nearest final
       cluster ids (n_assign>1 = multi-assignment for near-dup candidate
       generation) — at planet scale the one shuffle, reusable across
       query batches.

    centroids: (centroid_id, _sv, _sn); index: (cand_id, _cv, _cn,
    centroid_id) with n_assign rows per candidate.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    c = (widen(candidates).select(F.col(id_col).alias("cand_id"),
                                  quantize(F.col(vec_col)).alias("_cv"))
         .withColumn("_cn", norm_sq_q(F.col("_cv")))
         # assignment reads c twice (seed pass + final pass) — pin it
         .localCheckpoint(eager=False))

    # Assignment runs as numpy int64 GEMMs inside mapInPandas —
    # centroids are bounded (n_centroids rows) so they ride along as a
    # driver-side matrix in the closure; the earlier crossJoin +
    # higher-order-function dot per (candidate, centroid) was
    # interpreted, not codegen'd, and dominated the build.
    def _assign_fn(S: np.ndarray, Sn: np.ndarray, k: int):
        # n_assign can exceed the surviving centroid count (tiny corpus,
        # or empty clusters dropped after the Lloyd step) — clamp, else
        # argsort yields < k columns and the repeat below raises an
        # opaque executor-side length mismatch (ADVICE r2)
        k = min(k, S.shape[0])

        def fn(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                V = np.stack(pdf["_cv"].to_numpy()).astype(np.int64)
                cn = pdf["_cn"].to_numpy(np.int64)
                D = cn[:, None] + Sn[None, :] - 2 * (V @ S.T)
                if k == 1:
                    # argmin → first (= smallest centroid_id) on ties
                    nearest = D.argmin(axis=1)
                    out = pdf.copy()
                    out["centroid_id"] = nearest.astype(np.int64)
                    yield out
                else:
                    # stable argsort ties by centroid_id, top-k
                    order = np.argsort(D, axis=1, kind="stable")[:, :k]
                    reps = np.repeat(np.arange(len(pdf)), k)
                    out = pdf.iloc[reps].copy()
                    out["centroid_id"] = order.ravel().astype(np.int64)
                    yield out
        return fn

    assign_schema = T.StructType(list(c.schema.fields) + [
        T.StructField("centroid_id", T.LongType(), False)])

    seeds_pdf = (c.withColumn("_h", F.xxhash64(F.col("cand_id")))
                 .orderBy("_h", "cand_id").limit(n_centroids)
                 .orderBy("cand_id").select("_cv", "_cn").toPandas())
    S0 = np.stack(seeds_pdf["_cv"].to_numpy()).astype(np.int64)
    S0n = seeds_pdf["_cn"].to_numpy(np.int64)

    assigned0 = c.mapInPandas(_assign_fn(S0, S0n, 1), assign_schema)

    # element-wise mean per cluster from exact long sums (one Lloyd
    # step). The aggregation is algebraic, so the heavy lifting happens
    # map-side: each Arrow batch emits ONE (sum_vec, count) partial per
    # centroid it touches (numpy add.at — no per-dim explosion), and the
    # only shuffle is n_batches·n_centroids array rows into a
    # per-centroid merge. The earlier shape posexploded every vector
    # into d rows before the groupBy — an n·d-row shuffle (~7e11 rows at
    # 1e9 vectors × 768 dims) for what is a per-partition partial sum.
    # Integer sums are order-invariant, so the centroids stay
    # byte-identical to the exploded path (test_ann.py pins this).
    partial_schema = T.StructType([
        T.StructField("centroid_id", T.LongType(), False),
        T.StructField("_ps", T.ArrayType(T.LongType()), False),
        T.StructField("_pn", T.LongType(), False)])

    def _partial_sums(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_cv"].to_numpy()).astype(np.int64)
            uniq, inv = np.unique(
                pdf["centroid_id"].to_numpy(np.int64), return_inverse=True)
            sums = np.zeros((len(uniq), V.shape[1]), dtype=np.int64)
            np.add.at(sums, inv, V)
            yield pd.DataFrame({
                "centroid_id": uniq,
                "_ps": [list(map(int, r)) for r in sums],
                "_pn": np.bincount(inv, minlength=len(uniq))
                         .astype(np.int64)})

    merge_schema = T.StructType([
        T.StructField("centroid_id", T.LongType(), False),
        T.StructField("_sv", T.ArrayType(T.LongType()), False),
        T.StructField("_sn", T.LongType(), False)])

    def _merge_partials(pdf: pd.DataFrame) -> pd.DataFrame:
        S = np.stack(pdf["_ps"].to_numpy()).astype(np.int64).sum(axis=0)
        n = int(pdf["_pn"].sum())
        # identical rounding to the exploded path: exact long sum →
        # double divide → floor(m + 0.5)
        m = np.floor(S / n + 0.5).astype(np.int64)
        return pd.DataFrame({
            "centroid_id": [int(pdf["centroid_id"].iloc[0])],
            "_sv": [list(map(int, m))],
            "_sn": [int((m * m).sum())]})

    centroids = (assigned0.mapInPandas(_partial_sums, partial_schema)
                 .groupBy("centroid_id")
                 .applyInPandas(_merge_partials, merge_schema))

    cent_pdf = centroids.orderBy("centroid_id").toPandas()
    # empty clusters vanish from the mean aggregation: re-index by the
    # surviving centroid_id order (positions in S1 = row order) and
    # rebuild the centroids frame so ids match positions
    S1 = np.stack(cent_pdf["_sv"].to_numpy()).astype(np.int64)
    S1n = cent_pdf["_sn"].to_numpy(np.int64)
    spark = candidates.sparkSession
    centroids = spark.createDataFrame(pd.DataFrame({
        "centroid_id": np.arange(len(cent_pdf), dtype=np.int64),
        "_sv": [list(map(int, v)) for v in S1],
        "_sn": [int(v) for v in S1n]}))

    index = c.mapInPandas(_assign_fn(S1, S1n, n_assign), assign_schema)
    # stamp the multi-assignment width on the frame so consumers that
    # accept a prebuilt index (knn_graph_ivf) can verify their n_probe
    # matches — an index built with a different n_assign silently
    # changes which cluster co-memberships exist and can tank recall
    index._ivf_n_assign = n_assign
    return centroids, index


def ivf_topk(queries: DataFrame, candidates: DataFrame, k: int,
             n_centroids: int = 32, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             built: tuple[DataFrame, DataFrame] | None = None) -> DataFrame:
    """IVF-flat approximate top-k (the inverted-file scale path): build
    via ivf_build, then each (broadcast) query probes its ``n_probe``
    nearest clusters with exact cosine re-rank inside them.

    Pass ``built=(centroids, index)`` (persisted ivf_build output) to
    amortize the index across query batches — the build is the
    expensive half (two assignment passes over all candidates); search
    itself touches only the probed clusters.

    Approximate by construction; recall vs brute_force_topk is measured
    in tests/test_ann.py.

    Probe selection AND re-rank run as exact int64 numpy (the centroid
    table is bounded and the query set driver-sized by contract, so
    both live on the driver / in the mapInPandas closure): squared-L2
    probe distance ``qn + sn - 2*Q@S.T`` is the same integer expression
    the previous JVM plan computed, and the in-cluster re-rank is one
    GEMM per (batch, cluster) via _gemm_local_topk — replacing the
    interpreted per-pair aggregate/zip_with dot that dominated at scale.
    """
    import numpy as np

    # materialize + guard the query side BEFORE the (expensive, eager)
    # index build: a zero-query call must not pay two assignment passes
    # over the full candidate table to produce an empty frame
    q_pdf = (queries.select(F.col(id_col).alias("query_id"),
                            quantize(F.col(vec_col)).alias("_qv"))
             .withColumn("_qn", norm_sq_q(F.col("_qv"))).toPandas())
    if len(q_pdf) == 0:
        return _empty_topk(queries.sparkSession,
                           queries.schema[id_col].dataType,
                           candidates.schema[id_col].dataType)

    centroids, index = built or ivf_build(candidates, n_centroids,
                                          id_col, vec_col)
    qids = q_pdf["query_id"].to_numpy()
    Q = np.stack(q_pdf["_qv"].to_numpy()).astype(np.int64)
    Qn = q_pdf["_qn"].to_numpy(np.int64)

    cent_pdf = centroids.orderBy("centroid_id").toPandas()
    S = np.stack(cent_pdf["_sv"].to_numpy()).astype(np.int64)
    Sn = cent_pdf["_sn"].to_numpy(np.int64)
    cent_ids = cent_pdf["centroid_id"].to_numpy(np.int64)

    # exact integer probe distances; ties by centroid_id asc (stable
    # argsort over the id-ordered centroid rows), same order the
    # previous window (_d asc, centroid_id asc) produced
    D = Qn[:, None] + Sn[None, :] - 2 * (Q @ S.T)
    nearest = np.argsort(D, axis=1, kind="stable")[:, :min(n_probe, len(cent_ids))]
    probe_map: dict = {}
    for j in range(len(qids)):
        for pos in nearest[j]:
            probe_map.setdefault(int(cent_ids[pos]), []).append(j)
    probe_map = {cid: (qids[js], Q[js], Qn[js])
                 for cid, js in probe_map.items()}

    c = index.withColumnRenamed("centroid_id", "_key")

    def batch_prep(pdf):
        return (pdf["cand_id"].to_numpy(),
                np.stack(pdf["_cv"].to_numpy()).astype(np.int64),
                pdf["_cn"].to_numpy(np.int64),
                pdf["_key"].to_numpy(np.int64))

    fn, schema = _gemm_local_topk(
        probe_map, k, batch_prep,
        queries.schema[id_col].dataType, candidates.schema[id_col].dataType)
    return _finish_topk(c.mapInPandas(fn, schema), k)
