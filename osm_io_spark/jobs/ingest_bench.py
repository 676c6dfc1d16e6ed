"""PBF ingest/egest throughput bench — the reference's own domain.

The reference publishes no numbers (BASELINE.md) and cannot be compiled
in this sandbox (no crates.io access), so this job records OUR
single-node codec throughput on a planet-shaped synthetic extract
(DenseNodes-dominant, delta+dictionary encoded, zlib'd — identical
wire format to the fixtures the reference reads):

  python -m osm_io_spark.jobs.ingest_bench --n-nodes 2000000 \
      --n-ways 100000 --out BENCH/INGEST.md

Measures, in one JVM at local[$SPARK_GRAFT_CPUS]:
  - write: elements DataFrame → ordered .osm.pbf (encode + ordered sink)
  - read:  .osm.pbf → count-by-type (full decode, A1)
  - filtered read: tag-predicate count (F1 over the decode stream)
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..queries import time_runs
from ..session import get_spark
from ..sources.pbf import decode as PD
from ..sources.pbf import encode as PE


def synth_elements(spark, n_nodes: int, n_ways: int, parts: int):
    """Distributed deterministic planet-shaped element table."""

    def gen_nodes(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64) + 1
            lat = ((ids * 2654435761) % 120000000) / 1e6 - 60.0
            lon = ((ids * 2971215073) % 360000000) / 1e6 - 180.0
            rows = []
            for i, la, lo in zip(ids, lat, lon):
                i = int(i)
                tags = ([{"k": "natural", "v": "tree"}] if i % 10 == 0 else [])
                rows.append(("node", i, 1, float(la), float(lo),
                             1600000000000 + i * 1000, i % 1000 + 1,
                             i % 500 + 1, f"u{i % 500 + 1}", True,
                             tags, None, None))
            yield pd.DataFrame(rows, columns=PD._COLS)

    def gen_ways(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(np.int64) + 1
            rows = []
            for i in ids:
                i = int(i)
                refs = [(i * 7 + j) % n_nodes + 1 for j in range(5)]
                rows.append(("way", i, 1, None, None,
                             1600000000000 + i * 1000, i % 1000 + 1,
                             i % 500 + 1, f"u{i % 500 + 1}", True,
                             [{"k": "highway", "v": "residential"}],
                             refs, None))
            yield pd.DataFrame(rows, columns=PD._COLS)

    nodes = (spark.range(0, n_nodes, 1, parts)
             .mapInPandas(gen_nodes, schema=PD.ELEMENTS))
    ways = (spark.range(0, n_ways, 1, max(1, parts // 4))
            .mapInPandas(gen_ways, schema=PD.ELEMENTS))
    return nodes.unionByName(ways)


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-nodes", type=int, default=2_000_000)
    ap.add_argument("--n-ways", type=int, default=100_000)
    ap.add_argument("--out", default=None)
    ap.add_argument("--read-only", action="store_true",
                    help="reuse an existing bench file; time reads only "
                         "(for scaling runs at several parallelism levels)")
    args = ap.parse_args(argv)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("pbf-ingest-bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    n_el = args.n_nodes + args.n_ways
    path = os.path.join("/tmp", f"ingest_bench_{n_el}.osm.pbf")

    # Stage the synthetic input once (generator cost is not codec cost),
    # and pay JIT + Python-worker spawn before timing — once-per-cluster
    # costs at real scale, same policy as bench.py.
    staged_dir = os.path.join("/tmp", f"ingest_bench_els_{n_el}.parquet")
    if not os.path.exists(staged_dir):
        (synth_elements(spark, args.n_nodes, args.n_ways, parts=cpus)
         .write.parquet(staged_dir))
    els = spark.read.parquet(staged_dir)

    def best_of(fn, reps=2):
        samples, out = time_runs(fn, reps)
        return min(samples), out

    if args.read_only and os.path.exists(path):
        t_write, n_blocks = float("nan"), -1
    else:
        t_write, n_blocks = best_of(
            lambda: PE.write_pbf(els, path, compress=True))

    t_read, counts = best_of(lambda: {
        r["etype"]: r["n"] for r in
        PD.read_pbf(spark, path).groupBy("etype")
        .agg(F.count("*").alias("n")).collect()})

    t_filter, n_trees = best_of(lambda: (
        PD.read_pbf(spark, path)
        .filter(F.exists("tags", lambda t: (t["k"] == F.lit("natural"))
                         & (t["v"] == F.lit("tree")))).count()))

    if (counts.get("node"), counts.get("way"), n_trees) != (
            args.n_nodes, args.n_ways, args.n_nodes // 10):
        raise RuntimeError(f"ingest counts {counts}, {n_trees} trees do not "
                           f"match the {args.n_nodes} nodes / {args.n_ways} "
                           "ways written")

    res = {
        "metric": "pbf_ingest",
        "n_elements": n_el,
        "file_bytes": os.path.getsize(path),
        "n_blocks": n_blocks,
        "cpus": cpus,
        "read_s": round(t_read, 3),
        "read_elements_per_s": round(n_el / t_read),
        "filtered_read_s": round(t_filter, 3),
    }
    if not (args.read_only and n_blocks < 0):
        res["write_s"] = round(t_write, 3)
        res["write_elements_per_s"] = round(n_el / t_write)
    print(json.dumps(res))

    if args.out and "write_s" in res:
        from .mdout import write_preserving
        write_preserving(args.out, f"""# BENCH/INGEST — PBF codec throughput (single node, local[{cpus}])

The reference publishes no benchmark numbers and cannot be built here
(no crates.io access); these are the engine's own codec numbers on a
planet-shaped synthetic extract ({args.n_nodes:,} DenseNodes +
{args.n_ways:,} ways, delta+dictionary, zlib — the same wire format as
the reference's fixtures; file {res['file_bytes']:,} B,
{res['n_blocks']} blocks of ≤8000).

| direction | wall s | elements/s |
|---|---|---|
| write (encode + ordered sink) | {res['write_s']} | {res['write_elements_per_s']:,} |
| read (full decode → count by type) | {res['read_s']} | {res['read_elements_per_s']:,} |
| filtered read (tag predicate) | {res['filtered_read_s']} | — |

Reproduce: `python -m osm_io_spark.jobs.ingest_bench --n-nodes
{args.n_nodes} --n-ways {args.n_ways} --out BENCH/INGEST.md`
""")
    return res


if __name__ == "__main__":
    main()
