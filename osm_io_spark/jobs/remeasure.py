"""Targeted best-of-N re-measurement of specific bench entries.

Re-times ONLY the named registry entries, with the bench.py timing
(``queries.time_query``, the same session setup) at a higher repeat
count, and records loadavg alongside so the number is interpretable on
a shared box — for telling ambient noise from a code change.

    python -m osm_io_spark.jobs.remeasure \
        --queries dedup_embedding_ivf,corpus_curation,dedup_phash_hamming \
        --repeats 5 --out BENCH/R5_REMEASURE.md
"""

from __future__ import annotations

import argparse
import json
import os

from ..queries import time_query
from ..session import get_bench_spark


def _loadavg() -> list[str]:
    with open("/proc/loadavg") as f:
        return f.read().split()[:3]


def run(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True,
                    help="comma-separated registry names")
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--out", default=None)
    args = ap.parse_args(argv)

    load_before = _loadavg()
    spark = get_bench_spark("remeasure", args.cpus)
    results = {}
    for name in args.queries.split(","):
        samples, n = time_query(spark, args.sf_dir, name, args.repeats)
        samples = [round(s, 3) for s in samples]
        results[name] = {"best": min(samples), "all": samples, "rows": n}
        print(f"# {name}: best={min(samples)} all={samples}", flush=True)
    load_after = _loadavg()

    out = {"results": results, "cpus": args.cpus, "sf_dir": args.sf_dir,
           "loadavg_before": load_before, "loadavg_after": load_after}
    print(json.dumps(out))

    if args.out:
        from .mdout import write_preserving
        md = ["# BENCH/R5_REMEASURE — targeted re-timing of r4 bench "
              "regressions", "",
              f"bench.py methodology (local[{args.cpus}], `{args.sf_dir}`, "
              f"built inside the timer), best of {args.repeats}; "
              f"loadavg before {' '.join(load_before)} / after "
              f"{' '.join(load_after)} (CLAUDE.md: check load before "
              "timing anything).", "",
              "| query | best s | all samples | rows |",
              "|---|---|---|---|"]
        for name, r in results.items():
            md.append(f"| {name} | {r['best']} | {r['all']} | {r['rows']} |")
        md.append("")
        write_preserving(args.out, "\n".join(md))
    return out


if __name__ == "__main__":
    run()
