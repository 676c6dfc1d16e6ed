"""Benchmark of the join + tiling engine: one named workload, one seed.

    python3 perfbench/run.py --workload image_join --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the
end-to-end metrics, with --trace 1 the per-layer metrics. A readable
report, loadavg and nproc go to stderr; every sample, span and digest
goes to perfbench/.work/results/. See perfbench/README.md.

Each sample is one job run as the first engine job of a fresh JVM,
after three timed session set-ups (the cold one and two restarts): the
cost a spark-submit batch run pays. A run takes one sample, and another,
each in a new JVM, only while it should end within --seconds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")
WORKLOADS = ("image_join", "osm_extract")
ITEMS = {"image_join": "probe images joined",
         "osm_extract": "PBF elements round-tripped"}
# Task slots. On a shared 4-vCPU VM, local[2] ran every job as fast as
# local[4] (the engine's fixed per-call cost is driver-side) and leaves
# vCPUs to the JIT compiler, the GC and the Python workers, so a job
# does not compete with itself.
MAX_CORES = 2
DRIVER_MEM = "3g"
SETUPS = 3


T0 = time.perf_counter()


def log(*a):
    print(f"[{time.perf_counter() - T0:6.1f}s]", *a, file=sys.stderr,
          flush=True)


def _cores() -> int:
    return max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))


def _spark_conf(ev_dir: str | None) -> dict:
    from perfbench.trace import EVENT_LOG_CONF
    conf = {"spark.driver.memory": DRIVER_MEM,
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")}
    if ev_dir:
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = "file://" + ev_dir
    return conf


def _warm(batches):
    # imports the engine's kernels in each fresh Python worker
    import osm_io_spark.operators.spatial_join  # noqa: F401
    import osm_io_spark.operators.tiles  # noqa: F401
    for b in batches:
        yield b


class Engine:
    """One JVM: timed session set-ups (get_spark, ensure_shipped, and a
    first Python worker on every core that imports the engine's
    kernels), then shut down with every process it started. Old
    sessions stay referenced so a new SparkContext never reuses the id
    ensure_shipped keys its cache on."""

    def __init__(self, ev_dir: str | None):
        self.ev_dir = ev_dir
        self.old = []
        self.spark = None
        self.setups = []       # (start_s, ship_s, worker_warm_s)

    def setup(self):
        from osm_io_spark.queries import ensure_shipped
        from osm_io_spark.session import get_spark
        if self.spark is not None:
            self.spark.stop()
            self.old.append(self.spark)
        n = _cores()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{n}]",
                          shuffle_partitions=2 * n,
                          extra_conf=_spark_conf(self.ev_dir))
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        ensure_shipped(spark)
        t2 = time.perf_counter()
        spark.range(0, 100 * n, 1, n).mapInPandas(_warm, "id long").collect()
        t3 = time.perf_counter()
        self.setups.append((t1 - t0, t2 - t1, t3 - t2))
        log(f"set-up {len(self.setups)}: {t3 - t0:.2f}s")
        self.spark = spark
        return spark

    def shutdown(self):
        """Stop Spark and the JVM, then every process left in our tree;
        wait for each. A later Engine launches a fresh JVM."""
        from pyspark import SparkContext
        from perfbench.trace import _tree_pids
        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 20
        while time.time() < deadline:
            left = [p for p in _tree_pids(os.getpid()) if p != os.getpid()]
            if not left:
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGTERM if time.time() < deadline - 10
                            else signal.SIGKILL)
                    os.waitpid(p, os.WNOHANG)
                except (ProcessLookupError, ChildProcessError):
                    pass
            time.sleep(0.5)


def _job(wl, spark, tr, d, meta, tag, checker):
    """One job, timed, with the process tree's CPU and peak RSS; then
    its output checks (outside the timed region)."""
    from perfbench import workloads as W
    from perfbench.trace import TreeSampler
    job_dir = os.path.join(WORK, "jobs", f"{os.getpid()}-{tag}")
    first_span = len(tr.spans)
    with TreeSampler() as s:
        t0 = time.perf_counter()
        try:
            with tr.span("job"):
                items, res = getattr(W, wl)(spark, tr, d, job_dir, meta)
        except Exception:
            # a job that raises counts as failed; the run goes on
            items, res = 0, None
            log(traceback.format_exc())
        wall = time.perf_counter() - t0
    if res is None:
        ok, info, res = False, "job raised", {}
    else:
        try:
            ok, info = checker(res)
        except Exception:
            log(traceback.format_exc())
            ok, info = False, "check raised"
    shutil.rmtree(job_dir, ignore_errors=True)
    calls = {x["name"]: x["end"] - x["start"] for x in tr.spans[first_span + 1:]}
    log(f"[{tag}] wall {wall:.3f}s cpu {s.cpu_s:.2f}s "
        f"rss {s.peak_rss / 2**20:.0f}MB check={'ok' if ok else info}\n    "
        + " ".join(f"{k}={v:.2f}" for k, v in calls.items()))
    return {"wall_s": wall, "cpu_s": s.cpu_s,
            "peak_rss_mb": s.peak_rss / 2**20, "items": items, "calls": calls,
            "counts": {k: v for k, v in res.items() if isinstance(v, int)},
            "ok": ok, "check": info, "tag": tag, "res": res}


def measure(wl, d, meta, checker, budget, ev_dir=None, after=None):
    """Samples for ``budget`` seconds, each the first job of a fresh JVM
    set up SETUPS times: at least one, and another only while it should
    end within the budget. ``after(spark)`` runs in the last JVM after
    its job. Returns (samples, set-ups, spans)."""
    from perfbench.trace import Tracer
    samples, setups, spans = [], [], []
    t_end = time.perf_counter() + budget
    while True:
        t0 = time.perf_counter()
        eng = Engine(ev_dir)
        try:
            for _ in range(SETUPS):
                spark = eng.setup()
            tr = Tracer(spark.sparkContext if ev_dir else None)
            tag = f"{'traced' if ev_dir else 'timed'}-{len(samples) + 1}"
            samples.append(_job(wl, spark, tr, d, meta, tag, checker))
            spans += tr.self_times()
            now = time.perf_counter()
            done = now + (now - t0) > t_end
            if done and after is not None:
                after(spark)
        finally:
            eng.shutdown()
        setups += eng.setups
        if done:
            return samples, setups, spans


def _med(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file the run writes stays inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    sys.path.insert(0, ROOT)
    import osm_io_spark  # noqa: F401  (fails fast outside a checkout)
    for sub in ("tmp", "inputs", "jobs", "results", "eventlog"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    from perfbench import checks as CK
    from perfbench import gen
    from perfbench import layers as L
    from perfbench.trace import loadavg, parse_event_logs, steal_s

    wl = args.workload
    d, meta = gen.inputs(wl, args.seed, os.path.join(WORK, "inputs"))
    log(f"inputs ready in {d}")
    checker = CK.checker(wl, d, meta)
    log("oracles ready")
    load0, steal0 = loadavg(), steal_s()

    # the JVM writes to fd 1; keep stdout for the result line only
    out_fd = os.dup(1)
    os.dup2(2, 1)
    if args.trace:
        untraced, setups, _ = measure(wl, d, meta, checker, args.seconds / 2)
        ev_dir = os.path.join(WORK, "eventlog", str(os.getpid()))
        os.makedirs(ev_dir, exist_ok=True)
        counts = {}
        traced, _, spans = measure(
            wl, d, meta, checker, args.seconds / 2, ev_dir,
            after=lambda spark: counts.update(L.layer_counts(wl, spark, d)))
        jobs = untraced + traced
    else:
        jobs, setups, _ = measure(wl, d, meta, checker, args.seconds)
        untraced = jobs
    load1, steal = loadavg(), steal_s() - steal0

    failed = sum(not j["ok"] for j in jobs)
    walls = [j["wall_s"] for j in untraced]
    report = {"workload": wl, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "nproc": os.cpu_count(),
              "cores_used": _cores(), "loadavg_before": load0,
              "loadavg_after": load1, "steal_s": steal, "setups": setups,
              "jobs": [{k: v for k, v in j.items() if k != "res"}
                       for j in jobs]}
    if args.trace:
        groups = parse_event_logs(ev_dir)
        shutil.rmtree(ev_dir)  # parsed: keep the checkout small
        metrics, shares = L.per_layer(traced, spans, groups, counts, setups,
                                      walls)
        report["spans"] = spans
        report["shares"] = shares
        units = {k: L.unit(k) for k in metrics}
    else:
        metrics = {
            "wall_s": _med(walls),
            "cpu_s": _med([j["cpu_s"] for j in jobs]),
            "setup_s": _med([sum(s) for s in setups]),
            "items_per_s": _med([j["items"] / j["wall_s"] for j in jobs]),
        }
        units = {"wall_s": "s", "cpu_s": "s", "setup_s": "s",
                 "items_per_s": "1/s"}
    report["metrics"] = metrics
    report["digest"] = jobs[0]["res"].get("digest")
    name = f"{wl}-s{args.seed}-t{args.trace}-{os.getpid()}.json"
    with open(os.path.join(WORK, "results", name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)

    log(f"== {wl} seed={args.seed} trace={args.trace} nproc={os.cpu_count()} "
        f"cores={_cores()} loadavg {load0} -> {load1} steal {steal:.1f}s")
    log(f"   items = {ITEMS[wl]}; jobs attempted {len(jobs)}, failed "
        f"{failed}, failed_frac {failed / len(jobs):.3f}; "
        f"checks {'PASS' if not failed else 'FAIL'}; digest {report['digest']}")
    for k, v in metrics.items():
        log(f"   {k:32s} {v:14.4f} {units[k]}")
    if args.trace:
        for k, v in report["shares"].items():
            log(f"   share of traced wall  {k:18s} {100 * v:5.1f}%")
    line = json.dumps({"correct": failed == 0, "attempted": len(jobs),
                       "failed": failed,
                       "metrics": {k: {"value": v, "unit": units[k]}
                                   for k, v in metrics.items()}})
    os.write(out_fd, (line + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
