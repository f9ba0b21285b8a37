#!/usr/bin/env python3
"""Benchmark of the KG-construction pipeline and the graph operators.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 5 --trace 0

Run from the root of a source checkout. One closed-loop client at
``local[<nproc>]`` runs one workload at a time in this process:

1. inputs for ``--seed`` are generated (cached under ``.perfbench/``);
2. set-up, once (``setup_s``): Spark session start with its JVM,
   Python-worker warm-up and the workload's program-side state; each
   process is fresh, so every sample includes the JVM launch;
3. the cold run, the first after set-up: ``cold_s`` is what a
   spark-submit user pays, ``rows_per_s`` its output rows per second
   (triples on the kg workloads), ``peak_rss_mb`` the peak resident
   memory of the JVM and its Python workers, from set-up on;
4. with ``--trace 0``, more runs while less than ``--seconds`` have
   passed since the cold run started (none when the cold run is longer);
   their median is printed as ``wall_s``. With ``--trace 1``, untraced
   and traced runs alternate for ``--seconds``, each traced run between
   two untraced ones, and per-layer metrics replace the end-to-end ones;
   ``trace.untraced_s`` is the steady-state run time.

Every run's outputs are checked. Metric lines go to stdout with their
units; the last line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the metrics named in BENCHMARK.json).
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".perfbench")
KEEP_INPUTS = 24      # seeds whose generated inputs stay cached


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _environment(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and let the workers import the pipeline and this
    benchmark."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    here = os.path.dirname(os.path.abspath(__file__))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, here, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _prune_work() -> None:
    """Remove the scratch directories of benchmark processes that died."""
    for d in glob.glob(os.path.join(STATE, "work-*")):
        if not os.path.exists(f"/proc/{d.rsplit('-', 1)[1]}"):
            shutil.rmtree(d, ignore_errors=True)


def _prune_inputs(cache: str) -> None:
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)),
                     key=os.path.getmtime)
    for old in entries[:-KEEP_INPUTS]:
        shutil.rmtree(old, ignore_errors=True)


def _source_digest() -> str:
    """Digest of the program's sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "generative_ner_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return h.hexdigest()[:16]


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of this machine since boot: steal is time a
    virtual CPU was runnable but the host ran something else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


class Runner:
    """Times, checks and counts the runs of one workload."""

    def __init__(self, wl, nproc: int, work: str):
        self.wl, self.nproc, self.work = wl, nproc, work
        self.attempted = self.failed = 0
        self.fingerprint: str | None = None
        self.loadavg: list[tuple[float, float]] = []
        self.setup_s = 0.0
        self.samples: dict = {}

    def setup(self):
        from sparkstats import start_session, warm_workers

        t0 = time.perf_counter()
        spark = start_session(self.work, self.nproc)
        warm_workers(spark, self.nproc)
        self.wl.setup(spark)
        self.setup_s = time.perf_counter() - t0
        return spark

    def attempt(self, fn) -> tuple[float, float] | None:
        """Reset, run ``fn`` on the clock, check outputs. Returns the
        (epoch start, seconds) of a correct run, None for a failed one."""
        self.attempted += 1
        load = os.getloadavg()[0]
        try:
            self.wl.reset()
            start = time.time()
            t0 = time.perf_counter()
            fn()
            secs = time.perf_counter() - t0
            fp = self.wl.check()
            if self.fingerprint is None:
                self.fingerprint = fp
            elif fp != self.fingerprint:
                raise RuntimeError(f"output fingerprint {fp} != {self.fingerprint}")
        except Exception:  # a failed run is counted, and the loop goes on
            self.failed += 1
            _log(traceback.format_exc())
            return None
        finally:
            self.loadavg.append((load, os.getloadavg()[0]))
        return start, secs


def _end_to_end(runner: Runner, spark, seconds: float) -> tuple[dict, dict]:
    """End-to-end metrics of set-up and the cold run, and the median of
    the runs after it, if ``seconds`` left time for any, for printing."""
    from sparkstats import StatusStore, peak_rss, spark_counters

    store = StatusStore(spark)
    t0 = time.perf_counter()
    cold = runner.attempt(runner.wl.run)
    if cold is None:
        raise RuntimeError("the cold run failed")
    rows = runner.wl.rows()
    walls: list[float] = []
    while time.perf_counter() - t0 < seconds and runner.failed < 2:
        r = runner.attempt(runner.wl.run)
        if r:
            walls.append(r[1])
    rss = peak_rss(spark)
    runner.samples = {"cold": spark_counters(store, cold[0], cold[0] + cold[1]),
                      "wall_s": walls, "rss_mb": rss}
    metrics = {
        "setup_s": runner.setup_s,
        "cold_s": cold[1],
        "rows_per_s": rows / cold[1],
        "peak_rss_mb": rss["total"],
    }
    return metrics, {"wall_s": statistics.median(walls)} if walls else {}


def _median_dicts(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def _per_layer(runner: Runner, spark, seconds: float) -> tuple[dict, object]:
    from sparkstats import (StatusStore, StoragePoller, Tracer, peak_rss,
                            spark_counters)

    store = StatusStore(spark)
    tracer = Tracer()
    runner.attempt(runner.wl.run)  # cold run: compiles and warms the JVM
    plain, traced, counters = [], [], []
    extras: dict = {}
    window: tuple[float, float] | None = None  # of the last untraced run

    def run_plain() -> None:
        nonlocal window
        r = runner.attempt(runner.wl.run)
        if r:
            plain.append(r[1])
            counters.append(spark_counters(store, r[0], r[0] + r[1]))
            window = (r[0], r[0] + r[1])

    def run_traced() -> None:
        def fn() -> None:
            extras.update(runner.wl.traced(tracer))
            if window is not None:
                _check_same_queries(tracer, store, window)

        tracer.run_id += 1
        if runner.attempt(fn):
            traced.append(layer_metrics(
                tracer, tracer.run_id, store, poller, extras))

    # the JVM keeps getting faster for several runs after the cold one, so
    # each traced run sits between two untraced ones
    t_end = time.perf_counter() + seconds
    with StoragePoller(store) as poller:
        run_plain()
        while (time.perf_counter() < t_end or not traced) and runner.failed < 2:
            run_traced()
            run_plain()
    if not plain or not traced:
        raise RuntimeError("no correct traced and untraced run")
    out = {f"spark.{k}": v for k, v in _median_dicts(counters).items()}
    out["spark.peak_rss_mb"] = peak_rss(spark)["total"]
    out.update(_median_dicts(traced))
    out["trace.untraced_s"] = statistics.median(plain)
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_s"]
    runner.samples = {"untraced_s": plain}
    return out, tracer


def _check_same_queries(tracer, store, untraced: tuple[float, float]) -> None:
    """Apart from the counts that force each layer, a traced run must issue
    the untraced run's queries (compared by action: "count", "parquet",
    ...) in the same order, so that its spans time the program's own
    work."""
    def action(q: dict) -> str:
        # the JVM-side call site of a py4j call varies from run to run
        return q["description"].split(" at ")[0]

    spans = tracer.run_spans(tracer.run_id)
    root = next(s for s in spans if s["parent"] is None)
    forced = tracer.forced_in(tracer.run_id)
    got = [action(q) for q in store.queries(root["start"], root["end"])
           if not any(a <= q["submissionTime"] / 1000 <= b for a, b in forced)]
    want = [action(q) for q in store.queries(*untraced)]
    if got != want:
        raise RuntimeError(f"traced run's queries {got} differ from the "
                           f"untraced run's {want}")


# statistics each layer span reports; graph operator spans report _GRAPH
_LAYERS = {
    "canonicalize": ("s", "jobs"),
    "detect": ("s", "python_s"),
    "linking": ("s",),
    "triples": ("s", "shuffle_bytes", "task_skew"),
    "pipeline.sink": ("s",),
    "pipeline.metrics": ("s",),
    "pipeline.ckpt": ("s",),
}
_GRAPH = ("s", "jobs", "shuffle_bytes", "cached_mb")


def layer_metrics(tracer, run_id: int, store, poller, extras: dict) -> dict:
    """Per-layer metrics of one traced run: self time of each layer span,
    and the Spark jobs submitted while that span was the innermost."""
    spans = tracer.run_spans(run_id)
    root = next(s for s in spans if s["parent"] is None)
    owned: dict[int, list] = {}
    for j in store.jobs(root["start"] * 1000, root["end"] * 1000):
        s = tracer.innermost(spans, j["submissionTime"] / 1000) or root
        owned.setdefault(s["id"], []).append(j)
    out = {"trace.wall_s": root["end"] - root["start"], **extras}
    for s in spans:
        if s is root:
            continue
        mine = owned.get(s["id"], [])
        stat = {
            "s": lambda: tracer.self_time(s, spans),
            "jobs": lambda: len(mine),
            "shuffle_bytes": lambda: sum(
                st["shuffleWriteBytes"] for st in store.stages(mine)),
            "task_skew": lambda: store.task_skew(store.stages(mine)),
            "python_s": lambda: store.python_s(
                s["start"] * 1000, s["end"] * 1000),
            "cached_mb": lambda: poller.peak_mb(s["start"], s["end"]),
        }
        for k in _LAYERS.get(s["name"], _GRAPH):
            # the pipeline spans' self time is named pipeline.<span>_s
            name = (f"{s['name']}_s" if s["name"].startswith("pipeline.")
                    and k == "s" else f"{s['name']}.{k}")
            out[name] = stat[k]()
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    _prune_work()
    work = os.path.join(STATE, f"work-{os.getpid()}")
    _environment(work)

    import pyspark

    import workloads
    from sparkstats import stop_session

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(workloads.WORKLOADS)}")
    cache = os.path.join(STATE, "inputs")
    os.makedirs(cache, exist_ok=True)
    data = workloads.input_dir(args.workload, cache, args.seed)
    _prune_inputs(cache)
    nproc = os.cpu_count() or 1
    wl = workloads.WORKLOADS[args.workload](data, work, args.seed)
    runner = Runner(wl, nproc, work)

    steal0, total0 = _cpu_jiffies()
    spark = runner.setup()
    try:
        if args.trace:
            metrics, tracer = _per_layer(runner, spark, args.seconds)
            tracer.dump(os.path.join(
                STATE, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            shown = {}
        else:
            metrics, shown = _end_to_end(runner, spark, args.seconds)
        steal1, total1 = _cpu_jiffies()
        stamp = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
            "loadavg_before_after": runner.loadavg,
            "cpu_steal_frac": (steal1 - steal0) / max(total1 - total0, 1),
            "git_commit": _git_commit(), "source_digest": _source_digest(),
            "pyspark": pyspark.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "inputs": wl.meta, "samples": runner.samples,
        }
    finally:
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)

    names = [m["name"] for m in wanted]
    unknown = sorted(set(metrics) - set(names))
    missing = [n for n in names if n not in metrics]
    if unknown or (missing and not args.trace):
        raise RuntimeError(f"metrics not in BENCHMARK.json: {unknown}; "
                           f"not measured: {missing}")
    print("stamp " + json.dumps(stamp))
    result = {}
    for m in wanted:
        # with --trace 1, a layer the workload does not run reports 0
        value = float(metrics.get(m["name"], 0.0))
        result[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:<34} {value:>16.6f} {m['unit']}")
    shown["failed_frac"] = runner.failed / runner.attempted
    for name, value in shown.items():
        print(f"{name:<34} {value:>16.6f} {'1' if name == 'failed_frac' else 's'}")
    if missing:
        print(f"not run on {args.workload}: {', '.join(missing)}")
    print(json.dumps({"correct": runner.failed == 0,
                      "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
