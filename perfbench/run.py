"""Repository benchmark: end-to-end and per-layer numbers for the engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload adsb_dashboard --seed 1 --seconds 16 --trace 0

Workloads (closed loop: one client, the next operation starts only after
the previous one returns, like ``foreachBatch`` and a waiting dashboard):

- ``adsb_dashboard``: a multi-day ADS-B store built through
  ``AdsbEngine.ingest_batch`` and ``run_maintenance``; each cycle commits a
  1,000-row ``local`` batch and then refreshes six dashboard panels from a
  pool of ``nproc`` threads.
- ``curation_funnel``: 1,000-document batches with injected exact and near
  duplicates through ``CurationIngest.process_batch`` with every store on,
  each followed by one ``search`` probe for the batch's newest documents.
- ``adsb_ingest``: scraper batches for all four sources at their flush caps
  through ``AdsbEngine.ingest_batch``. Runnable by hand; it is not in
  ``BENCHMARK.json`` because its runs do not fit the run budget next to the
  other two.

The seed only drives the generators; the engine sees generated inputs.
Every workload checks its outputs (DuckDB over the written parquet, or the
engine's own ledger) and counts a failing check as a failed operation.

End-to-end metrics (one set for every workload):

- ``op_p50_s`` / ``op_tail_s``: the operation's median and tail latency.
  The operation is a dashboard refresh (``register_views`` plus the six
  panels, 5 s budget) or one ``process_batch``. The tail is the highest
  percentile with ten samples beyond it, or the maximum below eleven
  samples; the run prints which.
- ``visible_p50_s``: from handing a write to the engine until a read
  returns it: the trickle batch in ``nearest_local`` (15 s budget), or the
  batch's probe documents in ``search``.
- ``rows_per_s``: rows committed per second of operation time (trickle
  rows, or documents in).

These four are scaled to a reference machine speed: the run times a fixed
Spark job mix that runs none of the engine's code (the canary) after the
warm-up and after the timed loop, and multiplies timings by
``CANARY_REF_S / canary``. The values as measured are printed too.
- ``setup_s``: process start to the first timed operation: JVM start,
  input generation, store build, maintenance and an untimed warm-up.

``--trace 0`` prints these; ``--trace 1`` wraps the public layer calls in
spans, attributes Spark jobs to them and prints the per-layer metrics,
with the tracing overhead against earlier untraced runs of the workload.
The last stdout line is one JSON object. Spans and the full layer report
are written under ``.perfbench_work/traces/``. Which layer should move
which end-to-end metric:

- ``layer.write_s``, ``tables.*`` write spans, ``pipeline.process_batch``:
  ``visible_p50_s`` on adsb_dashboard; flat on curation_funnel.
- ``layer.read_s``, ``engine.register_views``, ``tables.read_*``,
  ``panel.<panel>.build``/``.exec``, ``store.*`` shape: ``op_*`` on
  adsb_dashboard; flat on curation_funnel.
- ``engine.run_maintenance_s``: ``setup_s`` on adsb_dashboard.
- ``curation.*`` (stage walls, drop fractions per gate, live segments,
  search): ``op_*`` and ``rows_per_s`` on curation_funnel; flat on
  adsb_dashboard.
- ``spark.*`` per operation (jobs, stages, tasks, executor run and CPU
  time, GC, shuffle bytes, Python-worker time, task concurrency, time with
  no job running): ``op_p50_s`` on both.

The run sets its own environment before the JVM starts: ``nproc`` Spark
cores, a driver heap sized to the host, the repository root on
``PYTHONPATH`` (Python UDF workers import the package), and Spark's
scratch and temp directories under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Names and units of the metrics in the result line. Every workload
# defines its operation, its write-to-visible interval and its rows (see
# the workload modules).
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "visible_p50_s": "s",
    "rows_per_s": "1/s",
}
PER_LAYER = {
    "layer.write_s": "s",
    "layer.read_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.task_concurrency": "ratio",
    "spark.no_job_s": "s",
    "machine.canary_s": "s",
}


def _host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_mem() -> str:
    """A quarter of physical memory, capped at 4 GB: the box is shared and
    has no swap, so the engine's 16 GB default would risk the OOM killer."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(4096, total_kb // 1024 // 4))}m"


def _prepare_env(run_dir: Path) -> None:
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(_host_cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = _driver_mem()
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(run_dir / "warehouse")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # generated scrape times are naive UTC, as the engine's session is
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path.insert(0, str(ROOT))


def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it; below
    eleven samples no such percentile exists and the maximum is used."""
    n = len(values)
    if n < 11:
        return max(values), f"p100 of n={n}"
    pct = 100 * (1 - 10 / n)
    q = statistics.quantiles(values, n=1000, method="inclusive")
    return q[int(pct * 10) - 1], f"p{pct:.1f} of n={n}"


def peak_rss_mb(spark) -> float:
    """Peak RSS of the driver JVM plus this Python process."""
    import resource

    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


class Context:
    """What a workload gets besides its inputs: the session, its run
    length, a scratch directory, the tracer (None when untraced) and a
    hook that marks the end of set-up."""

    def __init__(self, spark, seconds: float, run_dir: Path, tracer):
        self.spark = spark
        self.seconds = seconds
        self.run_dir = run_dir
        self.tracer = tracer
        self.setup_s: float | None = None

    def span(self, name: str, parent: int | None = None):
        """A traced span, or nothing when the run is untraced."""
        return self.tracer.span(name, parent) if self.tracer else contextlib.nullcontext()

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START
        self.canary_s = [canary(self.spark)]


# The canary's time on the 4-core, 15 GB VM this benchmark was written on,
# when that machine was quiet: the reference speed timings are scaled to.
CANARY_REF_S = 0.7


def canary(spark) -> float:
    """Seconds for a fixed mix of small Spark jobs that run none of the
    engine's code: how fast this machine is right now. Measured after the
    warm-up and again after the timed loop."""

    def job():
        spark.range(0, 3_000_000, 1, 4).selectExpr("sum(hash(id)) AS h").collect()

    for _ in range(3):
        job()
    t = time.perf_counter()
    for _ in range(10):
        job()
    return time.perf_counter() - t


def _load_workload(name: str):
    from perfbench import adsb, curation

    workloads = {
        "adsb_ingest": (adsb.prepare_ingest, adsb.run_ingest),
        "adsb_dashboard": (adsb.prepare_dashboard, adsb.run_dashboard),
        "curation_funnel": (curation.prepare_funnel, curation.run_funnel),
    }
    if name not in workloads:
        raise SystemExit(f"unknown workload {name!r}; choose from {sorted(workloads)}")
    return workloads[name]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / "adsb_clickhouse_spark" / "__init__.py").is_file():
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    _prepare_env(run_dir)
    prepare, workload = _load_workload(args.workload)

    from adsb_clickhouse_spark.session import get_spark

    from perfbench import spans as tr

    # generate the inputs while the JVM starts
    with ThreadPoolExecutor(max_workers=1) as pool:
        starting = pool.submit(get_spark, "perfbench")
        inputs = prepare(args.seed, run_dir)
        spark = starting.result()
    jvm = spark.sparkContext._gateway.proc
    try:
        tracer = tr.Tracer(spark) if args.trace else None
        ctx = Context(spark, args.seconds, run_dir, tracer)
        out = workload(ctx, inputs)
        ctx.canary_s.append(canary(spark))
        rss = peak_rss_mb(spark)
    finally:
        spark.stop()
        # the gateway JVM exits when its stdin closes; wait for it
        jvm.stdin.close()
        jvm.wait(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)

    op_tail, tail_label = tail(out["ops"])
    canary_s = statistics.fmean(ctx.canary_s)
    # timings at the reference machine speed: on a shared 4-core VM the
    # same run was seen to drift by a third within twenty minutes, and the
    # canary tracks that drift
    speed = CANARY_REF_S / canary_s
    e2e = {
        "setup_s": ctx.setup_s,
        "op_p50_s": statistics.median(out["ops"]) * speed,
        "op_tail_s": op_tail * speed,
        "visible_p50_s": statistics.median(out["visible"]) * speed,
        "rows_per_s": out["rows"] / out["busy_s"] / speed,
    }
    print(f"workload {args.workload} seed {args.seed}: {len(out['ops'])} operations, tail = {tail_label}")
    print("  operations (s, as measured): " + " ".join(f"{v:.3f}" for v in out["ops"]))
    print(f"  canary_s = {canary_s:.4f} s (reference {CANARY_REF_S} s): timings below scaled by {speed:.4f}")
    for name, value in e2e.items():
        print(f"  {name} = {value:.4f} {END_TO_END[name]}")
    print("as measured:")
    # peak RSS is printed, not gated: the JVM grows its heap at GC's
    # discretion, so it spreads too far between runs for a bound
    out["named"]["peak_rss_mb"] = (rss, "MB")
    for name, (value, unit) in out["named"].items():
        print(f"  {name} = {value:.4f} {unit}")
    if out["problems"]:
        print("failed checks:")
        for p in out["problems"]:
            print(f"  {p}")

    results_dir = WORK / "results"
    results_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}"
    if args.trace:
        report = tr.finish(out, e2e, results_dir, args.workload)
        report["layers"]["machine.canary_s"] = canary_s
        metrics = {k: {"value": report["layers"][k], "unit": u} for k, u in PER_LAYER.items()}
        trace_dir = WORK / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        (trace_dir / f"{tag}.json").write_text(json.dumps(report, indent=1, default=str))
        print(f"per-layer ({len(report['spans'])} spans, written to {trace_dir / (tag + '.json')}):")
        for name, value in sorted(report["named"].items()):
            print(f"  {name} = {value:.6g}")
        for name, value in sorted(report["overhead"].items()):
            print(f"  overhead.{name} = {value:+.4f}")
    else:
        (results_dir / f"{tag}.json").write_text(json.dumps(e2e))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": not out["problems"],
                "attempted": out["attempted"],
                "failed": out["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
