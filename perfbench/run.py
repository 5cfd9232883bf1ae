"""Run one benchmark workload and print its metrics.

Usage, from the repository root::

    python3 perfbench/run.py --workload build_distinct --seed 1 --seconds 8 --trace 0

Human-readable lines go first; the last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones (see ``perfbench/README.md`` for every metric).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

import host  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# the engine's default 48g heap does not fit a 15 GB host; a small heap also
# keeps the JVM's peak resident set from following GC timing
DRIVER_MEM = "2g"
CPUS = len(os.sched_getaffinity(0))
LAYERS = ("extract", "link", "canonicalize", "materialize", "sink", "graph")


def _engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) and os.path.isdir(
        os.path.join(ROOT, "glasseenterprise_mcp_spark")
    )


def session(extra: dict[str, str]):
    """The engine's session at ``local[CPUS]``, writing only under ``WORK``."""
    from glasseenterprise_mcp_spark.session import get_spark

    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    }
    confs.update(extra)
    spark = get_spark(app_name="perfbench", master=f"local[{CPUS}]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop(spark) -> None:
    """Stop the session, then wait until the JVM and every Python worker
    started under this process have exited."""
    from pyspark import SparkContext

    pids = host.descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(host.alive(p) for p in pids):
        time.sleep(0.1)


def configure_env() -> None:
    """Create ``WORK`` and point the engine, Spark and Python at it."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        # Python workers unpickle the benchmark's own functions by module
        PYTHONPATH=os.pathsep.join(
            p for p in (HERE, ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )


def _declared(kind: str) -> dict[str, str]:
    """Metric name → unit, in the order ``BENCHMARK.json`` lists them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _host_probe(spark) -> dict[str, float]:
    return {"canary_jvm_s": host.canary_jvm_s(spark), "canary_py_s": host.canary_py_s(spark)}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not _engine_present():
        print("perfbench: run from the repository root (engine not found)", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    try:
        return _run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def _run(args) -> int:
    wl = workloads.WORKLOADS[args.workload](os.path.join(WORK, "data"), args.seed)
    t0 = time.perf_counter()
    wl.generate()
    gen_s = time.perf_counter() - t0

    log_dir = os.path.join(WORK, "eventlog")
    t0 = time.perf_counter()
    spark = session(tracing.eventlog_confs(log_dir) if args.trace else {})
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark) if args.trace else None
    if tracer:
        tracer.log_events(False)  # the untraced part of a traced run
    wl.setup(spark)
    setup_s = time.perf_counter() - T_START - gen_s
    print(f"set-up {setup_s:.2f} s: session start {session_s:.2f} s, "
          f"generation {gen_s:.2f} s excluded", file=sys.stderr)

    _host_probe(spark)  # the canaries' own first run is cold
    host_before = _host_probe(spark)
    cpu0 = host.cpu_times()
    samples = wl.timed(args.seconds)
    cpu1 = host.cpu_times()
    host_after = _host_probe(spark)
    rss_mb = host.tree_peak_rss_mb()
    busy, steal = host.busy_and_steal(cpu0, cpu1)

    lat = [s.latency_s for s in samples]
    wall = sum(lat)
    checked = list(samples)
    print(f"workload {wl.name} seed {args.seed}: {len(samples)} timed operations "
          f"in {wall:.2f} s, generation {gen_s:.2f} s")
    tail = stats.tail_percentile(lat, 90)
    if tail is not None:
        print(f"  latency_p90_s = {tail[0]:.4f} s ({tail[1]} of {len(lat)} samples beyond)")
    else:
        print(f"  latency_p90_s not reported: fewer than {stats.MIN_BEYOND} of "
              f"{len(lat)} samples lie beyond it")
    for name in sorted({s.name for s in samples if s.name}):
        xs = [s.latency_s for s in samples if s.name == name]
        print(f"  {name}: median {stats.median(xs):.3f} s over {len(xs)}")
    print(f"  host: canary_jvm_s {host_before['canary_jvm_s']:.3f}/{host_after['canary_jvm_s']:.3f}"
          f" canary_py_s {host_before['canary_py_s']:.3f}/{host_after['canary_py_s']:.3f}"
          f" busy_cores {busy:.2f} steal_pct {steal:.2f}")

    if tracer:
        tracer.log_events(True)
        metrics = wl.trace(tracer)
        stop(spark)
        checked += wl.trace_samples
        metrics.update(_group_metrics(tracing.layer_metrics(log_dir)))
        metrics.update({
            "session.start_s": session_s,
            "host.canary_jvm_s": (host_before["canary_jvm_s"] + host_after["canary_jvm_s"]) / 2,
            "host.canary_py_s": (host_before["canary_py_s"] + host_after["canary_py_s"]) / 2,
            "host.busy_cores": busy,
            "host.steal_pct": steal,
            "trace.overhead_frac": stats.median([s.latency_s for s in wl.trace_samples])
            / stats.median(lat) - 1.0,
        })
    else:
        stop(spark)
        metrics = {
            "setup_s": setup_s,
            "latency_p50_s": stats.median(lat),
            # input turns per second for a build, queries per second for a query
            "throughput_per_s": sum(s.units for s in samples) / wall,
            "peak_rss_mb": rss_mb,
        }

    out = {}
    for name, unit in _declared("per_layer" if args.trace else "end_to_end").items():
        # a layer the workload does not exercise reads 0
        value = float(metrics.get(name, 0.0))
        out[name] = {"value": value, "unit": unit}
        print(f"  {name} = {value:.4f} {unit}")
    failed = sum(not s.ok for s in checked)
    result = {"correct": failed == 0, "attempted": len(checked), "failed": failed, "metrics": out}
    print(json.dumps(result), flush=True)
    return 0


def _group_metrics(by_group: dict[str, dict[str, float]]) -> dict[str, float]:
    """The event log's per-job-group figures, under their metric names."""
    m = {}
    for lay in LAYERS:
        g = by_group.get(lay, {})
        m[f"{lay}.executor_cpu_s"] = g.get("cpu_s", 0.0)
        m[f"{lay}.shuffle_mb"] = g.get("shuffle_mb", 0.0)
        m[f"{lay}.spill_mb"] = g.get("spill_mb", 0.0)
        m[f"{lay}.task_skew"] = g.get("task_skew", 1.0)
    ex = by_group.get("extract", {})
    m["extract.py_worker_s"] = ex.get("py_s", 0.0)
    m["extract.to_python_mb"] = ex.get("py_mb", 0.0)
    return m


if __name__ == "__main__":
    sys.exit(main())
