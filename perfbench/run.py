"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload replay_tail --seed 1 --seconds 25 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
into ``.perfbench/`` under the root, the engine is driven only through
its public functions on ``local[nproc]``, and every output is checked
against an independent DuckDB answer outside the timed region. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the run measures once
untraced, then again with spans and a Spark event log, and reports the
per-layer ones (the trace itself is kept under ``.perfbench/trace/`` for
``perfbench/trace_report.py``). The line before it carries the same run's
named detail metrics and the host context. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _process_age() -> float:
    """Seconds since this process started (Linux ``/proc``)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _jvm_peak_rss_mb(spark) -> float:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is None:
        return 0.0
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        return 0.0
    return 0.0


def _cpu_ticks() -> list[int]:
    """Aggregate CPU tick counters (user ... steal) from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _host() -> dict:
    import pyarrow
    import pyspark

    from perfbench.session import cores

    return {"nproc": cores(), "loadavg": os.getloadavg(), "cpu_ticks": _cpu_ticks(),
            "python": platform.python_version(), "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__}


def _steal_share(start: dict, end: dict) -> float:
    """Share of the host's CPU time stolen by the hypervisor during the run."""
    delta = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def end_to_end(wl, setup_s: float) -> tuple:
    from perfbench.trace import NullTracer

    wl.prepare()
    out = wl.run(NullTracer(), check=True)
    units = {"events_per_s": "ev/s", "op_mean_s": "s"}
    metrics = {"setup_s": (setup_s, "s")}
    metrics.update({k: (v, units[k]) for k, v in wl.summary(out).items()})
    return out, metrics, wl.detail(out)


def traced(wl, work: Path, trace_dir: Path) -> tuple:
    """Three passes over the same inputs: a checked pass on the cold
    session, then an untraced and a traced pass, each on a fresh session
    in the same JVM, so the overhead compares like with like."""
    from perfbench.session import build_session
    from perfbench.trace import NullTracer, Tracer, save
    from perfbench.trace_report import per_layer

    load_start = os.getloadavg()[0]
    wl.prepare()
    checked = wl.run(NullTracer(), check=True)
    wl.spark.stop()

    wl.spark = spark = build_session(work)
    plain = wl.run(NullTracer(), check=False)
    spark.stop()

    shutil.rmtree(trace_dir, ignore_errors=True)
    wl.spark = spark = build_session(work, event_log_dir=trace_dir / "eventlog")
    tracer = Tracer(spark)
    with tracer.install(), tracer.span(wl.name):
        out = wl.run(tracer, check=False)
    rss = _jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    spark.stop()
    meta = {"workload": wl.name, "seed": wl.seed, "timed_s": out.counts["timed_s"],
            "untraced_timed_s": plain.counts["timed_s"], "counts": out.counts,
            "samples": out.samples, "peak_rss_mb": rss,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg()[0]}
    save(trace_dir, tracer.spans, meta)
    metrics, detail = per_layer(trace_dir)
    return checked, metrics, detail, spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("kafka_connect_converter_json_spark", "__spark_entry__.py")
               if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: the engine is not in {ROOT} (missing {missing})", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.session import build_session, first_python_job, stop_jvm
    from perfbench.workloads import WORKLOADS, scale_for

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]

    base = ROOT / ".perfbench"
    work = base / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    host_start = _host()
    spark = build_session(work)
    try:
        first_python_job(spark)
        setup_s = _process_age()
        wl = wl_cls(spark, work, args.seed, scale_for(args.seconds))
        if args.trace:
            trace_dir = base / "trace" / f"{args.workload}-seed{args.seed}"
            out, metrics, detail, spark = traced(wl, work, trace_dir)
            detail["trace_dir"] = str(trace_dir.relative_to(ROOT))
        else:
            out, metrics, detail = end_to_end(wl, setup_s)
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    host_end = _host()
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail,
                      "problems": out.problems, "host_start": host_start, "host_end": host_end,
                      "steal_share": _steal_share(host_start, host_end)}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
