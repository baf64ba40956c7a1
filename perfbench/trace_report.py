"""Trace reader: turn a traced run into a per-span table and per-layer metrics.

    python3 perfbench/trace_report.py .perfbench/trace/replay_tail-seed1

A traced run (``run.py --trace 1``) leaves ``spans.json`` and the plain
Spark event log in its trace directory. One row per span name gives the
call count, wall time, self time (wall minus the part of it covered by
child spans), and the task time, jobs, shuffle, spill, and bytes and
files written by the jobs each span launched itself. Jobs that carried
no span's job group are the ``(unattributed)`` row. The tracing overhead
is the traced pass's timed wall against the untraced pass's, same run.
"""

from __future__ import annotations

import statistics
import sys
from collections import defaultdict
from pathlib import Path

if __package__ in (None, ""):
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.trace import METRIC_KEYS, by_name, load, span_table, unattributed  # noqa: E402

#: spans that compile or plan on the driver rather than run the data
PLAN_SPANS = {"observe_envelope_samples_pruned", "infer_envelope_schemas_batch",
              "SchemaRegistry.observe", "convert_events", "BucketedMergeSink.open",
              "avro_convert_stream", "plan"}


def _inclusive(spans: list[dict], table: dict) -> dict[int, dict]:
    """Per span id, its own plus all descendants' task metrics and jobs."""
    kids = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append(s["id"])
    memo: dict[int, dict] = {}

    def total(sid: int) -> dict:
        if sid not in memo:
            row = table[sid]
            acc = {k: row[k] for k in (*METRIC_KEYS, "jobs", "files_written")}
            for c in kids[sid]:
                for k, v in total(c).items():
                    acc[k] += v
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: total(s["id"]) for s in spans}


def per_layer(trace_dir: Path) -> tuple[dict, dict]:
    """(gated per-layer metrics as {name: (value, unit)}, named detail)."""
    spans, meta, log = load(trace_dir)
    table = span_table(spans, log)
    incl = _inclusive(spans, table)
    names = by_name(table)
    un = unattributed(log)
    task_total = sum(m["task_s"] for m in log["metrics"].values())
    jobs_total = sum(log["jobs"].values())
    overhead = meta["timed_s"] / meta["untraced_timed_s"] - 1.0
    ids = {s["id"]: s for s in spans}
    plan_s = sum(s["end"] - s["start"] for s in spans if s["name"] in PLAN_SPANS
                 and (s["parent"] is None or ids[s["parent"]]["name"] not in PLAN_SPANS))

    def tot(key):
        return sum(m[key] for m in log["metrics"].values())

    metrics = {
        "task_s": (task_total, "s"),
        "plan_s": (plan_s, "s"),
        "jobs_per_op": (jobs_total / meta["counts"]["ops"], "count"),
        "shuffle_bytes": (tot("shuffle_write_bytes"), "bytes"),
        "input_bytes": (tot("input_bytes"), "bytes"),
        "bytes_written": (tot("bytes_written"), "bytes"),
        "gc_s": (tot("gc_s"), "s"),
        "unattributed_share": (un["task_s"] / task_total if task_total else 0.0, "ratio"),
        "trace_overhead": (overhead, "ratio"),
        "peak_rss_mb": (meta["peak_rss_mb"], "MB"),
        "loadavg_start": (meta["loadavg_start"], "load"),
        "loadavg_end": (meta["loadavg_end"], "load"),
    }

    def row(name, key, default=0.0):
        return names.get(name, {}).get(key, default)

    def incl_sum(prefix, key):
        return sum(incl[s["id"]][key] for s in spans if s["name"].startswith(prefix))

    detail = {
        "driver.peak_rss_mb": meta["peak_rss_mb"],
        "host.loadavg_start": meta["loadavg_start"],
        "host.loadavg_end": meta["loadavg_end"],
        "trace.unattributed_task_s": un["task_s"],
        "trace.overhead": overhead,
    }
    samples = meta.get("samples", {})
    if meta["workload"] == "replay_tail":
        observe = ("observe_envelope_samples_pruned", "infer_envelope_schemas_batch")
        epochs = meta["counts"]["ops"]
        commits = samples.get("commit_s", [])
        q = max(1, len(commits) // 4)
        detail.update({
            "ingest.observe_s": sum(row(n, "wall_s") for n in observe),
            "ingest.observe_jobs": sum(row(n, "jobs", 0) for n in observe),
            "ingest.registry_widenings": sum(1 for s in spans if s.get("widened")),
            "spark.jobs_per_epoch": (incl_sum("replay.", "jobs") + incl_sum("tail.commit", "jobs")
                                     + un["jobs"]) / epochs,
            "sink.merge_s": row("BucketedMergeSink.merge", "self_s"),
            "sink.merge_task_s": row("BucketedMergeSink.merge", "task_s"),
            "sink.merge_shuffle_bytes": row("BucketedMergeSink.merge", "shuffle_write_bytes"),
            "sink.merge_spill_bytes": row("BucketedMergeSink.merge", "spill_bytes"),
            "sink.bytes_written": row("BucketedMergeSink.merge", "bytes_written")
            + row("BucketedMergeSink.compact", "bytes_written"),
            "sink.files_written": row("BucketedMergeSink.merge", "files_written"),
            "sink.compact_s": row("BucketedMergeSink.compact", "wall_s"),
            "sink.compact_bytes_rewritten": row("BucketedMergeSink.compact", "bytes_written"),
            "sink.manifest_bytes": meta["counts"]["manifest_bytes"],
            "sink.open_s": row("BucketedMergeSink.open", "wall_s") / max(1, row("BucketedMergeSink.open", "count", 1)),
            "sink.commit_growth": (statistics.median(commits[-q:]) / statistics.median(commits[:q])
                                   if commits else 1.0),
            "sink.read_key_s": statistics.median(
                [s["end"] - s["start"] for s in spans if s["name"] == "lookup"]),
            "sink.pending_delta_epochs_at_lookup": statistics.mean(
                samples.get("pending_delta_epochs_at_lookup", [0.0])),
        })
    else:
        detail.update({
            "decode.avro_task_s": incl_sum("decode.avro", "task_s"),
            "decode.reference_task_s": incl_sum("decode.reference", "task_s"),
            **{f"{n}_s": r["wall_s"] for n, r in names.items() if n.startswith("query.")},
        })
    return metrics, detail


def format_table(trace_dir: Path) -> str:
    spans, meta, log = load(trace_dir)
    table = span_table(spans, log)
    names = by_name(table)
    un = unattributed(log)
    cols = ("count", "wall_s", "self_s", "task_s", "jobs", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "bytes_written", "files_written")
    lines = [f"{'span':<34}" + "".join(f"{c:>20}" for c in cols)]
    order = sorted(names, key=lambda n: -names[n]["wall_s"])
    for n in order:
        r = names[n]
        lines.append(f"{n:<34}" + "".join(_fmt(r.get(c, 0)) for c in cols))
    un_row = {**un, "count": 0, "wall_s": 0.0, "self_s": 0.0, "files_written": 0}
    lines.append(f"{'(unattributed)':<34}" + "".join(_fmt(un_row.get(c, 0)) for c in cols))
    overhead = meta["timed_s"] / meta["untraced_timed_s"] - 1.0
    lines.append("")
    lines.append(f"workload {meta['workload']} seed {meta['seed']}: traced timed wall "
                 f"{meta['timed_s']:.3f} s, untraced {meta['untraced_timed_s']:.3f} s, "
                 f"tracing overhead {overhead:+.1%}")
    return "\n".join(lines)


def _fmt(v) -> str:
    return f"{v:>20.3f}" if isinstance(v, float) else f"{v:>20}"


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    print(format_table(Path(sys.argv[1])))
