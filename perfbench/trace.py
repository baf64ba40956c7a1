"""Spans around the engine's public calls, and the Spark event-log join.

A span records name, start, end and parent, and is kept in memory until
the run ends. While a span is open its thread carries a Spark job group
named for it, so every job the span launches can be found again in the
session's event log; ``span_table`` joins the log's task metrics back
to the spans by that group. Jobs launched from threads the benchmark does
not wrap (the sink's stats thread) carry no group and are reported as
unattributed, never assigned to a span by guesswork.

``NullTracer`` is what the end-to-end run uses: the same call sites, no
job groups, no event log, nothing recorded.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from pathlib import Path

GROUP_PREFIX = "perfbench-"


class NullTracer:
    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        yield {}


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._open: dict[int, int] = {}  # thread id -> innermost open span id

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        # a span opened on a thread with no span of its own (the ingest
        # prefetch pool) hangs under the innermost span of the main thread
        parent = stack[-1] if stack else self._open.get(threading.main_thread().ident)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name)
        stack.append(sid)
        self._open[threading.get_ident()] = sid
        rec = {"id": sid, "name": name, "parent": parent, "thread": threading.get_ident(), **attrs}
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self._open[threading.get_ident()] = stack[-1] if stack else None
            self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self.sc.setLocalProperty("spark.job.description", prev_desc)
            with self._lock:
                self.spans.append(rec)

    def install(self):
        """Wrap the engine's public calls in spans for the duration of a
        block; the sink's write spans also count the files they add."""
        from kafka_connect_converter_json_spark.operators import avro_extract as avro_mod
        from kafka_connect_converter_json_spark.plans import registry as reg_mod
        from kafka_connect_converter_json_spark.streaming import ingest as ingest_mod
        from kafka_connect_converter_json_spark.streaming import sink as sink_mod

        stack = contextlib.ExitStack()
        tracer = self

        def patch(owner, attr, wrapper):
            orig = owner.__dict__[attr]
            setattr(owner, attr, wrapper(orig))
            stack.callback(setattr, owner, attr, orig)

        def plain(name):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(*a, **k):
                    with tracer.span(name):
                        return fn(*a, **k)
                return inner
            return wrap

        def observe(fn):
            @functools.wraps(fn)
            def inner(self, name, schema):
                with tracer.span("SchemaRegistry.observe") as rec:
                    existed = self.get(name) is not None
                    out = fn(self, name, schema)
                    rec["widened"] = bool(existed and out[1])
                    return out
            return inner

        def sink_write(name):
            def wrap(fn):
                @functools.wraps(fn)
                def inner(self, *a, **k):
                    before = _files(self.root)
                    with tracer.span(name) as rec:
                        out = fn(self, *a, **k)
                    rec["files_written"] = len(_files(self.root) - before)
                    return out
                return inner
            return wrap

        def sink_open(cm):
            fn = cm.__func__

            @functools.wraps(fn)
            def inner(cls, *a, **k):
                with tracer.span("BucketedMergeSink.open"):
                    return fn(cls, *a, **k)
            return classmethod(inner)

        patch(ingest_mod, "observe_envelope_samples_pruned", plain("observe_envelope_samples_pruned"))
        patch(ingest_mod, "infer_envelope_schemas_batch", plain("infer_envelope_schemas_batch"))
        patch(ingest_mod, "convert_events", plain("convert_events"))
        patch(avro_mod, "avro_convert_stream", plain("avro_convert_stream"))
        patch(reg_mod.SchemaRegistry, "observe", observe)
        patch(sink_mod.BucketedMergeSink, "merge", sink_write("BucketedMergeSink.merge"))
        patch(sink_mod.BucketedMergeSink, "compact", sink_write("BucketedMergeSink.compact"))
        patch(sink_mod.BucketedMergeSink, "read_key", plain("BucketedMergeSink.read_key"))
        patch(sink_mod.BucketedMergeSink, "open", sink_open)
        return stack


def _files(root: str) -> set[str]:
    out = set()
    for d, _subdirs, names in os.walk(root):
        out.update(os.path.join(d, n) for n in names if not n.startswith((".", "_")))
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------

METRIC_KEYS = ("task_s", "gc_s", "tasks", "input_bytes", "shuffle_read_bytes",
               "shuffle_write_bytes", "spill_bytes", "bytes_written")


def read_event_log(log_dir: Path) -> dict:
    """Task metrics per job group, and job counts per group, from the one
    plain-JSON event log in ``log_dir``."""
    logs = sorted(p for p in Path(log_dir).iterdir() if p.is_file())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    job_group: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    per_group: dict[str | None, dict] = defaultdict(lambda: dict.fromkeys(METRIC_KEYS, 0))
    jobs: dict[str | None, int] = defaultdict(int)
    with open(logs[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                job_group[ev["Job ID"]] = group
                jobs[group] += 1
                for s in ev.get("Stage IDs", []):
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if not m:
                    continue
                group = job_group.get(stage_job.get(ev["Stage ID"]))
                agg = per_group[group]
                agg["tasks"] += 1
                agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                agg["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                agg["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics", {})
                agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                agg["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                agg["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                agg["bytes_written"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    return {"metrics": dict(per_group), "jobs": dict(jobs)}


def span_table(spans: list[dict], log: dict) -> dict:
    """Per span id: wall, self (wall minus the union of its children's
    intervals) and the task metrics of the jobs it launched itself."""
    children: dict[int, list[dict]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)
    out = {}
    for s in spans:
        wall = s["end"] - s["start"]
        covered, cur_end = 0.0, s["start"]
        for c in sorted(children[s["id"]], key=lambda c: c["start"]):
            lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        group = f"{GROUP_PREFIX}{s['id']}"
        row = {"name": s["name"], "parent": s["parent"], "wall_s": wall, "self_s": wall - covered,
               "jobs": log["jobs"].get(group, 0),
               "files_written": s.get("files_written", 0)}
        row.update(log["metrics"].get(group, dict.fromkeys(METRIC_KEYS, 0)))
        out[s["id"]] = row
    return out


def unattributed(log: dict) -> dict:
    """Task metrics of jobs that carried no benchmark span group."""
    total = dict.fromkeys(METRIC_KEYS, 0)
    jobs = 0
    for group, m in log["metrics"].items():
        if group is None or not group.startswith(GROUP_PREFIX):
            for k in METRIC_KEYS:
                total[k] += m[k]
    for group, n in log["jobs"].items():
        if group is None or not group.startswith(GROUP_PREFIX):
            jobs += n
    total["jobs"] = jobs
    return total


def by_name(table: dict) -> dict[str, dict]:
    """Collapse the per-span table to one row per span name."""
    rows: dict[str, dict] = {}
    for r in table.values():
        agg = rows.setdefault(r["name"], {"count": 0})
        agg["count"] += 1
        for k, v in r.items():
            if k not in ("name", "parent"):
                agg[k] = agg.get(k, 0) + v
    return rows


def save(out_dir: Path, spans: list[dict], meta: dict) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / "spans.json").write_text(json.dumps({"spans": spans, "meta": meta}))


def load(out_dir: Path) -> tuple[list[dict], dict, dict]:
    doc = json.loads((out_dir / "spans.json").read_text())
    return doc["spans"], doc["meta"], read_event_log(out_dir / "eventlog")
