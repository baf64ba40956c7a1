"""The two workloads: what each times, and how each output is checked.

``replay_tail`` is the CDC write path. A backfill replays the seeded
binlog into a merge-on-read and a copy-on-write sink (the data plane:
parse and extract, the LWW shuffle, bucket and delta writes). The
merge-on-read table then tails the rest of the binlog as a closed loop
with one driver: each micro-batch is one ``ingest(n_epochs=1)`` commit
followed by a reader that opens the table and looks up keys that batch
just wrote (the control plane: per-epoch fixed costs, a registry
widening, manifest rewrites, compaction, and merge-on-read's
pending-delta read amplification).

``decode_query`` is the per-row Python/Arrow boundary and the read
side. Confluent-framed Avro goes through the columnar decoder and JSON
envelopes through the reference ``mapInPandas`` converter, both into the
noop sink; then query leaves from ``__spark_entry__`` run over small
generated tables. It writes no table, so a change to the sink must
leave it flat, and a change at the Python boundary must leave
``replay_tail`` flat.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from . import inputs
from .oracle import CdcOracle, canonical, query_oracle, rollup
from .trace import NullTracer

NUM_BUCKETS = 32
#: seconds the base work of either workload takes on a 4-core host; a run
#: of ``--seconds`` repeats each workload's repeated unit
#: ``round(seconds / NOMINAL_SECONDS)`` times (at least once)
NOMINAL_SECONDS = 25


def scale_for(seconds: float) -> int:
    return max(1, round(seconds / NOMINAL_SECONDS))


@dataclass
class Outcome:
    """What one pass measured, and how many outputs it checked and how many
    of those failed. ``samples`` are the raw timings behind every metric."""

    samples: dict[str, list[float]] = field(default_factory=dict)
    counts: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def verdict(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _target_rows(rows) -> list[tuple]:
    """Sink rows as the oracle's target tuples, content as its sha256."""
    return [(r["repo"], r["path"], r["commit"], r["lang"],
             None if r["content"] is None else hashlib.sha256(r["content"].encode()).hexdigest())
            for r in rows]


class ReplayTail:
    name = "replay_tail"
    #: one large epoch per sink mode: on a 4-core host an epoch carries
    #: about 3 s of fixed driver cost, so fewer, larger epochs keep the
    #: backfill about the data plane. The envelope gains a field from the
    #: first tail micro-batch on, so the registry widens in the first tail
    #: commit, an epoch after one that recorded the narrower schema.
    REPLAY_EVENTS = 40_000
    REPLAY_EPOCHS = 1
    TAIL_BATCH = 5_000
    TAIL_STEPS = 3
    LOOKUPS = 4
    #: fold pending deltas every 4 delta epochs, so the third tail commit
    #: compacts (the sink's default is 8)
    COMPACT_EVERY = 4

    def __init__(self, spark, work: Path, seed: int, scale: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.steps = self.TAIL_STEPS * scale
        self.events = work / "inputs" / "cdc_events"

    def n_events(self) -> int:
        return self.REPLAY_EVENTS + self.TAIL_BATCH * self.steps

    def prepare(self) -> None:
        inputs.write_cdc_events(
            self.spark, self.events, self.seed, self.n_events(), evolve_at=self.REPLAY_EVENTS,
        )
        keys = pq.read_table(str(self.events), columns=["lsn", "repo", "path"])
        rng = np.random.default_rng([self.seed, 3])
        self.probes: list[list[tuple[str, str]]] = []
        for step in range(self.steps):
            lo = self.REPLAY_EVENTS + step * self.TAIL_BATCH
            batch = keys.filter(pc.and_(pc.greater_equal(keys["lsn"], lo),
                                        pc.less(keys["lsn"], lo + self.TAIL_BATCH)))
            picks = rng.choice(batch.num_rows, self.LOOKUPS, replace=False)
            self.probes.append([(batch["repo"][int(i)].as_py(), batch["path"][int(i)].as_py())
                                for i in picks])
        self.oracle = CdcOracle(self.events)
        # one small untimed epoch first, so the merge-on-read backfill, which
        # runs first, does not pay the JVM's first compilation of the ingest
        # path that the copy-on-write backfill after it would then skip
        from kafka_connect_converter_json_spark.streaming.ingest import ingest

        warm = self.work / "sink-warmup"
        ingest(self.spark, self.spark.read.parquet(str(self.events)), str(warm), 2_000,
               n_epochs=1, **self._sink_kwargs())
        shutil.rmtree(warm)

    def _sink_kwargs(self) -> dict:
        return dict(parse_mode="native", num_buckets=NUM_BUCKETS, compact_every=self.COMPACT_EVERY)

    def run(self, tracer, check: bool) -> Outcome:
        from kafka_connect_converter_json_spark.streaming import ingest as ingest_mod
        from kafka_connect_converter_json_spark.streaming import sink as sink_mod

        out = Outcome()
        events = self.spark.read.parquet(str(self.events))
        roots = {m: str(self.work / f"sink-{m}") for m in ("mor", "cow")}
        for root in roots.values():
            shutil.rmtree(root, ignore_errors=True)

        t_start = time.perf_counter()
        for mode, root in roots.items():
            t0 = time.perf_counter()
            with tracer.span(f"replay.{mode}"):
                ingest_mod.ingest(self.spark, events, root, self.REPLAY_EVENTS,
                                  n_epochs=self.REPLAY_EPOCHS, merge_mode=mode,
                                  **self._sink_kwargs())
            out.add(f"replay_{mode}_s", time.perf_counter() - t0)
        replay_s = time.perf_counter() - t_start
        if check:
            want = self.oracle.state(self.REPLAY_EVENTS)
            got = {m: self._state(r) for m, r in roots.items()}
            for mode in roots:
                out.verdict(got[mode] == want, f"replay {mode} state differs from the DuckDB LWW state")
            out.verdict(got["mor"] == got["cow"], "replay MOR state differs from COW")

        mor = roots["mor"]
        lookups: list[tuple[str, str, int, list]] = []
        for step in range(self.steps):
            lo = self.REPLAY_EVENTS + step * self.TAIL_BATCH
            hi = lo + self.TAIL_BATCH
            t0 = time.perf_counter()
            with tracer.span("tail.commit"):
                ingest_mod.ingest(self.spark, events, mor, hi, n_epochs=1,
                                  epoch_offset=self.REPLAY_EPOCHS + step, lsn_lo=lo,
                                  merge_mode="mor", **self._sink_kwargs())
            t1 = time.perf_counter()
            with tracer.span("tail.read"):
                sink = sink_mod.BucketedMergeSink.open(self.spark, mor)
                for repo, path in self.probes[step]:
                    t3 = time.perf_counter()
                    with tracer.span("lookup"):
                        rows = sink.read_key(repo, path).collect()
                    out.add("lookup_s", time.perf_counter() - t3)
                    lookups.append((repo, path, hi, rows))
            t4 = time.perf_counter()
            pending = _pending_delta_epochs(mor)
            out.add("commit_s" if pending else "compaction_commit_s", t1 - t0)
            out.add("commit_all_s", t1 - t0)
            out.add("tail_step_s", t4 - t0)
            out.add("pending_delta_epochs_at_lookup", float(pending))
        out.counts["tail_events"] = self.steps * self.TAIL_BATCH
        out.counts["replay_events"] = 2 * self.REPLAY_EVENTS
        out.counts["ops"] = 2 * self.REPLAY_EPOCHS + self.steps
        out.counts["manifest_bytes"] = os.path.getsize(os.path.join(mor, sink_mod.MANIFEST))
        out.counts["timed_s"] = replay_s + sum(out.samples["tail_step_s"])
        if check:
            want = self.oracle.lookups([(r, p, hi) for r, p, hi, _rows in lookups])
            for repo, path, hi, rows in lookups:
                got = _target_rows(rows)
                exp = want[(repo, path, hi)]
                out.verdict(got == ([] if exp is None else [exp]),
                            f"lookup {repo}/{path} at lsn<{hi} differs from DuckDB")
            end = self.REPLAY_EVENTS + self.steps * self.TAIL_BATCH
            out.verdict(self._state(mor) == self.oracle.state(end),
                        "tail final state differs from the DuckDB LWW state")
        return out

    def _state(self, root: str) -> tuple[int, str]:
        from pyspark.sql import functions as F

        from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink

        rows = BucketedMergeSink.open(self.spark, root).read().select(
            "repo", "path", "commit", "lang", F.sha2("content", 256).alias("content_sha"),
        ).collect()
        return rollup(tuple(r) for r in rows)

    @staticmethod
    def summary(o: Outcome) -> dict:
        """The workload's end-to-end metrics (``events_per_s``: the
        backfill over both sink modes; ``op_mean_s``: one tail step, a
        commit plus the read-back of keys it wrote, compactions included)."""
        replay_s = sum(o.samples["replay_mor_s"]) + sum(o.samples["replay_cow_s"])
        return {
            "events_per_s": o.counts["replay_events"] / replay_s,
            "op_mean_s": statistics.mean(o.samples["tail_step_s"]),
        }

    @staticmethod
    def detail(o: Outcome) -> dict:
        n = ReplayTail.REPLAY_EVENTS
        commits = o.samples.get("commit_s") or o.samples["commit_all_s"]
        return {
            "replay_mor_events_per_s": n / o.samples["replay_mor_s"][0],
            "replay_cow_events_per_s": n / o.samples["replay_cow_s"][0],
            "tail_commit_p50_s": statistics.median(commits),
            "tail_events_per_s": o.counts["tail_events"] / sum(o.samples["commit_all_s"]),
            "lookup_p50_s": statistics.median(o.samples["lookup_s"]),
            "lookup_p90_s": float(np.quantile(o.samples["lookup_s"], 0.9)),
            "lookup_samples": len(o.samples["lookup_s"]),
        }


def _pending_delta_epochs(root: str) -> int:
    from kafka_connect_converter_json_spark.streaming.sink import MANIFEST, ManifestWriter

    manifest = ManifestWriter().read(os.path.join(root, MANIFEST)) or {}
    return len({r.split("/")[1] for r in manifest.get("deltas", [])})


class DecodeQuery:
    name = "decode_query"
    AVRO_EVENTS = 300_000
    REFERENCE_EVENTS = 40_000
    SAMPLE = 2_000
    #: each decoder runs this many times in turn; a single ~2 s pass is
    #: dominated by its slowest task
    DECODE_PASSES = 2
    #: the reference converter leaf, plus the curation and dedup leaves the
    #: open ROADMAP items target: TF-IDF top-k, capped n-gram Jaccard,
    #: MinHash-LSH connected components and the composed curation pipeline
    #: (the LWW operator runs inside every merge of ``replay_tail``). The
    #: similarity leaves are left out: their oracles round a cosine to 4
    #: places, and on some generated inputs DuckDB's float arithmetic lands
    #: on the other side of a rounding boundary than the engine's double
    #: (``cosine_pairs`` seed 23: exact 0.99654999..., engine 0.9965,
    #: oracle 0.9966)
    LEAVES = ("convert_full", "tfidf_topk", "ngram_jaccard_capped", "dup_clusters",
              "corpus_pipeline")

    def __init__(self, spark, work: Path, seed: int, scale: int) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.passes = self.DECODE_PASSES * scale
        self.frames = work / "inputs" / "avro_frames.parquet"
        self.events = work / "inputs" / "json_events"
        self.tables = work / "inputs" / "tables"

    def prepare(self) -> None:
        inputs.write_avro_frames(self.frames, self.seed, self.AVRO_EVENTS)
        inputs.write_cdc_events(self.spark, self.events, self.seed, self.REFERENCE_EVENTS,
                                evolve_at=self.REFERENCE_EVENTS // 2)
        inputs.write_query_tables(self.tables, self.seed)
        self.oracle = CdcOracle(self.events)
        # a small untimed pass through both decoders first, so the Avro
        # pass, which runs first, does not pay the first compilation of the
        # Arrow and noop-write path the reference pass after it would skip
        self._decode(NullTracer(), self.spark.read.parquet(str(self.frames)).limit(5_000),
                     self.spark.read.parquet(str(self.events)).filter("lsn < 2000"))

    def _avro_config(self):
        from kafka_connect_converter_json_spark.config import ConverterConfig
        from kafka_connect_converter_json_spark.sources import avro_codec

        cfg = ConverterConfig(
            payload_field_name="payload", input_format="avro", schema_names=("Doc",),
            keys={"Doc": {"meta.id": "id_str", "meta.lang": "lang", "content": "content"}},
            identifiers=(), uppercase=False,
        )
        return cfg, avro_codec.LocalSchemaRegistry.of({1: inputs.DOC_SCHEMA})

    def _decode(self, tracer, frames, events) -> tuple[float, float]:
        """Both decoders into the noop sink: (Avro seconds, reference seconds)."""
        from kafka_connect_converter_json_spark.operators.avro_extract import avro_convert_stream
        from kafka_connect_converter_json_spark.streaming.ingest import convert_events, default_config

        cfg, registry = self._avro_config()
        t0 = time.perf_counter()
        with tracer.span("decode.avro"):
            avro_convert_stream(frames.select("value_bytes"), cfg, registry).write.format(
                "noop").mode("overwrite").save()
        t1 = time.perf_counter()
        with tracer.span("decode.reference"):
            convert_events(events, default_config(), "reference").write.format("noop").mode(
                "overwrite").save()
        return t1 - t0, time.perf_counter() - t1

    def run(self, tracer, check: bool) -> Outcome:
        import __spark_entry__ as entry

        out = Outcome()
        frames = self.spark.read.parquet(str(self.frames))
        events = self.spark.read.parquet(str(self.events))
        for _ in range(self.passes):
            avro_s, reference_s = self._decode(tracer, frames, events)
            out.add("avro_s", avro_s)
            out.add("reference_s", reference_s)
        out.counts["avro_events"] = self.AVRO_EVENTS * self.passes
        out.counts["reference_events"] = self.REFERENCE_EVENTS * self.passes

        qs = entry.queries()
        results = {}
        for name in self.LEAVES:
            t0 = time.perf_counter()
            with tracer.span(f"query.{name}"):
                with tracer.span("plan"):
                    df = qs[name](self.spark, str(self.tables))
                rows = df.collect()
            out.add("leaf_s", time.perf_counter() - t0)
            results[name] = (df.columns, rows)
        out.counts["timed_s"] = sum(
            out.samples["avro_s"] + out.samples["reference_s"] + out.samples["leaf_s"])
        out.counts["ops"] = 2 * self.passes + len(self.LEAVES)
        if check:
            self._check(out, results)
        return out

    def _check(self, out: Outcome, results: dict) -> None:
        from pyspark.sql import functions as F

        from kafka_connect_converter_json_spark.operators.avro_extract import avro_convert_batch
        from kafka_connect_converter_json_spark.streaming.ingest import convert_events, default_config

        cfg, registry = self._avro_config()
        sample = pq.read_table(str(self.frames)).slice(0, self.SAMPLE).to_pandas()
        columnar = avro_convert_batch(sample, cfg, registry, passthrough=("id",), columnar=True)
        interp = avro_convert_batch(sample, cfg, registry, passthrough=("id",), columnar=False)
        out.verdict(
            columnar.reset_index(drop=True).equals(interp.reset_index(drop=True))
            and columnar["_error"].isna().all(),
            "Avro columnar output differs from the avro_codec interpreter",
        )

        events = self.spark.read.parquet(str(self.events)).filter(F.col("lsn") < self.SAMPLE)
        rows = convert_events(events, default_config(), "reference").filter(
            F.col("op") != "d"
        ).select(
            "lsn", "repo", "path", "commit", "lang", F.sha2("content", 256),
        ).collect()
        out.verdict(rollup(tuple(r) for r in rows) == self.oracle.envelope_fields(0, self.SAMPLE),
                    "reference-mode keys differ from DuckDB JSON extraction")

        want = query_oracle(self.tables, list(self.LEAVES))
        for name, (cols, rows) in results.items():
            ocols, orows = want[name]
            ok = sorted(cols) == sorted(ocols) and canonical(cols, rows) == canonical(ocols, orows)
            out.verdict(ok, f"query {name} differs from its oracle_sql()")

    @staticmethod
    def summary(o: Outcome) -> dict:
        """``events_per_s``: both decoders' events over their time;
        ``op_mean_s``: one query leaf, planned, run and collected."""
        decoded = o.counts["avro_events"] + o.counts["reference_events"]
        return {
            "events_per_s": decoded / (sum(o.samples["avro_s"]) + sum(o.samples["reference_s"])),
            "op_mean_s": statistics.mean(o.samples["leaf_s"]),
        }

    @staticmethod
    def detail(o: Outcome) -> dict:
        return {
            "avro_events_per_s": o.counts["avro_events"] / sum(o.samples["avro_s"]),
            "reference_events_per_s": o.counts["reference_events"] / sum(o.samples["reference_s"]),
            "query_suite_s": sum(o.samples["leaf_s"]),
            **{f"query.{n}_s": s for n, s in zip(DecodeQuery.LEAVES, o.samples["leaf_s"])},
        }


WORKLOADS = {w.name: w for w in (ReplayTail, DecodeQuery)}
