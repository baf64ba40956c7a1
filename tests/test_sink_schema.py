"""The sink's manifest records the table schema: reads of committed files
infer nothing from parquet footers, a point lookup costs at most two Spark
jobs, time travel keeps each snapshot's columns, and manifests written
before the schema was recorded read the same and record it on their next
commit."""

import itertools
import json
import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.streaming.ingest import infer_envelope_schemas_batch
from kafka_connect_converter_json_spark.streaming.sink import MANIFEST, BucketedMergeSink

_groups = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched on this thread)."""
    sc = spark.sparkContext
    group = f"test-sink-schema-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _batch(spark, rows, ddl="k string, lsn long, op string, v string"):
    return spark.createDataFrame(rows, ddl)


@pytest.fixture
def evolved(spark, tmp_path):
    """A MOR sink with three pending delta epochs: inserts, an update and
    a tombstone, then a batch that adds column ``w``."""
    sink = BucketedMergeSink(spark, str(tmp_path / "s"), keys=["k"], order_col="lsn",
                             num_buckets=4, merge_mode="mor", compact_every=None)
    sink.merge(_batch(spark, [(f"k{i}", i, "u", f"v{i}") for i in range(1, 7)]), epoch=0)
    sink.merge(_batch(spark, [("k1", 10, "u", "v1b"), ("k2", 11, "d", None)]), epoch=1)
    sink.merge(_batch(spark, [("k3", 12, "u", "v3b", "x"), ("k7", 13, "u", "v7", "y")],
                      "k string, lsn long, op string, v string, w string"), epoch=2)
    return sink


def test_point_lookup_runs_two_jobs_and_matches_filtered_read(spark, evolved):
    m = evolved._manifest
    assert len(m["schemas"]) == 2 and m["schema_id"] == 1  # one widening, not one per epoch
    assert [e["schema_id"] for e in m["epochs"]] == [0, 0, 1]
    for key in ("k3", "k2", "absent"):  # live, deleted, never written
        got, jobs = _jobs(spark, lambda: evolved.read_key(key).collect())
        assert jobs <= 2, (key, jobs)
        assert got == evolved.read().filter(F.col("k") == key).collect()
    assert [tuple(r) for r in evolved.read_key("k3").collect()] == [("k3", 12, "v3b", "x")]
    assert evolved.read_key("k2").collect() == []


def test_envelope_inference_runs_no_job_and_skips_corrupt_samples(spark):
    samples = [json.dumps({"meta": {"repo": f"r{i}"}, "n": i}) for i in range(5)]
    samples.append(json.dumps({"meta": {"repo": "r5", "path": "p"}, "lang": "py"}))
    got, jobs = _jobs(spark, lambda: infer_envelope_schemas_batch(spark, samples))
    assert jobs == 0 and len(got) == 6
    assert "lang" in got[-1].names
    got, jobs = _jobs(spark, lambda: infer_envelope_schemas_batch(spark, samples[:3] + ["{no"]))
    assert jobs == 0 and len(got) == 3


def test_time_travel_keeps_each_snapshot_columns(evolved):
    assert evolved.read_as_of(1).columns == ["k", "lsn", "v"]
    assert evolved.read_as_of(2).columns == ["k", "lsn", "v", "w"]
    assert evolved.read_key("k1", as_of=0).columns == ["k", "lsn", "v"]
    evolved.compact()
    assert evolved.read().columns == ["k", "lsn", "v", "w"]
    assert evolved.read_as_of(1).columns == ["k", "lsn", "v"]


def _snapshot(sink):
    rows = lambda df: sorted(map(tuple, df.collect()))  # noqa: E731
    read, as_of = sink.read(), sink.read_as_of(0)
    return {
        "columns": (read.columns, as_of.columns),
        "read": rows(read),
        "live": rows(sink.read_key("k3")),
        "deleted": rows(sink.read_key("k2")),
        "absent": rows(sink.read_key("absent")),
        "as_of": rows(as_of),
        "changes": rows(sink.read_changes(2, from_epoch=0)),
    }


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_legacy_manifest_reads_the_same_and_records_on_next_commit(spark, tmp_path, mode):
    root = str(tmp_path / mode)
    sink = BucketedMergeSink(spark, root, keys=["k"], order_col="lsn", num_buckets=4,
                             merge_mode=mode, compact_every=None)
    sink.merge(_batch(spark, [(f"k{i}", i, "u", f"v{i}") for i in range(1, 7)]), epoch=0)
    sink.merge(_batch(spark, [("k1", 10, "u", "v1b"), ("k2", 11, "d", None)]), epoch=1)
    sink.merge(_batch(spark, [("k3", 12, "u", "v3b", "x")],
                      "k string, lsn long, op string, v string, w string"), epoch=2)
    want = _snapshot(sink)

    path = os.path.join(root, MANIFEST)
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("schemas")
    manifest.pop("schema_id")
    for e in manifest["epochs"]:
        e.pop("schema_id")
    with open(path, "w") as f:
        json.dump(manifest, f)

    legacy = BucketedMergeSink.open(spark, root, compact_every=None)
    assert _snapshot(legacy) == want
    legacy.merge(_batch(spark, [("k4", 20, "u", "v4b")]), epoch=3)
    m = legacy._manifest
    assert len(m["schemas"]) == 1
    assert m["schemas"][m["schema_id"]] == "k STRING,lsn BIGINT,v STRING,w STRING"
    assert m["epochs"][-1]["schema_id"] == m["schema_id"]
    assert "schema_id" not in m["epochs"][0]
    assert [tuple(r) for r in legacy.read_key("k4").collect()] == [("k4", 20, "v4b", None)]
