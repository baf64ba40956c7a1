"""Write-audit-publish (staged epochs): the Iceberg WAP / branch-audit-
publish pattern as a CDC quality gate. ``stage()`` writes an epoch
invisibly, ``audit_staged()`` runs declarative expectations against the
staged delta and the CANDIDATE table state, ``publish()`` flips
visibility atomically through the same manifest CAS every other commit
uses (an O(1) directory rename in MOR mode), ``discard()`` drops a
failed epoch without trace. Generalizes the reference's fail-fast
admission (JsonConverter.java:508-549 schema gate) from per-record to
per-epoch."""

import os

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.streaming.sink import BucketedMergeSink


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _mk_batch(spark, ids, lsn0, op="u", n_repos=5, score_of=None):
    rows = [
        (
            f"repo-{i % n_repos:04d}",
            f"f_{i:05d}",
            lsn0 + j,
            op,
            (score_of(i) if score_of else i * 10),
            i % 4,          # kafka_partition
            lsn0 + j,       # kafka_offset
        )
        for j, i in enumerate(ids)
    ]
    return spark.createDataFrame(
        rows,
        "repo string, path string, lsn long, op string, score long, "
        "kafka_partition int, kafka_offset long",
    )


def _sink(spark, root, mode, **kwargs):
    return BucketedMergeSink(
        spark, str(root), keys=["repo", "path"], num_buckets=4,
        merge_mode=mode, compact_every=None, **kwargs,
    )


@pytest.mark.parametrize(
    "mode,twin_kwargs",
    [
        pytest.param("mor", {}, id="mor"),
        pytest.param("cow", {}, id="cow"),
        pytest.param("cow", {"prune_buckets": False}, id="cow-noprune"),
    ],
)
def test_stage_invisible_then_publish_matches_merge_twin(
    spark, tmp_path, mode, twin_kwargs
):
    """Three epochs (update/insert/delete mix) through stage+publish must
    land byte-identical to the same stream through plain merge(), and a
    staged-but-unpublished epoch must be invisible to every reader. The
    snapshot history (touched buckets, base files, deltas) must match too,
    whichever bucket-discovery mode the merge twin uses."""
    wap = _sink(spark, tmp_path / "wap", mode)
    twin = _sink(spark, tmp_path / "twin", mode, **twin_kwargs)
    b1 = _mk_batch(spark, range(60), 0)
    b2 = _mk_batch(spark, range(30, 90), 100)                     # overlap = updates
    b3 = _mk_batch(spark, range(0, 20), 200, op="d")              # deletes
    twin.merge(b1, 1), twin.merge(b2, 2), twin.merge(b3, 3)

    wap.stage(b1, 1)
    wap.publish(1)
    after_e1 = _rows(wap.read())

    wap.stage(b2, 2)
    # invisible: read(), committed epochs, history all ignore staged
    assert _rows(wap.read()) == after_e1
    assert wap.committed_epochs() == {1}
    assert wap.staged_epochs() == {2}
    wap.publish(2)
    wap.stage(b3, 3)
    wap.publish(3)

    assert _rows(wap.read()) == _rows(twin.read())
    assert wap.committed_epochs() == twin.committed_epochs()
    # lineage written at publish time matches the merge twin's
    assert _rows(wap.read_lineage()) == _rows(twin.read_lineage())
    assert _rows(wap.history()) == _rows(twin.history())


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_read_staged_is_the_candidate_state(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    sink.merge(_mk_batch(spark, range(40), 0), 1)
    b2 = _mk_batch(spark, range(20, 50), 100)
    sink.stage(b2, 2)
    candidate = _rows(sink.read_staged(2))
    sink.publish(2)
    assert candidate == _rows(sink.read())


def test_read_staged_delta_keeps_tombstones(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    sink.merge(_mk_batch(spark, range(10), 0), 1)
    sink.stage(_mk_batch(spark, range(4), 100, op="d"), 2)
    delta = sink.read_staged_delta(2)
    assert delta.filter(F.col("op") == "d").count() == 4


def test_audit_expectations(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    ups = _mk_batch(spark, range(40), 0)
    dels = _mk_batch(spark, range(100, 110), 50, op="d")
    sink.stage(ups.unionByName(dels), 1)

    ok = sink.audit_staged(1, {
        "min_rows": 40, "max_rows": 40, "max_delete_fraction": 0.25,
        "not_null": ["score"], "expect": {"score_range": "score >= 0"},
    })
    assert ok["passed"] and all(c["passed"] for c in ok["checks"].values())

    bad = sink.audit_staged(1, {
        "min_rows": 41,                       # live rows are 40
        "max_delete_fraction": 0.1,           # 10/50 = 0.2
        "expect": {"score_hi": "score >= 100"},
    })
    assert not bad["passed"]
    assert not bad["checks"]["min_rows"]["passed"]
    assert not bad["checks"]["max_delete_fraction"]["passed"]
    assert bad["checks"]["expect:score_hi"]["violations"] == 10  # score 0..90

    with pytest.raises(ValueError, match="unknown expectation"):
        sink.audit_staged(1, {"min_rowz": 1})


def test_audit_null_predicate_is_violation_and_not_null(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    b = _mk_batch(spark, range(10), 0).withColumn(
        "score", F.when(F.col("kafka_partition") == 0, F.col("score"))
    )
    sink.stage(b, 1)
    rep = sink.audit_staged(1, {
        "not_null": ["score"],
        # NULL score makes the predicate NULL -> counted as a violation
        "expect": {"pos": "score >= 0"},
    })
    n_null = 10 - len([i for i in range(10) if i % 4 == 0])
    assert rep["checks"]["not_null:score"]["violations"] == n_null
    assert rep["checks"]["expect:pos"]["violations"] == n_null


def test_audit_expect_state_sees_candidate_not_just_delta(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    sink.merge(_mk_batch(spark, range(10), 0, score_of=lambda i: -1), 1)
    sink.stage(_mk_batch(spark, range(10, 20), 100), 2)
    # the staged DELTA satisfies score >= 0; the candidate STATE does not
    # (base rows carry -1), so the state check must fail
    rep = sink.audit_staged(2, {"expect": {"pos": "score >= 0"},
                                "expect_state": {"pos": "score >= 0"}})
    assert rep["checks"]["expect:pos"]["passed"]
    assert not rep["checks"]["expect_state:pos"]["passed"]
    assert rep["checks"]["expect_state:pos"]["violations"] == 10


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_publish_if_gate_and_discard_restage(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    sink.merge(_mk_batch(spark, range(20), 0), 1)
    before = _rows(sink.read())
    bad = _mk_batch(spark, range(5), 100)
    sink.stage(bad, 2)
    out = sink.publish_if(2, {"min_rows": 6})
    assert not out["published"]
    # failing epoch STAYS staged for inspection, table untouched
    assert sink.staged_epochs() == {2}
    assert _rows(sink.read()) == before
    assert sink.read_staged_delta(2).count() == 5
    # discard: nothing remains, not even lineage
    sink.discard(2)
    assert sink.staged_epochs() == set()
    assert not os.path.exists(os.path.join(sink.root, "staged/e000002"))
    lineage_epochs = {r.epoch for r in sink.read_lineage().collect()}
    assert lineage_epochs == {1}
    # re-stage the fixed batch and publish through the gate
    good = _mk_batch(spark, range(100, 110), 100)
    sink.stage(good, 2)
    out = sink.publish_if(2, {"min_rows": 6, "expect": {"s": "score >= 0"}})
    assert out["published"] and out["audit"]["passed"]
    assert sink.committed_epochs() == {1, 2}
    assert sink.read().count() == 30


def test_publish_if_unstaged_epoch_raises(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    with pytest.raises(ValueError, match="not staged"):
        sink.publish_if(7, {"min_rows": 1})


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_idempotency_under_redelivery(spark, tmp_path, mode):
    sink = _sink(spark, tmp_path / "s", mode)
    b = _mk_batch(spark, range(25), 0)
    sink.stage(b, 1)
    assert sink.stage(b, 1)["skipped"]                 # re-stage: no-op
    sink.publish(1)
    state = _rows(sink.read())
    assert sink.publish(1)["skipped"]                  # re-publish: no-op
    assert sink.stage(b, 1)["reason"] == "already committed"
    # redelivered stage after a crash-recovered publish leaves no residue
    assert sink.staged_epochs() == set()
    assert _rows(sink.read()) == state
    # lineage written exactly once
    assert sink.read_lineage().count() == sink.read_lineage().dropDuplicates().count()


def test_rebucket_between_stage_and_publish_refuses(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    sink.merge(_mk_batch(spark, range(20), 0), 1)
    sink.stage(_mk_batch(spark, range(20, 30), 100), 2)
    sink.rebucket(8)
    with pytest.raises(ValueError, match="rebucketed"):
        sink.publish(2)
    # discard + re-stage under the new layout works
    sink.discard(2)
    sink.stage(_mk_batch(spark, range(20, 30), 100), 2)
    sink.publish(2)
    assert sink.read().count() == 30


def test_mor_crash_between_rename_and_manifest_commit_resumes(spark, tmp_path):
    """Simulate the publish crash window: the staged dir was renamed into
    data/ but the manifest flip never happened. A publish() retry must
    finish the commit without data loss or duplication."""
    import shutil

    sink = _sink(spark, tmp_path / "s", "mor")
    sink.merge(_mk_batch(spark, range(20), 0), 1)
    sink.stage(_mk_batch(spark, range(10, 40), 100), 2)
    staged_dir = os.path.join(sink.root, "staged/e000002")
    epoch_dir = os.path.join(sink.root, "data/e000002")
    shutil.move(staged_dir, epoch_dir)  # the rename happened, then "crash"
    out = sink.publish(2)
    assert out["published"]
    assert sink.committed_epochs() == {1, 2}
    twin = _sink(spark, tmp_path / "twin", "mor")
    twin.merge(_mk_batch(spark, range(20), 0), 1)
    twin.merge(_mk_batch(spark, range(10, 40), 100), 2)
    assert _rows(sink.read()) == _rows(twin.read())


def test_crash_before_stage_commit_leaves_restageable_orphan(spark, tmp_path):
    """A crash between the staged data write and the stage's manifest
    commit leaves an orphan directory: re-stage overwrites it, and
    vacuum() collects it, while a LIVE staged epoch survives vacuum."""
    sink = _sink(spark, tmp_path / "s", "mor")
    sink.merge(_mk_batch(spark, range(20), 0), 1)
    b2 = _mk_batch(spark, range(20, 30), 100)
    sink.stage(b2, 2)
    # forge the crash: drop the manifest entry but keep the data dir
    manifest = dict(sink._manifest)
    manifest["staged"] = {}
    sink._commit_manifest(manifest)
    assert os.path.isdir(os.path.join(sink.root, "staged/e000002"))
    # re-stage over the orphan works and publishes clean
    sink.stage(b2, 2)
    sink.publish(2)
    assert sink.read().count() == 30

    # now a live staged epoch + an orphan dir: vacuum removes ONLY the orphan
    sink.stage(_mk_batch(spark, range(50, 55), 200), 3)
    orphan = os.path.join(sink.root, "staged/e000099")
    os.makedirs(orphan)
    removed = sink.vacuum()
    assert "staged/e000099" in removed
    assert not os.path.exists(orphan)
    assert os.path.isdir(os.path.join(sink.root, "staged/e000003"))
    sink.publish(3)
    assert sink.read().count() == 35


def test_staged_survives_reopen(spark, tmp_path):
    """Staging rides the manifest: a crash/restart between stage and
    publish resumes with the staged epoch intact."""
    root = str(tmp_path / "s")
    sink = _sink(spark, root, "mor")
    sink.merge(_mk_batch(spark, range(20), 0), 1)
    sink.stage(_mk_batch(spark, range(20, 30), 100), 2)
    reopened = BucketedMergeSink.open(spark, root, compact_every=None)
    assert reopened.staged_epochs() == {2}
    assert reopened.publish(2)["published"]
    assert reopened.read().count() == 30


def test_publish_meta_committed_atomically(spark, tmp_path):
    sink = _sink(spark, tmp_path / "s", "mor")
    sink.stage(_mk_batch(spark, range(10), 0), 1, meta={"source": "binlog-7"})
    assert "source" not in sink.meta()        # staged meta not visible
    sink.publish(1)
    assert sink.meta()["source"] == "binlog-7"


def test_wap_interleaves_with_plain_merge(spark, tmp_path):
    """merge() epochs and WAP epochs on one sink: LWW is order-insensitive
    on lsn, so the interleaving lands identical to a pure merge twin."""
    sink = _sink(spark, tmp_path / "s", "mor")
    twin = _sink(spark, tmp_path / "twin", "mor")
    b1 = _mk_batch(spark, range(30), 0)
    b2 = _mk_batch(spark, range(15, 45), 100)
    b3 = _mk_batch(spark, range(5, 10), 200, op="d")
    for t, b in ((1, b1), (2, b2), (3, b3)):
        twin.merge(b, t)
    sink.merge(b1, 1)
    sink.stage(b2, 2)
    sink.publish(2)
    sink.merge(b3, 3)
    assert _rows(sink.read()) == _rows(twin.read())
    # changelog still classifies across the WAP epoch
    ch = sink.read_changes(2, from_epoch=1)
    kinds = {r._change_type for r in ch.collect()}
    assert kinds <= {"insert", "update_postimage", "delete"}
    assert ch.count() == 30


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_empty_epoch_stage_audit_publish(spark, tmp_path, mode):
    """A quiet LSN window stages ZERO rows: the staged delta must still
    read back (recorded schema), audit (null-sum aggregates), and
    publish as a metadata-only snapshot in BOTH modes."""
    sink = _sink(spark, tmp_path / "empty", mode)
    sink.merge(_mk_batch(spark, range(30), 0), epoch=1)
    before = _rows(sink.read())
    empty = _mk_batch(spark, [], 100)
    assert sink.stage(empty, epoch=2)["staged"] is True
    assert sink.read_staged_delta(2).count() == 0
    rep = sink.audit_staged(
        2, {"min_rows": 0, "max_delete_fraction": 1.0,
            "expect": {"ok": "lsn >= 0"}}
    )
    assert rep["passed"]
    assert not sink.audit_staged(2, {"min_rows": 1})["passed"]
    out = sink.publish(2)
    assert out["published"] and out["touched_buckets"] == 0
    assert _rows(sink.read()) == before
    assert sorted(sink.committed_epochs()) == [1, 2]
    assert sink.staged_epochs() == set()
    # time travel to the empty epoch is the same state
    assert _rows(sink.read_as_of(2)) == before


def test_vacuum_dry_run_and_empty_staged_survival(spark, tmp_path):
    """dry_run previews exactly what vacuum would remove, touching
    nothing; and a LIVE staged epoch with ZERO rows (no part dirs, so no
    delta_rels) must never be collected as an orphan — its directory is
    named from the manifest's staged epoch ids."""
    sink = _sink(spark, tmp_path / "vac", "mor")
    sink.merge(_mk_batch(spark, range(30), 0), epoch=1)
    sink.merge(_mk_batch(spark, range(30), 100), epoch=2)
    sink.compact()  # old delta dirs become dead
    sink.stage(_mk_batch(spark, [], 200), epoch=3)  # live EMPTY staged
    would = sink.vacuum(dry_run=True)
    assert would  # superseded delta dirs are collectible
    assert all("staged/e000003" not in p for p in would)
    assert all(os.path.exists(os.path.join(sink.root, p)) for p in would)
    assert sink._manifest.get("vacuumed_below") is None  # nothing committed
    removed = sink.vacuum()
    assert sorted(removed) == sorted(would)  # the preview told the truth
    out = sink.publish(3)  # the empty staged epoch still lands
    assert out["published"]
    assert sorted(sink.committed_epochs()) == [1, 2, 3]
