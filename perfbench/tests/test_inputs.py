"""The benchmark's inputs are a pure function of ``--seed``.

    python3 -m pytest perfbench/tests -q      (from the repository root)
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import inputs  # noqa: E402
from perfbench.session import build_session  # noqa: E402

N_EVENTS = 3000


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = tmp_path_factory.mktemp("perfbench-session")
    s = build_session(work)
    yield s
    s.stop()
    shutil.rmtree(work, ignore_errors=True)


def _hashes(spark, root: Path, seed: int) -> dict[str, str]:
    inputs.write_cdc_events(spark, root / "events", seed, N_EVENTS, evolve_at=N_EVENTS // 2)
    inputs.write_avro_frames(root / "frames.parquet", seed, 500)
    inputs.write_query_tables(root / "tables", seed)
    out = {
        "events": inputs.content_hash(root / "events", "lsn"),
        "frames": inputs.content_hash(root / "frames.parquet", "id"),
    }
    for name, key in (("events", "event_id"), ("documents", "doc_id")):
        out[f"tables/{name}"] = inputs.content_hash(root / "tables" / f"{name}.parquet", key)
    return out


def test_same_seed_same_inputs_other_seed_different(spark, tmp_path):
    first = _hashes(spark, tmp_path / "a", 7)
    again = _hashes(spark, tmp_path / "b", 7)
    other = _hashes(spark, tmp_path / "c", 8)
    assert first == again
    assert all(first[k] != other[k] for k in first), {k for k in first if first[k] == other[k]}
