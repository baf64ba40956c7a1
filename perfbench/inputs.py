"""Seeded input generation. Every input is a pure function of ``--seed``.

The engine receives only the files written here: the CDC event stream
for ``replay_tail``, and for ``decode_query`` the Confluent-framed Avro
frames, the JSON envelope stream and the two small tables the query
leaves read (``events`` and ``documents``, in the shape of the
repository's testdata tables).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: CDC stream shape: 500 repos x 400 paths with Zipf-like skew 3.0 (one
#: hot repo) and 5% deletes; callers choose where an additive envelope
#: field starts (``evolve_at``), which the schema registry must widen to
CDC_SHAPE = dict(n_repos=500, paths_per_repo=400, skew=3.0, delete_pct=5)

#: Avro writer schema of the decode frames (the bench.py decode shape)
DOC_SCHEMA = {
    "type": "record", "name": "Doc",
    "fields": [
        {"name": "meta", "type": {"type": "record", "name": "Meta", "fields": [
            {"name": "id", "type": "long"}, {"name": "lang", "type": "string"}]}},
        {"name": "content", "type": "string"},
    ],
}

WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
DOC_LANGS = np.array(["en", "zh", "es", "de", "fr"])
EVENT_TYPES = np.array(["signup", "error", "click", "view", "purchase"])


def cdc_seed(seed: int) -> int:
    """gen_events derives its hash streams from seed, seed+1, ..., seed+8;
    spacing run seeds 16 apart keeps two runs' streams disjoint."""
    return 1000 + 16 * seed


def write_cdc_events(spark, path: Path, seed: int, n_events: int, evolve_at: int) -> None:
    """The replay/tail binlog, materialised once (a real CDC tail reads files)."""
    from kafka_connect_converter_json_spark.sources.cdc_gen import gen_events

    from .session import cores

    gen_events(
        spark, n_events, seed=cdc_seed(seed), num_partitions=cores(),
        evolve_at=evolve_at, **CDC_SHAPE,
    ).write.mode("overwrite").parquet(str(path))


def _text(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in picks[at:at + k]))
        at += k
    return out


def write_avro_frames(path: Path, seed: int, n: int) -> None:
    """Confluent-framed Avro bodies (schema id 1) for the columnar decoder."""
    from kafka_connect_converter_json_spark.sources.avro_columnar import encode_batch_columns

    rng = np.random.default_rng([seed, 1])
    ids = np.arange(n, dtype=np.int64) + int(rng.integers(0, 1 << 40))
    lang = DOC_LANGS[rng.integers(0, len(DOC_LANGS), n)].astype(object)
    content = np.array(_text(rng, n, 8, 40), dtype=object)
    frames = encode_batch_columns(
        DOC_SCHEMA, {"meta.id": ids, "meta.lang": lang, "content": content}, wire_schema_id=1,
    )
    table = pa.table({"id": pa.array(ids), "value_bytes": pa.array(list(frames), pa.binary())})
    _write(table, path, row_group_rows=n // 8 or 1)


def write_query_tables(root: Path, seed: int) -> None:
    """``events`` and ``documents`` at the size of the repository's sf0.001
    tables, with the same columns and value shapes."""
    rng = np.random.default_rng([seed, 2])
    root.mkdir(parents=True, exist_ok=True)

    n_ev = 1000
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_ev // 67 + 1, n_ev).astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    }), root / "events.parquet")

    n_doc = 500
    text = _text(rng, n_doc, 8, 110)
    # a few documents end in repeated marker tokens, as in the testdata
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        text[i] += " dup" * int(rng.integers(1, 3))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(DOC_LANGS, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    }), root / "documents.parquet")


def _write(table: pa.Table, path: Path, row_group_rows: int | None = None) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(path), row_group_size=row_group_rows)


def content_hash(path: Path, order_by: str) -> str:
    """sha256 over a parquet dataset's rows in ``order_by`` order —
    independent of how many files or row groups hold them."""
    table = pq.read_table(str(path)).sort_by(order_by)
    h = hashlib.sha256()
    for name in sorted(table.column_names):
        h.update(name.encode())
        for chunk in table.column(name).chunks:
            h.update(repr(chunk.to_pylist()).encode())
    return h.hexdigest()
