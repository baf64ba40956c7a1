"""Independent DuckDB answers the benchmark checks the engine against.

Nothing here imports the engine's operators: the last-writer-wins state
is a ``row_number()`` reduction of the events parquet, the envelope
fields come from DuckDB's own JSON functions, and query leaves are
checked against ``oracle_sql()``.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import duckdb

#: (column, DuckDB expression over one CDC event) of the sink's target row
TARGET = (
    ("repo", "repo"),
    ("path", "path"),
    ("commit", "json_extract_string(value_json, '$.commit.id')"),
    ("lang", "json_extract_string(value_json, '$.lang')"),
    ("content_sha", "sha256(json_extract_string(value_json, '$.content'))"),
)


def rollup(rows) -> tuple[int, str]:
    """(row count, sha256 over the sorted rows) — order-insensitive."""
    lines = sorted("|".join("\0" if v is None else str(v) for v in r) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


class CdcOracle:
    def __init__(self, events: Path) -> None:
        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW ev AS SELECT * FROM read_parquet('{events}/*.parquet')"
        )

    def _lww(self, hi: int, where: str = "TRUE") -> str:
        cols = ", ".join(f"{expr} AS {name}" for name, expr in TARGET)
        return f"""
            SELECT {cols} FROM (
                SELECT *, row_number() OVER (PARTITION BY repo, path ORDER BY lsn DESC) AS rn
                FROM ev WHERE lsn < {int(hi)} AND {where}
            ) WHERE rn = 1 AND op <> 'd'"""

    def state(self, hi: int) -> tuple[int, str]:
        """Rollup of the live table after every event with lsn < ``hi``."""
        return rollup(self.con.execute(self._lww(hi)).fetchall())

    def lookups(self, probes: list[tuple[str, str, int]]) -> dict:
        """LWW answer of each (repo, path) at its LSN bound: a row tuple,
        or None when the key is absent or deleted at that bound."""
        out = {}
        for repo, path, hi in probes:
            rows = self.con.execute(
                self._lww(hi, "repo = ? AND path = ?"), [repo, path]
            ).fetchall()
            out[(repo, path, hi)] = rows[0] if rows else None
        return out

    def envelope_fields(self, lo: int, hi: int) -> tuple[int, str]:
        """Rollup of every non-delete event's key fields in [lo, hi) — what
        a reference-mode conversion of those events must yield."""
        cols = ", ".join(expr for _name, expr in TARGET)
        return rollup(self.con.execute(
            f"SELECT lsn, {cols} FROM ev WHERE lsn >= {int(lo)} AND lsn < {int(hi)} AND op <> 'd'"
        ).fetchall())


def query_oracle(tables: Path, names: list[str]) -> dict[str, tuple[list[str], list[tuple]]]:
    """``oracle_sql()`` results (columns, rows) for each named leaf."""
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    for p in sorted(tables.glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name in names:
        res = con.execute(oracles[name])
        out[name] = ([d[0] for d in res.description], res.fetchall())
    return out


def canonical(cols: list[str], rows) -> tuple[int, str]:
    """The comparison of ``tools/check_contract.py``: columns sorted by
    name, rows sorted, floats by ``repr``, bytes by hex."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def cell(v):
        if v is None:
            return "\0NULL"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, bytes):
            return v.hex()
        return str(v)

    return rollup([tuple(cell(r[i]) for i in order) for r in rows])
