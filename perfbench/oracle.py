"""Output checks: the rows + schema + stringified-values compare of
``scripts/check_entry.py``, split so the engine's rows can be collected
inside a timed call and compared after the timed region."""

from __future__ import annotations

import hashlib
import json
import os

import duckdb

from datagen import TABLES


def duck_connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    rows = con.execute(sql).fetchall()
    return [d[0] for d in con.description], rows


class Oracle:
    """DuckDB answers over the tables in ``data_dir``.  The tables are
    deterministic, so each answer is computed once per data dir and kept
    beside the tables, stringified as the compare uses it, keyed by the
    SQL text and the DuckDB version."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.cache = os.path.join(data_dir, "oracle")
        self._con = None

    def rows(self, sql: str) -> tuple[list[str], list[list[str]]]:
        key = hashlib.sha256(f"{duckdb.__version__}\0{sql}".encode()).hexdigest()
        path = os.path.join(self.cache, f"{key}.json")
        if os.path.exists(path):
            with open(path, encoding="utf-8") as fh:
                cols, rows = json.load(fh)
            return cols, rows
        if self._con is None:
            self._con = duck_connect(self.data_dir)
        cols, raw = duck_rows(self._con, sql)
        rows = [[str(v) for v in r] for r in raw]
        os.makedirs(self.cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump([cols, rows], fh)
        os.replace(tmp, path)
        return cols, rows


def _canon(cols: list[str], rows: list[tuple]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda j: cols[j])
    return sorted(tuple(str(r[j]) for j in order) for r in rows)


def same_rows(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """None when equal, else a one-line reason."""
    (gcols, grows), (wcols, wrows) = got, want
    if sorted(gcols) != sorted(wcols):
        return f"schema {sorted(gcols)} vs {sorted(wcols)}"
    g, w = _canon(gcols, grows), _canon(wcols, wrows)
    if len(g) != len(w):
        return f"{len(g)} rows vs {len(w)}"
    for a, b in zip(g, w):
        if a != b:
            return f"first value diff {a} vs {b}"
    return None
