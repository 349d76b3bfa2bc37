"""Result canonicalization and the DuckDB oracle cache.

Spark results and DuckDB oracle results are compared as canonical row
lists: columns in name order, every cell rendered as text (floats rounded
to 9 places, timestamps as naive UTC ISO text, NULL and NaN kept apart),
rows sorted.  Oracle results are cached on disk by a digest of the oracle
SQL and the input files, because some oracles cost far more than the
query they check.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import Decimal

import pyarrow as pa

from datagen import TABLES


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, Decimal)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(round(f, 9))
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(table: pa.Table) -> dict:
    """``{"columns": [...], "rows": [[...], ...]}`` in canonical form."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted([_cell(v) for v in row] for row in zip(*data)) if cols else []
    return {"columns": cols, "rows": rows}


def mismatch(got: dict, want: dict) -> str | None:
    """None when equal, else a one-line reason."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    for g, w in zip(got["rows"], want["rows"]):
        if g != w:
            return f"first differing row {g} != {w}"
    return None


class OracleCache:
    """DuckDB oracle results for one input directory, cached on disk by
    ``sha256(oracle SQL, input identity)``."""

    def __init__(self, data_dir: str, input_id: str, cache_dir: str):
        self.data_dir = data_dir
        self.input_id = input_id
        self.cache_dir = cache_dir
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def con(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data_dir}/{t}.parquet')")
        return self._con

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256(f"{sql}\0{self.input_id}".encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.json")
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            pass
        want = canon(self.con().execute(sql).arrow())
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(want, f)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
