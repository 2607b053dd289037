"""Output check against the DuckDB oracle.

Results are compared as multisets of canonical rows, with the value
canon of tests/test_oracle.py (floats by their exact bits, as
``float.hex`` compares them; timestamps by wall-clock microseconds;
integers of any width as int64; other values by ``str``), computed on
Arrow columns so that the 540k-row cleaned_listings result checks in
well under a second.  The oracle side is computed once per data
directory and oracle SQL text, and cached under the build directory.
"""

from __future__ import annotations

import decimal
import hashlib
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from rental_engine import ORACLE
from rental_engine.queries import TABLES

_NAN_BITS = np.float64("nan").view(np.uint64)


def _canon_col(col: pa.ChunkedArray) -> pa.Array:
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = col.type
    if pa.types.is_floating(t):
        v = col.cast(pa.float64()).to_numpy(zero_copy_only=False)
        bits = v.view(np.uint64).copy()
        bits[np.isnan(v)] = _NAN_BITS          # float.hex: every NaN is 'nan'
        return pa.array(bits, mask=col.is_null().to_numpy(zero_copy_only=False))
    if pa.types.is_integer(t):
        return col.cast(pa.int64())
    if pa.types.is_boolean(t):
        return col
    if pa.types.is_timestamp(t):
        if t.tz is not None:
            col = pc.local_timestamp(col)
        return col.cast(pa.timestamp("us")).cast(pa.int64())
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return col.cast(pa.string())

    def one(v):
        if v is None:
            return None
        return str(v.normalize()) if isinstance(v, decimal.Decimal) else repr(v)
    return pa.array([one(v) for v in col.to_pylist()], pa.string())


def canon_table(tbl: pa.Table) -> pa.Table:
    """Columns renamed positionally, values canonical, rows sorted."""
    cols = [f"c{i}" for i in range(tbl.num_columns)]
    t = pa.table([_canon_col(tbl.column(i)) for i in range(tbl.num_columns)], names=cols)
    return t.sort_by([(c, "ascending") for c in cols]) if cols else t


def oracle_table(sf_dir: str, name: str) -> pa.Table:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con.execute(ORACLE[name]).fetch_arrow_table()
    finally:
        con.close()


class Oracle:
    """Canonical oracle results for one data directory, cached on disk."""

    def __init__(self, sf_dir: str, cache_dir: str) -> None:
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir

    def expected(self, name: str) -> tuple[list[str], pa.Table]:
        key = hashlib.sha256(f"{self.sf_dir}\n{ORACLE[name]}".encode()).hexdigest()[:16]
        path = os.path.join(self.cache_dir, f"{name}-{key}.parquet")
        if os.path.exists(path):
            t = pq.read_table(path)
            return t.schema.metadata[b"columns"].decode().split("\n"), t
        raw = oracle_table(self.sf_dir, name)
        t = canon_table(raw).replace_schema_metadata(
            {"columns": "\n".join(raw.column_names)})
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(t, tmp)
        os.replace(tmp, path)
        return raw.column_names, t

    def check(self, name: str, got: pa.Table) -> str | None:
        """None when ``got`` matches the oracle, else what differs."""
        cols, want = self.expected(name)
        if got.column_names != cols:
            return f"columns {got.column_names} != {cols}"
        if got.num_rows != want.num_rows:
            return f"rows {got.num_rows} != {want.num_rows}"
        have = canon_table(got).replace_schema_metadata(want.schema.metadata)
        if not have.equals(want):
            return "values differ"
        return None
