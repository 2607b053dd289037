"""Every declared query must match its DuckDB oracle exactly
(row count, column names, values) — the same check the driver runs."""

from __future__ import annotations

import datetime as dt
import decimal

import duckdb
import pytest

from rental_engine import ORACLE, QUERIES
from rental_engine.queries import TABLES
from tests.conftest import SF_MED, SF_SMALL


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(v):
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", float(v).hex())
    if isinstance(v, dt.datetime):
        return ("t", v.replace(tzinfo=None).isoformat())
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", int(v))
    if v is None:
        return ("null",)
    return (type(v).__name__, str(v))


def canon_rows(rows):
    return sorted([tuple(canon(v) for v in r) for r in rows], key=str)


def run_both(spark, name: str, sf_dir: str, spark_dir: str | None = None):
    """Spark's and DuckDB's (columns, rows); Spark reads ``spark_dir``
    (the same data under another path) when given."""
    sdf = QUERIES[name](spark, spark_dir or sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = duck_con(sf_dir)
    res = con.execute(ORACLE[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    con.close()
    return scols, srows, dcols, drows


# every query at sf0.001; the grouped-median queries also at sf0.01, where
# ten times the rows share each (group, bin) cell of the rank search
@pytest.mark.parametrize("name,sf_dir", [
    *(pytest.param(n, SF_SMALL, id=n) for n in sorted(QUERIES)),
    *(pytest.param(n, SF_MED, id=f"{n}-sf0.01")
      for n in ("city_stats", "district_stats")),
])
def test_query_matches_oracle(spark, name, sf_dir):
    scols, srows, dcols, drows = run_both(spark, name, sf_dir)
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} vs {len(drows)}"
    assert len(srows) > 0, f"{name}: empty result"
    sc, dc = canon_rows(srows), canon_rows(drows)
    mismatches = [(a, b) for a, b in zip(sc, dc) if a != b]
    assert not mismatches, f"{name}: first mismatches {mismatches[:3]}"
