"""Oracle parity on edge inputs: sf0.001 read through a file:// URI, and
sf0.001 copies with one table replaced, written with pyarrow under the
test's tmp_path: an empty lineitem, a single-row lineitem, every price
equal, NULL user_id."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rental_engine import QUERIES
from rental_engine.queries import TABLES
from tests.conftest import SF_SMALL
from tests.test_oracle import canon_rows, run_both

# every query that reads lineitem (all of them through the price band)
LINEITEM_QUERIES = [
    "cleaned_listings", "city_stats", "district_stats", "avg_price_by_rooms",
    "count_by_rooms", "advertiser_share", "region_avg_price", "region_avg_ppu",
    "price_area_regression", "price_histogram",
]


def edge_dir(path, name: str, table: pa.Table) -> str:
    """sf0.001 with table ``name`` replaced by ``table``."""
    for t in TABLES:
        if t != name:
            os.symlink(f"{SF_SMALL}/{t}.parquet", os.path.join(path, f"{t}.parquet"))
    pq.write_table(table, os.path.join(path, f"{name}.parquet"))
    return str(path)


def with_column(table: pa.Table, name: str, values: pa.Array) -> pa.Table:
    i = table.schema.get_field_index(name)
    return table.set_column(i, table.schema.field(i), values)


def assert_parity(spark, name: str, sf_dir: str, spark_dir: str | None = None):
    scols, srows, dcols, drows = run_both(spark, name, sf_dir, spark_dir)
    assert scols == dcols, f"{name}: column mismatch {scols} vs {dcols}"
    assert canon_rows(srows) == canon_rows(drows), f"{name}: {srows[:3]} vs {drows[:3]}"
    return srows


@pytest.fixture(scope="module")
def empty_lineitem(tmp_path_factory):
    schema = pq.read_schema(f"{SF_SMALL}/lineitem.parquet")
    return edge_dir(tmp_path_factory.mktemp("empty_lineitem"), "lineitem",
                    schema.empty_table())


@pytest.mark.parametrize("name", LINEITEM_QUERIES)
def test_empty_lineitem_matches_oracle(spark, empty_lineitem, name):
    """No rows means no ranks to find: the cutoffs are NULL and the
    band is empty, as in the oracle."""
    rows = assert_parity(spark, name, empty_lineitem)
    assert rows == ([(0, None, None)] if name == "price_area_regression" else [])


@pytest.fixture(scope="module")
def degenerate_lineitem(tmp_path_factory):
    """Data dirs whose lineitem is its first row alone, or has every
    price equal (one extended price, no discount)."""
    li = pq.read_table(f"{SF_SMALL}/lineitem.parquet")
    n = li.num_rows
    equal = with_column(with_column(li, "l_extendedprice", pa.array([1000.0] * n)),
                        "l_discount", pa.array([0.0] * n))
    return {case: edge_dir(tmp_path_factory.mktemp(case), "lineitem", table)
            for case, table in (("single_row", li.slice(0, 1)),
                                ("equal_prices", equal))}


@pytest.mark.parametrize("name", LINEITEM_QUERIES)
@pytest.mark.parametrize("case", ["single_row", "equal_prices"])
def test_degenerate_lineitem_matches_oracle(spark, degenerate_lineitem, case, name):
    """One price makes both cutoffs that price: every row is in the band,
    the cutoff search sees one bin, the histogram has zero width and a
    single row leaves the regression without a slope."""
    assert assert_parity(spark, name, degenerate_lineitem[case])


def test_events_hourly_null_user_matches_oracle(spark, tmp_path):
    """count(DISTINCT user_id) must skip NULL users as the oracle does
    (the testdata has none, so a third of them are blanked here)."""
    ev = pq.read_table(f"{SF_SMALL}/events.parquet")
    users = [None if i % 3 == 0 else u
             for i, u in enumerate(ev.column("user_id").to_pylist())]
    ev = with_column(ev, "user_id", pa.array(users, pa.int64()))
    rows = assert_parity(spark, "events_hourly", edge_dir(tmp_path, "events", ev))
    assert rows and sum(r[2] for r in rows) == ev.num_rows


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_file_uri_matches_oracle(spark, name):
    """A storage URI that the local filesystem cannot stat as given:
    Spark reads file://<sf0.001>, the oracle reads the plain path."""
    assert_parity(spark, name, SF_SMALL, "file://" + SF_SMALL)
