from __future__ import annotations

import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


def physical_plan(df) -> str:
    """``df``'s physical plan (the final one once it has run) with the
    expression ids masked: ``l_orderkey#12L`` reads ``l_orderkey``."""
    return re.sub(r"#\d+L?", "",
                  df._jdf.queryExecution().executedPlan().toString())


@pytest.fixture
def pulled_plans(monkeypatch):
    """``(label, physical plan)`` of every ``queries._pull`` made while
    the test runs; the test may append plans of its own."""
    import rental_engine.queries as Q
    real, plans = Q._pull, []

    def pull(df, label):
        rows = list(real(df, label))
        plans.append((label, physical_plan(df)))
        return rows

    monkeypatch.setattr(Q, "_pull", pull)
    return plans


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder
        .master("local[4]")
        .appName("rental-engine-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()
