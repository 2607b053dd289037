"""Plan shapes the engine relies on, asserted on the physical plans.

The engine hints a broadcast only where Catalyst's size estimate is
known wrong (the dimension mapping's join to lineitem); every other join
strategy is the planner's.  These tests pin both halves at sf0.01, and
force the scale-up shapes (a zero dimension-broadcast cap, no automatic
broadcast) to show they shuffle instead of broadcasting a fact table.
"""

from __future__ import annotations

from contextlib import contextmanager

import rental_engine.queries as Q
from tests.conftest import SF_MED, SF_SMALL, physical_plan

_THRESHOLD = "spark.sql.autoBroadcastJoinThreshold"


@contextmanager
def no_auto_broadcast(spark):
    """The session with automatic broadcast joins off, restored after."""
    old = spark.conf.get(_THRESHOLD)
    spark.conf.set(_THRESHOLD, "-1")
    try:
        yield
    finally:
        spark.conf.set(_THRESHOLD, old)


def test_dimension_join_builds_on_mapping(spark):
    """The hinted mapping is the build side of the l_orderkey join, and
    the planner broadcasts nation and region by itself."""
    p = physical_plan(Q.cleaned_listings(spark, SF_MED))
    assert "BroadcastHashJoin [l_orderkey], [o_orderkey], Inner, BuildRight" in p, p
    assert "BroadcastHashJoin [c_nationkey], [n_nationkey], Inner, BuildRight" in p, p
    assert "BroadcastHashJoin [n_regionkey], [r_regionkey], Inner, BuildRight" in p, p


def test_dimension_join_past_cap_shuffles(spark, monkeypatch):
    """Past the cap the fact rows shuffle on l_orderkey.  The cap alone
    is not enough at test scale (the planner then broadcasts lineitem),
    so automatic broadcasts are off too; no BroadcastExchange at all
    also means no hint on nation or region."""
    monkeypatch.setattr(Q, "_DIM_BROADCAST_CAP", 0)
    with no_auto_broadcast(spark):
        p = physical_plan(Q.cleaned_listings(spark, SF_MED))
    assert "hashpartitioning(l_orderkey," in p, p
    assert "BroadcastExchange" not in p, p


def test_dedup_shuffles_digest(spark):
    """docs_dedup's exchange carries the two 64-bit digest halves."""
    assert "hashpartitioning(h1, h2," in physical_plan(Q.docs_dedup(spark, SF_SMALL))


def test_multimodal_broadcast_is_planner_choice(spark):
    """multimodal_stats broadcasts at test scale only because the planner
    sizes a side under the threshold: with automatic broadcasts off
    nothing is broadcast, so no unconditional hint is in the query."""
    assert "BroadcastHashJoin" in physical_plan(Q.multimodal_stats(spark, SF_MED))
    with no_auto_broadcast(spark):
        p = physical_plan(Q.multimodal_stats(spark, SF_MED))
    assert "BroadcastExchange" not in p, p


def test_no_case_mapping_in_any_plan(spark, pulled_plans):
    """No query, eager pulls included, evaluates a Catalyst lower() or
    upper() (docs_dedup lowercases in its Python kernel), so the session
    needs no case-mapping setting."""
    plans = [physical_plan(fn(spark, SF_SMALL)) for fn in Q.QUERIES.values()]
    plans += [p for _, p in pulled_plans]
    assert len(plans) > len(Q.QUERIES)
    assert not [p for p in plans if "lower(" in p or "upper(" in p]
