"""Focused tests for optimization internals (round 15)."""

import re

from pyspark.sql import Window
from pyspark.sql import functions as F

from rental_engine.queries import _exact_ranks, _price, _price_cutoffs, load
from tests.conftest import SF_MED, SF_SMALL, physical_plan


def naive_rank_values(df, col, ks):
    ranked = df.withColumn("rn", F.row_number().over(Window.orderBy(col)))
    rows = ranked.where(F.col("rn").isin(ks)).select("rn", col).collect()
    return {r["rn"]: r[col] for r in rows}


def test_exact_ranks_matches_global_sort(spark):
    for sf in (SF_SMALL, SF_MED):
        li = load(spark, sf, "lineitem").select(_price().alias("price"))
        n = li.count()
        ks = sorted({1, 2, (n + 19) // 20, n // 2, (19 * n + 19) // 20, n})
        n_got, got = _exact_ranks(li, [], "price", lambda _, m: ks)[()]
        want = naive_rank_values(li, "price", ks)
        assert n_got == n and got == want, f"{sf}: {got} != {want}"


def test_price_cutoffs_match_naive(spark):
    from rental_engine.queries import _Ctx
    li = load(spark, SF_MED, "lineitem").select(_price().alias("price"))
    n = li.count()
    want = naive_rank_values(li, "price", [(n + 19) // 20, (19 * n + 19) // 20])
    lo, hi = _price_cutoffs(_Ctx(spark, SF_MED))
    assert (lo, hi) == (want[(n + 19) // 20], want[(19 * n + 19) // 20])


def test_declared_schemas_match_footers(spark):
    """The explicit reader schemas (which skip per-read footer
    inference) must stay identical to the actual parquet footers at
    EVERY scale factor the driver uses (a renamed column would
    otherwise silently read as NULL at the unchecked SFs)."""
    from rental_engine.queries import _SCHEMAS, TABLES
    from pyspark.sql import types as T
    for sf in (SF_SMALL, SF_MED, "/root/testdata/sf0.1"):
        for name in TABLES:
            inferred = spark.read.parquet(f"{sf}/{name}.parquet").schema
            declared = T.StructType.fromDDL(_SCHEMAS[name])
            assert declared == inferred, (sf, name)


def test_exact_ranks_constant_column(spark):
    """All-equal values put every rank in one bin; the dense-bin path
    (recursion bottoms out, then collects) must still be exact."""
    df = spark.range(40000).selectExpr("CAST(7.5 AS DOUBLE) AS v")
    got = _exact_ranks(df, [], "v", lambda _, n: [1, 20000, 40000])
    assert got == {(): (40000, {1: 7.5, 20000: 7.5, 40000: 7.5})}


def test_exact_ranks_dense_bin_recursion(spark):
    """More rows than the collect limit inside one coarse bin forces
    the finer-scale recursion; values designed to stay in one depth-0
    log bin (all within a factor of 1/512 in log space)."""
    # spread 5e-5 in ln-space => a single depth-0 bin of 50000 rows
    # (> _COLLECT_LIMIT), so the finer scale must kick in
    df = spark.range(50000).selectExpr("1000.0 + id * 1e-6 AS v")
    ks = [1, 25000, 50000]
    got = _exact_ranks(df, [], "v", lambda _, n: ks)
    want = {1: 1000.0, 25000: 1000.0 + 24999 * 1e-6, 50000: 1000.0 + 49999 * 1e-6}
    assert got == {(): (50000, want)}


def naive_median_counts(df, keys):
    w_rank = Window.partitionBy(*keys).orderBy("price_per_unit")
    w_all = Window.partitionBy(*keys)
    return (df.select(*keys, "price_per_unit")
              .withColumn("rn", F.row_number().over(w_rank))
              .withColumn("cnt", F.count(F.lit(1)).over(w_all))
              .where(F.expr("rn = (cnt + 1) DIV 2"))
              .select(*keys, F.col("cnt").alias("n_listings"),
                      F.col("price_per_unit").alias("median_ppu")))


def test_grouped_median_matches_window(spark):
    """The grouped binned rank search must reproduce the per-group
    row_number median bit-for-bit, on real data and on a synthetic
    set with duplicate values and odd/even group sizes."""
    from rental_engine.queries import (_Ctx, _cleaned_lineitem, _dims,
                                       _grouped_median, _log_bin)
    for sf in (SF_SMALL, SF_MED):
        ctx = _Ctx(spark, sf)
        cleaned = _cleaned_lineitem(ctx)
        cl = _dims(ctx, cleaned, {"city", "district"})
        for keys in (["city"], ["city", "district"]):
            need = set(keys)
            got = sorted(_grouped_median(
                cleaned, keys,
                lambda df, small_fact=False: _dims(ctx, df, need, small_fact)))
            want = sorted(map(tuple, naive_median_counts(cl, keys).collect()))
            assert got == want, f"{sf} {keys}"
    # synthetic: duplicates, ties at the median, even/odd sizes
    syn = spark.createDataFrame(
        [("a", 1.0), ("a", 1.0), ("a", 2.0), ("a", 7.5),       # even, tie at median
         ("b", 3.0),                                            # singleton
         ("c", 5.0), ("c", 5.0), ("c", 5.0), ("c", 9.0), ("c", 0.5)],
        ["g", "price_per_unit"]).withColumn("b", _log_bin("price_per_unit", 0))
    got = sorted(_grouped_median(syn, ["g"], lambda df, small_fact=False: df))
    want = sorted(map(tuple, naive_median_counts(syn, ["g"]).collect()))
    assert got == want and got == [("a", 4, 1.0), ("b", 1, 3.0), ("c", 5, 5.0)]


def test_grouped_median_null_key(spark, monkeypatch):
    """A NULL group key crosses both Arrow round trips (the count pull
    and the broadcast target cells) and must still match its own rows
    through the eqNullSafe join: in the pull, after a refinement and in
    the per-cell window past _MAX_DEPTH."""
    import rental_engine.queries as Q
    syn = spark.createDataFrame(
        [(None, 2.0), (None, 2.0), (None, 3.0), ("a", 1.0), ("a", 4.0),
         (None, 0.5), ("a", 4.0)], "g string, price_per_unit double")
    want = {r[0]: tuple(r[1:]) for r in naive_median_counts(syn, ["g"]).collect()}
    assert want == {None: (4, 2.0), "a": (3, 4.0)}
    for limit in (Q._COLLECT_LIMIT, 1):  # 1: every cell is dense
        monkeypatch.setattr(Q, "_COLLECT_LIMIT", limit)
        got = Q._grouped_median(syn, ["g"], lambda df, small_fact=False: df)
        assert {r[0]: tuple(r[1:]) for r in got} == want, limit


def test_grouped_median_dense_cell_path(spark, monkeypatch):
    """A (group, bin) cell past the pull's _COLLECT_LIMIT must be
    resolved by the recursive rank search and still give the window
    answer."""
    import rental_engine.queries as Q
    from rental_engine.queries import _grouped_median, _log_bin
    syn = (spark.range(3001)
           .selectExpr("CASE WHEN id < 3000 THEN 'dense' ELSE 'tiny' END AS g",
                       "CASE WHEN id < 3000 THEN 5.0 + (id % 3) * 1e-9 "
                       "ELSE 42.0 END AS price_per_unit")
           .withColumn("b", _log_bin("price_per_unit", 0)))
    monkeypatch.setattr(Q, "_COLLECT_LIMIT", 1000)
    got = sorted(_grouped_median(syn, ["g"], lambda df, small_fact=False: df))
    want = sorted(map(tuple, naive_median_counts(syn, ["g"]).collect()))
    assert got == want
    assert got == [("dense", 3000, 5.0 + 1e-9), ("tiny", 1, 42.0)]


def test_grouped_median_batches_dense_cells(spark, monkeypatch):
    """Simultaneously dense cells are refined together: the count and
    pull jobs grow with the refinement levels, never with the number of
    dense cells, and the medians stay the window answer."""
    import rental_engine.queries as Q
    sc = spark.sparkContext
    real, levels = Q._exact_ranks, []

    def counted(*args, **kwargs):
        levels.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(Q, "_exact_ranks", counted)

    def run(n_dense):
        # n_dense groups of 2000 rows that share one depth-0 log bin
        # (all within 2.5e-4 in ln), shifted so their medians differ,
        # plus a one-row group
        syn = spark.range(2000 * n_dense + 1).selectExpr(
            f"CASE WHEN id < {2000 * n_dense} THEN concat('g', id % {n_dense})"
            " ELSE 'tiny' END AS g",
            f"CASE WHEN id < {2000 * n_dense} THEN 5.0 * (1 + "
            f"(id div {n_dense} + 100 * (id % {n_dense})) * 1e-7) "
            "ELSE 42.0 END AS price_per_unit")
        group = f"batched-{n_dense}-{Q._COLLECT_LIMIT}"
        levels.clear()
        sc.setJobGroup(group, group)
        try:
            got = sorted(Q._grouped_median(syn, ["g"],
                                           lambda df, small_fact=False: df))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        want = sorted(map(tuple, naive_median_counts(syn, ["g"]).collect()))
        assert got == want, n_dense
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(levels), len(sc.statusTracker().getJobIdsForGroup(group))

    one_level = run(3)
    monkeypatch.setattr(Q, "_COLLECT_LIMIT", 500)  # every 2000-row cell is dense
    three, six = run(3), run(6)
    assert one_level[0] == 1 and three[0] == six[0] == 2
    assert three[1] == six[1] > one_level[1]


def test_grouped_median_max_depth_window(spark, monkeypatch):
    """Grouped cells still dense after _MAX_DEPTH refinements (equal
    values) are ranked by the per-cell window and give the window
    answer."""
    import rental_engine.queries as Q
    syn = spark.range(4000).selectExpr(
        "CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END AS g",
        "CAST(CASE WHEN id < 3000 THEN 2.5 + id % 2 ELSE 7.0 + id END AS DOUBLE)"
        " AS price_per_unit")
    monkeypatch.setattr(Q, "_COLLECT_LIMIT", 1000)
    got = sorted(Q._grouped_median(syn, ["g"], lambda df, small_fact=False: df))
    want = sorted(map(tuple, naive_median_counts(syn, ["g"]).collect()))
    assert got == want and got == [("even", 2000, 2.5), ("odd", 2000, 3.5)]


def test_rank_search_jobs_are_labelled(spark, monkeypatch):
    """Every job the rank search launches carries a ``ranks:`` job
    description (count and pull per level, the max-depth window), and
    the caller's own description and job group come back afterwards."""
    import rental_engine.queries as Q
    sc = spark.sparkContext
    group = "rank-labels"
    sc.setJobGroup(group, "caller")
    try:
        # district_stats' build: the cutoffs and the grouped median
        Q.district_stats(spark, SF_SMALL)
        # equal values stay dense at every level down to the window
        monkeypatch.setattr(Q, "_COLLECT_LIMIT", 10)
        Q._exact_ranks(spark.range(100).selectExpr("CAST(7.5 AS DOUBLE) AS v"),
                       [], "v", lambda _, n: [1, n])
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    labels = [store.job(j).description() for j in sc.statusTracker().getJobIdsForGroup(group)]
    labels = [d.get() if d.isDefined() else None for d in labels]
    assert labels and all(d and d.startswith("ranks:") for d in labels), labels
    assert {"ranks:count:0", "ranks:pull:0", "ranks:count:3",
            "ranks:window"} <= set(labels), set(labels)


def test_median_queries_use_no_python_rdd(spark, monkeypatch, pulled_plans):
    """city_stats and district_stats build every local frame from an
    Arrow table: no SparkSession.createDataFrame call with a Python
    list, and no Scan ExistingRDD (which starts Python workers on every
    execution) in any plan they run, eager pulls and final action.  The
    keyed value pull broadcasts its few lineitem rows (``small_fact``),
    and no plan sorts or windows the data."""
    import rental_engine.queries as Q
    from pyspark.sql import SparkSession
    real_create = SparkSession.createDataFrame
    inputs, plans = [], pulled_plans

    def create(self, data, *args, **kwargs):
        inputs.append(type(data))
        return real_create(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", create)
    for name in ("city_stats", "district_stats"):
        df = Q.QUERIES[name](spark, SF_SMALL)
        assert df.count() > 0
        plans.append((name, physical_plan(df)))
    assert inputs and all(t is not list for t in inputs), inputs
    assert not [p for _, p in plans if "ExistingRDD" in p]
    assert any("LocalTableScan" in p for _, p in plans)
    keyed = [p for label, p in plans
             if label.startswith("ranks:pull") and "[l_orderkey]" in p]
    assert len(keyed) == 2, plans
    assert all("BroadcastHashJoin [l_orderkey], [o_orderkey], Inner, BuildLeft"
               in p for p in keyed), keyed
    assert not [p for _, p in plans if re.search(r"\b(Sort|Window) \[", p)]


def test_query_builds_label_every_job(spark):
    """Every job a query launches while it is being built (its eager
    driver pulls) carries a job description."""
    import rental_engine.queries as Q
    sc = spark.sparkContext
    groups = {name: f"build:{name}" for name in Q.QUERIES}
    try:
        for name, fn in Q.QUERIES.items():
            sc.setLocalProperty("spark.jobGroup.id", groups[name])
            fn(spark, SF_SMALL)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = {name: sc.statusTracker().getJobIdsForGroup(g) for name, g in groups.items()}
    assert jobs["city_stats"] and jobs["embed_knn"], jobs
    unlabelled = {name: ids for name, ids in jobs.items()
                  if not all(store.job(j).description().isDefined() for j in ids)}
    assert not unlabelled, unlabelled


def test_driver_top20_matches_spark_order(spark, monkeypatch):
    """The driver-side top 20 of city_stats and district_stats keeps the
    cities Spark's own ordering keeps (count descending, then city by
    UTF-8 bytes) when 22 cities tie, non-ASCII names included."""
    import rental_engine.queries as Q
    # 20th place falls between U+FFFD and U+1F600, whose UTF-16 order
    # (a surrogate pair sorts first) differs from their UTF-8 order
    cities = [f"C{i}" for i in range(17)] + [
        "Z\u00fcrich", "\u0141\u00f3d\u017a", "\U0001f600", "\ufffd", "\U0001f601"]
    by_city = [(c, 10, 1.5) for c in reversed(cities)]
    by_district = [(c, d, 5, 2.5) for c in reversed(cities) for d in ("a", "b")]
    monkeypatch.setattr(Q, "_grouped_median", lambda df, keys, attach:
                        by_district if "district" in keys else by_city)
    ref = spark.createDataFrame(by_city, "city string, n_listings bigint, m double")
    want = sorted(r[0] for r in ref.orderBy(F.desc("n_listings"), "city")
                                   .limit(20).collect())
    assert sorted(r[0] for r in Q.city_stats(spark, SF_SMALL).collect()) == want
    assert sorted({r[0] for r in Q.district_stats(spark, SF_SMALL).collect()}) == want


def test_region_preagg_matches_direct(spark, monkeypatch):
    """The scale-up shape (pre-aggregate lineitem by l_orderkey before
    the shuffled dim join), forced by a zero broadcast cap, must be
    bit-identical to the direct shape; only the forced plan aggregates
    by l_orderkey below the dimension join."""
    import rental_engine.queries as Q

    def rollup(sf, col, out):
        df = Q._region_rollup(spark, sf, col, out)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        below_join = plan[plan.index("Join Inner, (l_orderkey#"):]
        return (sorted(map(tuple, df.collect())),
                "Aggregate [l_orderkey#" in below_join)

    for sf in (SF_SMALL, SF_MED):
        for col, out in (("price", "avg_price"), ("price_per_unit", "avg_ppu")):
            direct, direct_preagg = rollup(sf, col, out)
            with monkeypatch.context() as m:
                m.setattr(Q, "_DIM_BROADCAST_CAP", 0)
                pre, forced_preagg = rollup(sf, col, out)
            assert direct == pre, f"{sf} {col}"
            assert forced_preagg and not direct_preagg, f"{sf} {col}"


def test_dedup_hash_groups_match_signature_groups(spark):
    """Grouping on the 128-bit signature digest must give the same
    result as grouping on the signature string itself."""
    from rental_engine.queries import docs_dedup
    for sf in (SF_SMALL, SF_MED):
        got = sorted(map(tuple, docs_dedup(spark, sf).collect()))
        want = sorted(map(tuple, (
            load(spark, sf, "documents")
            .selectExpr("doc_id",
                        "array_join(array_sort(array_distinct("
                        "split(lower(text), ' '))), ' ') AS signature",
                        "CAST(size(array_distinct(split(lower(text), ' ')))"
                        " AS INT) AS n_tokens")
            .groupBy("signature")
            .agg(F.min("doc_id").alias("survivor_doc_id"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.min("n_tokens").alias("n_tokens"))
            .select("survivor_doc_id", "n_members", "n_tokens")).collect()))
        assert got == want, sf


def test_knn_query_guard_and_chunking(spark, monkeypatch):
    """The bounded collect must fail loudly past the limit, and query
    chunking must not change any cosine."""
    import rental_engine.queries as Q
    base = sorted(map(tuple, Q.embed_knn(spark, SF_SMALL).collect()))
    monkeypatch.setattr(Q, "KNN_QUERY_CHUNK", 3)
    chunked = sorted(map(tuple, Q.embed_knn(spark, SF_SMALL).collect()))
    assert base == chunked
    monkeypatch.setattr(Q, "KNN_MAX_QUERIES", 2)
    import pytest
    with pytest.raises(ValueError, match="query side exceeds"):
        Q.embed_knn(spark, SF_SMALL)


def test_events_hourly_plan_has_no_expand(spark):
    """A single count(DISTINCT user_id) beside plain aggregates must
    plan as a two-level aggregation, never an Expand that copies every
    input row before the exchange."""
    from rental_engine.queries import events_hourly
    df = events_hourly(spark, SF_SMALL)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan and "Expand" not in plan, plan


def test_qsum_overflow_headroom(spark):
    """_qsum documents a sum(|x|)*1e6 < 2^63 validity limit (past it
    a BIGINT sum raises ARITHMETIC_OVERFLOW under ANSI mode, the bench
    session's setting, and wraps without it).  Prove the headroom at the
    LARGEST bench scale factor for every quantized accumulation the
    queries perform, including the regression's qx*qy products."""
    li = load(spark, "/root/testdata/sf0.1", "lineitem")
    r = li.selectExpr(
        "SUM(ABS(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT))) AS sp",
        "SUM(ABS(CAST(floor(l_extendedprice * (1 - l_discount) / l_quantity * 1e6) AS BIGINT))) AS sppu",
        "SUM(ABS(CAST(floor(l_quantity * 100.0) AS BIGINT) * "
        "CAST(floor(l_extendedprice * (1 - l_discount) * 100.0) AS BIGINT))) AS sxy",
    ).collect()[0]
    ev = load(spark, "/root/testdata/sf0.1", "events").selectExpr(
        "SUM(ABS(CAST(floor(value * 1e6) AS BIGINT))) AS sv").collect()[0]
    for v in (r["sp"], r["sppu"], r["sxy"], ev["sv"]):
        assert v < 2 ** 62, v  # >= 2x headroom below the wrap point


def test_numpy_fold_matches_sql_fold(spark):
    """The numpy column-ordered fold must be bit-identical to the
    Catalyst left-fold aggregate it replaced."""
    from rental_engine.queries import _arrow_list_to_mat, _fold_dot
    emb = load(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    sql_fold = emb.selectExpr(
        "vec_id",
        "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v) AS nn").collect()
    import numpy as np
    import pyarrow as pa
    rows = emb.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float32).astype(np.float64)
    got = dict(zip((r["vec_id"] for r in rows), _fold_dot(mat, mat)))
    for r in sql_fold:
        assert got[r["vec_id"]] == r["nn"], r["vec_id"]
    # arrow list extraction roundtrip
    tbl = pa.table({"embedding": pa.array([list(r["embedding"]) for r in rows],
                                          type=pa.list_(pa.float32()))})
    m2 = _arrow_list_to_mat(tbl.column("embedding"))
    assert (m2 == mat).all()
