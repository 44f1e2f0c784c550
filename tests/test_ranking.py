"""Ranking / rollup / cube operators (meta_frame_spark.operators.ranking)."""

from pyspark.sql import functions as F

from meta_frame_spark.operators.ranking import (
    cube_aggregate,
    rollup_aggregate,
    top_k_per_group,
)


def test_top_k_per_group_values(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0), ("b", 4, 5.0)],
        "g string, id int, v double",
    )
    got = sorted(
        (r.g, r.id, r.rank)
        for r in top_k_per_group(df, ["g"], "v", k=2, tiebreak="id").collect()
    )
    assert got == [("a", 2, 1), ("a", 3, 2), ("b", 4, 1)]


def test_top_k_pushdown_in_plan(spark, orders):
    out = top_k_per_group(orders, ["o_orderstatus"], "o_totalprice", k=3, tiebreak="o_orderkey")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # Spark's rank-limit pushdown: map-side WindowGroupLimit caps rows
    # per group before the shuffle
    assert "WindowGroupLimit" in plan


def test_rollup_grain_counts(spark, lineitem):
    out = rollup_aggregate(
        lineitem, ["l_returnflag", "l_linestatus"], {"l_quantity": "sum"}
    ).collect()
    n_pairs = lineitem.select("l_returnflag", "l_linestatus").distinct().count()
    n_flags = lineitem.select("l_returnflag").distinct().count()
    assert len(out) == n_pairs + n_flags + 1  # pairs + per-flag + grand total
    grand = [r for r in out if r.l_returnflag is None and r.l_linestatus is None]
    assert len(grand) == 1
    total = lineitem.agg(F.sum("l_quantity")).first()[0]
    assert abs(grand[0].sum_l_quantity - total) < 1e-6


def test_cube_has_all_grains(spark, orders):
    out = cube_aggregate(orders, ["o_orderstatus", "o_orderpriority"], {"o_totalprice": "sum"})
    rows = out.collect()
    grains = {(r.o_orderstatus is None, r.o_orderpriority is None) for r in rows}
    assert grains == {(False, False), (False, True), (True, False), (True, True)}


def test_rollup_no_grand_total_keeps_null_keys(spark):
    """grand_total=False must use grouping_id, not a null filter —
    genuine NULL key values stay in the output."""
    df = spark.createDataFrame(
        [(None, "x", 1.0), ("a", "x", 2.0), ("a", "y", 3.0)],
        "g1 string, g2 string, v double",
    )
    rows = rollup_aggregate(df, ["g1", "g2"], {"v": "sum"}, grand_total=False).collect()
    # detail row for the NULL data key survives
    assert any(r.g1 is None and r.g2 == "x" for r in rows)
    # the NULL-key subtotal (g1=NULL, g2 rolled) survives too
    assert any(r.g1 is None and r.g2 is None and r.sum_v == 1.0 for r in rows)
    # but no grand-total row (sum over everything = 6.0 with both null)
    assert not any(r.g1 is None and r.g2 is None and r.sum_v == 6.0 for r in rows)


def test_empty_group_agg_is_distinct(spark, lineitem):
    """Dialect B/B': group_by with no aggregations degrades to
    distinct-on-keys instead of an opaque AssertionError."""
    from meta_frame_spark.plans.builder import aggregate_and_join, nested_aggregate

    out_b = aggregate_and_join(
        lineitem,
        {"unique_id": "x",
         "aggregation": {"group_by": ["l_returnflag"], "aggregations": {}}},
    )
    assert sorted(r.l_returnflag for r in out_b.collect()) == sorted(
        r.l_returnflag for r in lineitem.select("l_returnflag").distinct().collect()
    )
    out_bp = nested_aggregate(lineitem, {"id": "y", "group_by": ["l_linestatus"]})
    assert out_bp.columns == ["l_linestatus"]


def test_rrf_fuse_hand_computed(spark):
    from meta_frame_spark.operators.ranking import rrf_fuse

    df = spark.createDataFrame(
        [(1, 9.0, 1.0), (2, 5.0, 3.0), (3, 7.0, 2.0)],
        ["doc_id", "s1", "s2"],
    )
    out = {r.doc_id: r for r in rrf_fuse(df, ["s1", "s2"]).collect()}
    assert (out[1].rank_s1, out[1].rank_s2) == (1, 3)
    assert (out[2].rank_s1, out[2].rank_s2) == (3, 1)
    assert (out[3].rank_s1, out[3].rank_s2) == (2, 2)
    assert out[3].rrf == round(2 / 62, 6)
    assert out[1].rrf == round(1 / 61 + 1 / 63, 6)


def test_rrf_fuse_ties_break_by_id_and_nulls_last(spark):
    from meta_frame_spark.operators.ranking import rrf_fuse

    df = spark.createDataFrame(
        [(30, 5.0), (10, 5.0), (20, None)], ["doc_id", "s"]
    ).repartition(3)
    out = {r.doc_id: r.rank_s for r in rrf_fuse(df, ["s"]).collect()}
    assert out == {10: 1, 30: 2, 20: 3}  # tie -> id asc; null worst

    import pytest

    with pytest.raises(ValueError, match="at least one score"):
        rrf_fuse(df, [])


def test_quantile_match_equalizes_group_distributions(spark):
    """Groups A=[1,3,5], B=[2,4,6] both map onto the pooled empirical
    CDF: percentiles (0, .5, 1) hit pooled indices (1, 4, 6) -> both
    groups calibrate to exactly {1, 4, 6}."""
    from meta_frame_spark.operators.ranking import quantile_match

    df = spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 3.0), ("a", 3, 5.0),
         ("b", 4, 2.0), ("b", 5, 4.0), ("b", 6, 6.0)],
        ["g", "id", "v"],
    )
    out = quantile_match(df, "v", ["g"], "id")
    cal = {(r.g, r.v): r.v_cal for r in out.collect()}
    assert cal == {("a", 1.0): 1.0, ("a", 3.0): 4.0, ("a", 5.0): 6.0,
                   ("b", 2.0): 1.0, ("b", 4.0): 4.0, ("b", 6.0): 6.0}
    # calibration is monotone within each group
    for g in ("a", "b"):
        vals = sorted((r.v, r.v_cal) for r in out.collect() if r.g == g)
        assert [c for _, c in vals] == sorted(c for _, c in vals)


def test_quantile_match_exact_builds_without_a_job(spark, tmp_path):
    """Exact mode's reference size rides the plan as a one-row
    broadcast aggregate: building the frame must start no Spark job
    (an eager count() re-ran the whole upstream as a query of its own),
    and an all-null input still calibrates every row to NULL."""
    from meta_frame_spark.operators.ranking import quantile_match

    src = str(tmp_path / "scores")
    spark.createDataFrame(
        [("a", 1, 1.0), ("a", 2, 3.0), ("b", 3, 2.0), ("b", 4, None)],
        "g string, id int, v double",
    ).write.parquet(src)
    df = spark.read.parquet(src).filter(F.col("id") > 0)
    sc = spark.sparkContext
    sc.setJobGroup("quantile_match_exact_build", "test")
    try:
        out = quantile_match(df, "v", ["g"], "id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("quantile_match_exact_build") == []
    assert sorted((r.id, r.v_cal) for r in out.collect()) == [
        (1, 1.0), (2, 3.0), (3, 1.0), (4, None)
    ]
    all_null = quantile_match(df.filter(F.col("v").isNull()), "v", ["g"], "id")
    assert [(r.id, r.v_cal) for r in all_null.collect()] == [(4, None)]


def test_quantile_match_deterministic_and_single_row_group(spark):
    from meta_frame_spark.operators.ranking import quantile_match

    rows = [("g%d" % (i % 3), i, float((i * 7) % 13)) for i in range(60)]
    rows.append(("solo", 999, 5.0))  # singleton: percent_rank 0 -> idx 1
    df = spark.createDataFrame(rows, ["g", "id", "v"])
    a = sorted(tuple(r) for r in quantile_match(df, "v", ["g"], "id").collect())
    b = sorted(tuple(r) for r in
               quantile_match(df.repartition(7), "v", ["g"], "id").collect())
    assert a == b
    solo = [r for r in quantile_match(df, "v", ["g"], "id").collect()
            if r.g == "solo"][0]
    assert solo.v_cal == min(v for _, _, v in rows)  # global minimum


def test_rrf_fuse_partitioned_identical_to_window(spark):
    """rank_mode="partitioned" (range-partition + offsets, the scale
    path) must be byte-identical to the window mode — same ranks,
    same fused scores, nulls and ties included."""
    import pytest

    from meta_frame_spark.operators.ranking import rrf_fuse

    rows = [
        (i, float(i % 7) if i % 11 else None, float((i * 3) % 5))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, s1 double, s2 double")
    a = sorted(tuple(r) for r in rrf_fuse(df, ["s1", "s2"]).collect())
    b = sorted(
        tuple(r)
        for r in rrf_fuse(
            df.repartition(7), ["s1", "s2"], rank_mode="partitioned"
        ).collect()
    )
    assert a == b
    with pytest.raises(ValueError, match="rank_mode"):
        rrf_fuse(df, ["s1"], rank_mode="bogus")

    # NaN scores: Spark orders NaN above every real double, so the
    # window path ranks NaN first under desc_nulls_last and just
    # before nulls under asc_nulls_last; the partitioned tier flag
    # must reproduce both (ADVICE r9 — negating the score alone
    # flips NaN to the wrong end).
    nan_rows = [
        (1, float("nan")), (2, 5.0), (3, None), (4, 1.0),
        (5, float("nan")),
    ]
    ndf = spark.createDataFrame(nan_rows, "doc_id long, s1 double")
    for desc in (True, False):
        w = sorted(
            tuple(r)
            for r in rrf_fuse(ndf, ["s1"], descending=desc).collect()
        )
        p = sorted(
            tuple(r)
            for r in rrf_fuse(
                ndf.repartition(3), ["s1"],
                descending=desc, rank_mode="partitioned",
            ).collect()
        )
        assert w == p

    # reserved temp sort-key columns raise instead of being clobbered
    from pyspark.sql import functions as F

    for bad in ("_nf", "_ov"):
        with pytest.raises(ValueError, match="reserved"):
            rrf_fuse(
                df.withColumn(bad, F.lit(1)), ["s1"],
                rank_mode="partitioned",
            )


def test_quantile_match_bucketed_within_grid_and_null_contract(spark):
    """Bucketed mode calibrates within one grid step of exact mode
    (relative_error=0 pins each grid point); null values rank last
    and calibrate to NULL in both modes; reserved-column collisions
    raise."""
    import pytest
    from pyspark.sql import functions as F

    from meta_frame_spark.operators.ranking import quantile_match

    rows = [(i, "g%d" % (i % 3), float((i * 17) % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    e = {r.id: r.v_cal for r in quantile_match(df, "v", ["g"], "id").collect()}
    b = {
        r.id: r.v_cal
        for r in quantile_match(
            df, "v", ["g"], "id", mode="bucketed",
            n_buckets=64, relative_error=0.0,
        ).collect()
    }
    # one 64-bucket grid step on a 0..100 domain is ~ 101/64 < 2
    assert all(abs(e[i] - b[i]) <= 2.0 for i in e)
    assert sum(e[i] == b[i] for i in e) > len(e) // 2

    withnull = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", None), (3, "a", 3.0), (4, "b", 2.0)],
        "id long, g string, v double",
    )
    for mode in ("exact", "bucketed"):
        cal = {
            r.id: r.v_cal
            for r in quantile_match(
                withnull, "v", ["g"], "id", mode=mode
            ).collect()
        }
        assert cal[2] is None  # null value -> null calibration
        assert cal[1] is not None and cal[4] is not None
        # the ADVICE r9 repro: the BEST non-null row of a group that
        # contains a null must NOT calibrate to NULL — the pooled
        # reference is built from non-null rows only, so id=3
        # (p=1.0 within group a's non-null rows) maps to the pooled
        # maximum, not into a null tail.
        assert cal[3] == 3.0

    with pytest.raises(ValueError, match="already exists"):
        quantile_match(df.withColumn("v_cal", F.lit(1)), "v", ["g"], "id")
    with pytest.raises(ValueError, match="already exists"):
        quantile_match(df.withColumn("_idx", F.lit(1)), "v", ["g"], "id")
    with pytest.raises(ValueError, match="mode must be"):
        quantile_match(df, "v", ["g"], "id", mode="nope")


def test_quantile_match_grid_group_rank_is_window_free_and_close(spark):
    """group_rank="grid" (the few-huge-groups scale path) calibrates
    within ~2 grid steps of exact, stays monotone within each group,
    maps nulls to NULL, and its plan contains NO window at all."""
    import pytest

    from meta_frame_spark.operators.ranking import quantile_match

    rows = [(i, "g%d" % (i % 3), float((i * 17) % 101)) for i in range(300)]
    rows.append((999, "g0", None))
    df = spark.createDataFrame(rows, "id long, g string, v double")
    e = {r.id: r.v_cal for r in quantile_match(df, "v", ["g"], "id").collect()}
    g = {
        r.id: r.v_cal
        for r in quantile_match(
            df, "v", ["g"], "id", mode="bucketed", n_buckets=64,
            relative_error=0.0, group_rank="grid",
        ).collect()
    }
    assert g[999] is None and e[999] is None
    # two grid steps on a 0..100 domain is ~ 2 * 101/64 < 3.5. (Exact
    # mode maps each group's TOP row into the pooled null tail when a
    # null exists — the documented exact-mode null contract — so
    # compare only rows both modes calibrate; grid mode calibrates
    # every non-null row.)
    assert all(g[i] is not None for i in g if i != 999)
    both = [i for i in e if i != 999 and e[i] is not None]
    assert len(both) >= 290
    assert all(abs(e[i] - g[i]) <= 3.5 for i in both)
    # monotone within each group
    out = quantile_match(
        df, "v", ["g"], "id", mode="bucketed", n_buckets=64,
        group_rank="grid",
    ).collect()
    for grp in ("g0", "g1", "g2"):
        seq = sorted(
            (r.v, r.id, r.v_cal) for r in out
            if r.g == grp and r.v is not None
        )
        cals = [c for _, _, c in seq]
        assert cals == sorted(cals)
    plan = (
        quantile_match(
            df, "v", ["g"], "id", mode="bucketed", n_buckets=32,
            group_rank="grid",
        )._jdf.queryExecution().executedPlan().toString()
    )
    assert "Window" not in plan and "SinglePartition" not in plan
    with pytest.raises(ValueError, match="group_rank"):
        quantile_match(df, "v", ["g"], "id", group_rank="bogus")
