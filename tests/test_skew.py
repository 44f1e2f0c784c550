"""Skew-mitigation operators (meta_frame_spark.operators.skew)."""

import pytest
from pyspark.sql import functions as F

from meta_frame_spark.operators.skew import salted_aggregate, two_phase_count_distinct


def test_salted_aggregate_matches_plain(spark, lineitem):
    got = {
        r.l_returnflag: (r.sum_l_quantity, r.count_l_orderkey, r.min_l_discount,
                         r.avg_l_extendedprice)
        for r in salted_aggregate(
            lineitem,
            ["l_returnflag"],
            {"l_quantity": "sum", "l_orderkey": "count", "l_discount": "min",
             "l_extendedprice": "avg"},
            n_salts=8,
        ).collect()
    }
    want = {
        r.l_returnflag: (r.s, r.c, r.mn, r.a)
        for r in lineitem.groupBy("l_returnflag").agg(
            F.sum("l_quantity").alias("s"),
            F.count("l_orderkey").alias("c"),
            F.min("l_discount").alias("mn"),
            F.avg("l_extendedprice").alias("a"),
        ).collect()
    }
    assert set(got) == set(want)
    for k, (s, c, mn, a) in got.items():
        ws, wc, wmn, wa = want[k]
        assert abs(s - ws) < 1e-6 and c == wc and mn == wmn
        assert abs(a - wa) < 1e-6


def test_salted_aggregate_deterministic_salt(spark, lineitem):
    a = salted_aggregate(
        lineitem, ["l_returnflag"], {"l_quantity": "sum"},
        n_salts=4, salt_on="l_orderkey",
    ).collect()
    b = salted_aggregate(
        lineitem, ["l_returnflag"], {"l_quantity": "sum"},
        n_salts=4, salt_on="l_orderkey",
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_salted_aggregate_rejects_unmergeable(spark, lineitem):
    with pytest.raises(ValueError):
        salted_aggregate(lineitem, ["l_returnflag"], {"l_quantity": "median"})


def test_two_phase_count_distinct_matches(spark, orders):
    got = {
        r.o_orderstatus: r.n_distinct_o_custkey
        for r in two_phase_count_distinct(orders, ["o_orderstatus"], "o_custkey").collect()
    }
    want = {
        r.o_orderstatus: r.n
        for r in orders.groupBy("o_orderstatus").agg(
            F.countDistinct("o_custkey").alias("n")
        ).collect()
    }
    assert got == want


def test_profile_table_one_pass(spark, orders):
    from meta_frame_spark.operators.profile import profile_table

    rows = {
        r.column: r
        for r in profile_table(
            orders, ["o_orderkey", "o_orderstatus"], exact_distinct=True
        ).collect()
    }
    n = orders.count()
    assert rows["o_orderkey"].n_rows == n
    assert rows["o_orderkey"].n_nulls == 0
    assert rows["o_orderkey"].n_distinct == n  # primary key
    assert rows["o_orderstatus"].n_distinct == orders.select("o_orderstatus").distinct().count()
    # min/max stringified
    assert rows["o_orderstatus"].min_value <= rows["o_orderstatus"].max_value


def test_profile_table_odd_column_names(spark):
    from meta_frame_spark.operators.profile import profile_table

    df = spark.createDataFrame([(1, "x")], ["order date", "it's"])
    rows = {r.column: r for r in profile_table(df).collect()}
    assert rows["order date"].n_rows == 1
    assert rows["it's"].n_nulls == 0


def test_hash_split_deterministic_and_complete(spark, orders):
    from meta_frame_spark.operators.sampling import hash_split, split_dataframes

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = hash_split(orders, w, id_col="o_orderkey")
    b = hash_split(orders.repartition(7), w, id_col="o_orderkey")
    # partitioning-independent assignment
    ga = {r.o_orderkey: r.split for r in a.select("o_orderkey", "split").collect()}
    gb = {r.o_orderkey: r.split for r in b.select("o_orderkey", "split").collect()}
    assert ga == gb
    # complete + disjoint + roughly the requested proportions
    n = orders.count()
    parts = split_dataframes(orders, w, id_col="o_orderkey")
    counts = {k: v.count() for k, v in parts.items()}
    assert sum(counts.values()) == n
    assert abs(counts["train"] / n - 0.8) < 0.05
    # a different salt re-deals the assignment
    c = hash_split(orders, w, id_col="o_orderkey", salt="v2")
    gc = {r.o_orderkey: r.split for r in c.select("o_orderkey", "split").collect()}
    assert gc != ga


def test_hash_split_rejects_bad_weights(spark, orders):
    import pytest

    from meta_frame_spark.operators.sampling import hash_split

    with pytest.raises(ValueError):
        hash_split(orders, {"a": 0.5, "b": 0.2}, id_col="o_orderkey")


def test_stratified_sample_deterministic_and_nested(spark, orders):
    from meta_frame_spark.operators.sampling import stratified_sample

    frac = {"F": 0.2, "O": 1.0}
    a = stratified_sample(orders, "o_orderstatus", frac, id_col="o_orderkey")
    b = stratified_sample(
        orders.repartition(5), "o_orderstatus", frac, id_col="o_orderkey"
    )
    ka = {r.o_orderkey for r in a.select("o_orderkey").collect()}
    assert ka == {r.o_orderkey for r in b.select("o_orderkey").collect()}

    # per-stratum proportions
    tot = {r.o_orderstatus: r.n for r in
           orders.groupBy("o_orderstatus").count().withColumnRenamed("count", "n").collect()}
    got = {r.o_orderstatus: r.n for r in
           a.groupBy("o_orderstatus").count().withColumnRenamed("count", "n").collect()}
    assert got["O"] == tot["O"]                      # untouched stratum
    assert abs(got["F"] / tot["F"] - 0.2) < 0.08     # downsampled stratum
    assert got.get("P", tot.get("P")) == tot.get("P")  # default fraction 1.0

    # nested: the 20% sample is a subset of the 50% sample
    wide = stratified_sample(orders, "o_orderstatus", {"F": 0.5}, id_col="o_orderkey")
    kw = {r.o_orderkey for r in wide.select("o_orderkey").collect()}
    assert {k for k in ka} - kw == set()

    import pytest

    with pytest.raises(ValueError):
        stratified_sample(orders, "o_orderstatus", {"F": 1.5}, id_col="o_orderkey")


def test_md5_method_portable_and_nested(spark, orders):
    """method="md5" (the engine-portable bucket): assignment matches a
    pure-Python md5 recomputation row-for-row, proportions hold, nested
    subsets hold, and unknown methods raise."""
    import hashlib

    import pytest

    from meta_frame_spark.operators.sampling import (
        hash_split,
        hex_threshold,
        stratified_sample,
    )

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {
        r.o_orderkey: r.split
        for r in hash_split(orders, w, id_col="o_orderkey", method="md5")
        .select("o_orderkey", "split")
        .collect()
    }

    def py_assign(key: int) -> str:
        h4 = hashlib.md5(f"{key}:".encode()).hexdigest()[:4]
        cum = 0.0
        for name, frac in w.items():
            cum += frac
            if h4 < hex_threshold(cum):
                return name
        return list(w)[-1]

    assert got == {k: py_assign(k) for k in got}
    n = len(got)
    n_train = sum(1 for v in got.values() if v == "train")
    assert abs(n_train / n - 0.8) < 0.05

    frac = {"F": 0.2}
    narrow = stratified_sample(
        orders, "o_orderstatus", frac, id_col="o_orderkey", method="md5"
    )
    wide = stratified_sample(
        orders, "o_orderstatus", {"F": 0.6}, id_col="o_orderkey", method="md5"
    )
    kn = {r.o_orderkey for r in narrow.select("o_orderkey").collect()}
    kw = {r.o_orderkey for r in wide.select("o_orderkey").collect()}
    assert kn <= kw

    assert hex_threshold(1.0) == "g"
    assert hex_threshold(0.0) == "0000"
    with pytest.raises(ValueError):
        hash_split(orders, w, id_col="o_orderkey", method="sha9")
    with pytest.raises(ValueError):
        stratified_sample(
            orders, "o_orderstatus", frac, id_col="o_orderkey", method="sha9"
        )


def test_shuffle_deterministic_stable_order(spark, orders):
    from meta_frame_spark.operators.sampling import shuffle_deterministic

    a = [r.o_orderkey for r in
         shuffle_deterministic(orders, "o_orderkey").select("o_orderkey").collect()]
    b = [r.o_orderkey for r in
         shuffle_deterministic(orders.repartition(9), "o_orderkey")
         .select("o_orderkey").collect()]
    assert a == b
    assert a != sorted(a)  # actually shuffled, not key order
    c = [r.o_orderkey for r in
         shuffle_deterministic(orders, "o_orderkey", salt="epoch2")
         .select("o_orderkey").collect()]
    assert c != a and sorted(c) == sorted(a)


def test_weighted_sample_properties(spark, orders):
    import pytest
    from pyspark.sql import functions as F

    from meta_frame_spark.operators.sampling import unit_hash, weighted_sample

    # uniform coin: mean near 0.5, range within [0,1)
    u = orders.select(unit_hash("o_orderkey").alias("u")).agg(
        F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("mu")
    ).collect()[0]
    assert 0.0 <= u.lo and u.hi < 1.0 and abs(u.mu - 0.5) < 0.02

    # weight 1 keeps everything, weight 0 keeps nothing
    n = orders.count()
    assert weighted_sample(orders, F.lit(1.0), "o_orderkey").count() == n
    assert weighted_sample(orders, F.lit(0.0), "o_orderkey").count() == 0
    # out-of-range weights clamp instead of misbehaving
    assert weighted_sample(orders, F.lit(7.5), "o_orderkey").count() == n

    # approximate rate + nested-subset (w=0.2 kept ⊆ w=0.6 kept)
    for method in ("xxhash64", "md5"):
        k2 = weighted_sample(orders, F.lit(0.2), "o_orderkey", method=method)
        k6 = weighted_sample(orders, F.lit(0.6), "o_orderkey", method=method)
        s2 = {r.o_orderkey for r in k2.select("o_orderkey").collect()}
        s6 = {r.o_orderkey for r in k6.select("o_orderkey").collect()}
        assert s2 <= s6
        assert abs(len(s2) / n - 0.2) < 0.05

    with pytest.raises(ValueError):
        unit_hash("o_orderkey", method="crc7")


def test_salted_join_matches_plain_join(spark, orders):
    from meta_frame_spark.operators.skew import salted_join

    dim = (
        orders.select("o_custkey").distinct()
        .withColumn("seg", F.pmod(F.col("o_custkey"), F.lit(3)))
        # drop a third of the keys so left-join null paths are exercised
        .filter(F.col("o_custkey") % 3 != 1)
    )
    fact = orders.select("o_orderkey", "o_custkey", "o_totalprice")

    for how in ("inner", "left"):
        got = salted_join(
            fact, dim, ["o_custkey"], salt_on="o_orderkey", n_salts=5, how=how
        )
        want = fact.join(dim, ["o_custkey"], how)
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        assert "__mfs_join_salt" not in got.columns

    with pytest.raises(ValueError):
        salted_join(fact, dim, ["o_custkey"], salt_on="o_orderkey", how="right")
    with pytest.raises(ValueError):
        salted_join(fact, dim, ["o_custkey"], salt_on="o_orderkey", n_salts=0)


def test_sample_k_per_group_deterministic_and_nested(spark, sf_dir):
    from meta_frame_spark.operators.sampling import sample_k_per_group

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    k3a = {(r.source, r.doc_id) for r in
           sample_k_per_group(docs, ["source"], 3, "doc_id", salt="s").collect()}
    k3b = {(r.source, r.doc_id) for r in
           sample_k_per_group(docs.repartition(17), ["source"], 3, "doc_id", salt="s").collect()}
    assert k3a == k3b  # partition-independent
    k2 = {(r.source, r.doc_id) for r in
          sample_k_per_group(docs, ["source"], 2, "doc_id", salt="s").collect()}
    assert k2 <= k3a   # nested property
    import collections
    per = collections.Counter(s for s, _ in k3a)
    n_sources = docs.select("source").distinct().count()
    assert len(per) == n_sources and all(v <= 3 for v in per.values())
    # different salt re-deals
    other = {(r.source, r.doc_id) for r in
             sample_k_per_group(docs, ["source"], 3, "doc_id", salt="t").collect()}
    assert other != k3a
    import pytest as _pytest
    with _pytest.raises(ValueError):
        sample_k_per_group(docs, ["source"], 0, "doc_id")


def test_key_skew_report_ranks_and_shares(spark):
    import pytest

    from meta_frame_spark.operators.skew import key_skew_report

    rows = [("hot",)] * 60 + [("warm",)] * 30 + [("a",)] * 5 + [("b",)] * 5
    df = spark.createDataFrame(rows, ["k"])
    out = sorted(key_skew_report(df, ["k"], top_n=3).collect(),
                 key=lambda r: r.rank)
    assert [(r.k, r.cnt, r.rank) for r in out] == [
        ("hot", 60, 1), ("warm", 30, 2), ("a", 5, 3)  # tie a<b by key
    ]
    assert out[0].share == 0.6
    with pytest.raises(ValueError, match="key_cols"):
        key_skew_report(df, [], top_n=3)


def test_weighted_sample_k_exact_k_nested_and_eligibility(spark):
    from meta_frame_spark.operators.sampling import weighted_sample_k

    rows = [(g, i, float(1 + (i % 7))) for g in ("a", "b") for i in range(40)]
    rows += [("a", 100, 0.0), ("a", 101, -2.0), ("a", 102, None)]
    df = spark.createDataFrame(rows, ["g", "id", "w"])

    k3 = weighted_sample_k(df, 3, "w", "id", group_cols=["g"], salt="s")
    per = {r.g: r.n for r in k3.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"a": 3, "b": 3}
    picked = {(r.g, r.id) for r in k3.collect()}
    assert not picked & {("a", 100), ("a", 101), ("a", 102)}  # ineligible
    assert {r.sample_rank for r in k3.collect()} == {1, 2, 3}

    # prefix-nested: the 3-sample is a subset of the 5-sample
    k5 = weighted_sample_k(df, 5, "w", "id", group_cols=["g"], salt="s")
    assert picked <= {(r.g, r.id) for r in k5.collect()}

    # deterministic under repartition; a new salt redraws
    again = weighted_sample_k(
        df.repartition(7), 3, "w", "id", group_cols=["g"], salt="s")
    assert {(r.g, r.id) for r in again.collect()} == picked
    redeal = weighted_sample_k(df, 3, "w", "id", group_cols=["g"], salt="t")
    assert {(r.g, r.id) for r in redeal.collect()} != picked

    # k > eligible returns all eligible rows
    tiny = spark.createDataFrame([("a", 1, 1.0), ("a", 2, 1.0)],
                                 ["g", "id", "w"])
    assert weighted_sample_k(tiny, 9, "w", "id", ["g"]).count() == 2

    import pytest

    with pytest.raises(ValueError, match="k must be"):
        weighted_sample_k(df, 0, "w", "id")


def test_weighted_sample_k_heavy_weight_dominates(spark):
    """A row whose weight dwarfs the rest has ES key ~ -|ln u|/1e9
    ~ 0, above every unit-weight key — it must be selected."""
    from meta_frame_spark.operators.sampling import weighted_sample_k

    rows = [("g", i, 1.0) for i in range(200)] + [("g", 999, 1e9)]
    df = spark.createDataFrame(rows, ["g", "id", "w"])
    picked = {r.id for r in
              weighted_sample_k(df, 1, "w", "id", ["g"], salt="x").collect()}
    assert picked == {999}


def test_stratified_sample_exact_counts_nesting_and_overrides(spark):
    import math

    from meta_frame_spark.operators.sampling import stratified_sample_exact

    rows = [("a", i) for i in range(30)] + [("b", 100 + i) for i in range(7)]
    df = spark.createDataFrame(rows, ["g", "id"])

    out = stratified_sample_exact(df, "g", 0.1, "id", salt="s")
    per = {r.g: r.n for r in out.groupBy("g").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert per == {"a": 3, "b": 1}  # ceil(0.1*30), ceil(0.1*7)

    # nested: the 10% cut is a prefix of the 30% cut; deterministic
    # under repartition; a new salt re-deals
    k10 = {r.id for r in out.collect()}
    k30 = {r.id for r in stratified_sample_exact(
        df, "g", 0.3, "id", salt="s").collect()}
    assert k10 <= k30
    assert {r.id for r in stratified_sample_exact(
        df.repartition(5), "g", 0.1, "id", salt="s").collect()} == k10
    assert {r.id for r in stratified_sample_exact(
        df, "g", 0.1, "id", salt="t").collect()} != k10

    # per-stratum override: b keeps everything, a keeps exactly 3
    per2 = {r.g: r.n for r in stratified_sample_exact(
        df, "g", 0.1, "id", salt="s", fractions={"b": 1.0}
    ).groupBy("g").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert per2 == {"a": 3, "b": 7}

    # fraction 0 empties every stratum; fraction 1 keeps all
    assert stratified_sample_exact(df, "g", 0.0, "id").count() == 0
    assert stratified_sample_exact(df, "g", 1.0, "id").count() == 37

    import pytest

    with pytest.raises(ValueError, match="fraction"):
        stratified_sample_exact(df, "g", 1.5, "id")


def test_corpus_concentration_hand_cases(spark):
    import math

    from meta_frame_spark.operators.profile import corpus_concentration

    # four equal groups: gini 0, entropy ln 4, top share 1/4
    eq = spark.createDataFrame(
        [(s,) for s in ["a", "b", "c", "d"]], "src string"
    )
    r = corpus_concentration(eq, "src").collect()[0]
    assert r.n_groups == 4 and r.n_rows == 4
    assert r.gini == 0.0 and r.entropy == round(math.log(4), 6)
    assert r.top_share == 0.25
    # counts [1, 3]: gini (2*7 - 3*4)/(2*4) = 0.25, top share 0.75
    sk = spark.createDataFrame(
        [("a",), ("b",), ("b",), ("b",)], "src string"
    )
    r = corpus_concentration(sk, "src").collect()[0]
    assert r.gini == 0.25 and r.top_share == 0.75
    assert r.entropy == round(math.log(4) - 3 * math.log(3) / 4, 6)


def test_ensure_min_partitions_reads_repartition_from_plan(spark, sf_dir):
    """On an input whose partition count an explicit repartition(n, ...)
    fixes, the count comes from the physical plan: no job runs (the RDD
    probe would execute the repartition's shuffle-map stage, which the
    real query then recomputes), and the decision is the probe's."""
    from meta_frame_spark.operators.skew import _planned_partitions, ensure_min_partitions

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sc = spark.sparkContext
    st = sc.statusTracker()
    rep = docs.repartition(4, "doc_id").select("doc_id", F.upper("text").alias("t"))
    sc.setJobGroup("ensure_min_partitions_plan", "test")
    try:
        assert ensure_min_partitions(rep, target=4) is rep
        assert ensure_min_partitions(rep, target=8) is not rep
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert st.getJobIdsForGroup("ensure_min_partitions_plan") == []
    # shapes the plan cannot settle fall back to the probe; where it
    # does settle, it agrees with the probe
    for df in (rep, docs.repartition(3), docs, docs.repartition(4, "doc_id").coalesce(2),
               docs.repartition(4, "doc_id").groupBy("source").count()):
        n = _planned_partitions(df)
        assert n is None or n == df.rdd.getNumPartitions()
    assert _planned_partitions(docs.repartition(4, "doc_id").coalesce(2)) is None
