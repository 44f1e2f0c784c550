"""Skew-mitigation operators (SURVEY.md §7.1 step 7 scale pass).

When they're needed: Spark's hash aggregation already does map-side
partial aggregation, so a plain ``groupBy(k).agg(sum/count/min/max)``
tolerates key skew well — every map task pre-collapses its local rows
per key. The painful cases are (a) aggregates that buffer per-key
state proportional to group size (``count_distinct``,
``collect_list``), where one hot key concentrates memory in a single
reduce task, and (b) joins on skewed keys (AQE's skew-join splitting
covers the join side; ``spark.sql.adaptive.skewJoin`` is on in the
session factory).

These helpers split the hot-key reduce state explicitly:

* ``salted_aggregate`` — two-phase agg through a salt: shuffle 1
  spreads each key over ``n_salts`` reducers, shuffle 2 merges the
  (tiny) per-salt partials. Worth it only for state-heavy aggregates;
  for plain sums it just adds a shuffle.
* ``two_phase_count_distinct`` — exact distinct counts without any
  per-key hash-set: dedup on (key, value) first (skew spread across
  value space), then count.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def ensure_min_partitions(df: DataFrame, target: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan currently has fewer
    partitions than ``target`` (default: the cluster's
    ``defaultParallelism``).

    Why: a parquet file is only splittable at row-group boundaries, so
    a single-row-group input scans as ONE partition no matter what
    ``maxPartitionBytes`` says — and every CPU-bound map downstream
    (tokenize / shingle / hash / Arrow UDF) then runs on one core.
    Measured 5× on the decontamination gram pass at local[32]. Call
    this before compute-heavy per-row stages; on real multi-row-group
    / multi-file inputs the partition count already exceeds the target
    and this is a no-op (no shuffle inserted), so it is safe to leave
    in the 100 TB path.
    """
    target = target or df.sparkSession.sparkContext.defaultParallelism
    n = _planned_partitions(df)
    if n is None:
        # the RDD conversion executes any AQE shuffle-map stages of
        # df's plan, which the real query then recomputes
        n = df.rdd.getNumPartitions()
    if n < target:
        return df.repartition(target)
    return df


def _planned_partitions(df: DataFrame) -> int | None:
    """Partition count of ``df`` when an explicit ``repartition(n, ...)``
    exchange fixes it, read from the physical plan without running a
    job; ``None`` otherwise. The count is taken only when the plan's
    root reports that exchange's partitioning unchanged — any other
    exchange (AQE may coalesce it), a ``coalesce``, or a node with
    several children on the way down gives ``None``."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.initialPlan()
    root_n = plan.outputPartitioning().numPartitions()
    node = plan
    while node.getClass().getSimpleName() != "ShuffleExchangeExec":
        if node.children().size() != 1:
            return None
        node = node.children().head()
    if node.shuffleOrigin().toString() != "REPARTITION_BY_NUM":
        return None
    n = node.outputPartitioning().numPartitions()
    return n if n == root_n else None


#: (partial_fn, merge_fn) per supported aggregate: phase 1 computes
#: partial_fn per (key, salt); phase 2 merges partials per key.
_MERGEABLE = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_aggregate(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, str],
    n_salts: int = 16,
    salt_on: str | Column | None = None,
) -> DataFrame:
    """Two-phase salted aggregation: {col: func} with func in
    sum/count/min/max/avg.

    ``salt_on``: column whose hash spreads rows of a hot key across
    salts (deterministic); default salts on ``spark_partition_id`` —
    rows of one key land on however many input partitions hold them.
    avg is decomposed into mergeable sum+count.
    """
    for c, fn in aggs.items():
        if fn not in _MERGEABLE and fn != "avg":
            raise ValueError(
                f"salted_aggregate supports {sorted(_MERGEABLE) + ['avg']}, got {fn!r} for {c!r}"
            )
    if salt_on is not None:
        sc = F.col(salt_on) if isinstance(salt_on, str) else salt_on
        salt = F.pmod(F.xxhash64(sc), F.lit(n_salts))
    else:
        salt = F.pmod(F.spark_partition_id(), F.lit(n_salts))

    partials, merges = [], []
    for c, fn in aggs.items():
        if fn == "avg":
            partials += [F.sum(c).alias(f"__s_{c}"), F.count(c).alias(f"__n_{c}")]
            merges.append((F.sum(f"__s_{c}") / F.sum(f"__n_{c}")).alias(f"avg_{c}"))
        else:
            pf, mf = _MERGEABLE[fn]
            partials.append(pf(c).alias(f"__p_{fn}_{c}"))
            merges.append(mf(f"__p_{fn}_{c}").alias(f"{fn}_{c}"))

    phase1 = df.withColumn("__salt", salt).groupBy(*group_cols, "__salt").agg(*partials)
    return phase1.groupBy(*group_cols).agg(*merges)


def two_phase_count_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    out_name: str | None = None,
) -> DataFrame:
    """Exact per-key distinct count as dedup-then-count: shuffle 1 on
    (key, value) — a hot key's rows spread over the value space — then
    a plain count per key with map-side combine. No per-key hash-set
    ever materializes on a single reducer, unlike
    ``countDistinct`` for a hot key."""
    out = out_name or f"n_distinct_{value_col}"
    dedup = df.select(*group_cols, value_col).distinct()
    return dedup.groupBy(*group_cols).agg(F.count(value_col).alias(out))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    salt_on: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skewed equi-join: when one hot join key concentrates a huge
    fraction of the fact side in a single reduce task (the web
    corpus's one giant domain), spread it by salting — the fact side
    gets a deterministic salt in [0, n_salts) hashed from ``salt_on``
    (any well-distributed fact column, e.g. its primary key), the dim
    side is replicated once per salt value, and the join runs on
    ``on + [salt]``. Each hot key now occupies ``n_salts`` reducers.

    Result is row-identical to ``fact.join(dim, on, how)`` — every
    fact row meets exactly the one dim replica carrying its salt.
    Supported ``how``: inner, left/left_outer (fact-preserving).
    Right/full joins would duplicate unmatched dim rows per replica
    and are rejected.

    Scale notes: dim replication costs n_salts x dim bytes through the
    shuffle — use for genuinely small-to-medium dims (or prefer AQE
    skew-join splitting, on by default in the session factory, when
    it applies; this operator is the explicit fallback for the cases
    AQE cannot split, e.g. a broadcast-disabled bucketed join or a
    first-shuffle skew). The salt column never survives the join.
    """
    if how not in ("inner", "left", "left_outer", "leftouter"):
        raise ValueError(
            f"salted_join supports inner/left joins, got {how!r}"
        )
    if n_salts < 1:
        raise ValueError(f"n_salts must be >= 1, got {n_salts}")
    salt_col = "__mfs_join_salt"
    fact_s = fact.withColumn(
        salt_col, F.pmod(F.xxhash64(F.col(salt_on)), F.lit(n_salts)).cast("int")
    )
    dim_s = dim.withColumn(
        salt_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)).cast("array<int>")),
    )
    out = fact_s.join(dim_s, on=on + [salt_col], how=how)
    return out.drop(salt_col)


def key_skew_report(
    df: DataFrame,
    key_cols: list[str],
    top_n: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """The pre-flight check for every join/agg key choice: the
    ``top_n`` hottest key values with count, share of all rows, and
    rank — read it before picking between a plain join,
    :func:`salted_join`, or AQE skew splitting. Deterministic order:
    (count desc, key values asc). One map-side-combined count shuffle
    over skinny key rows plus a top-n sort of the (already tiny)
    per-key counts; the total-row scalar attaches as a broadcast."""
    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("cnt"))
    total = df.agg(F.count(F.lit(1)).alias("_n"))
    order = [F.col("cnt").desc()] + [F.col(c).asc() for c in key_cols]
    # orderBy+limit plans TakeOrderedAndProject (per-partition top-n,
    # no global sort) even over billions of distinct keys; the global
    # row_number window then runs over the ALREADY-CAPPED top_n rows
    top = counts.orderBy(*order).limit(top_n)
    return (
        top.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .crossJoin(F.broadcast(total))
        .select(
            *key_cols,
            "cnt",
            F.round(F.col("cnt") / F.col("_n"), round_to).alias("share"),
            "rank",
        )
    )
