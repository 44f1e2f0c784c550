"""Plan builders: validated config -> lazy DataFrame expression tree.

This is the whole "engine": pure functions that walk a validated config
and emit stock ``pyspark.sql`` calls. No action is ever triggered here —
Catalyst sees the complete plan (filters below aggregates, pruned
columns, reorderable joins) and AQE picks physical join strategies at
runtime. Contrast with the reference, which forces a Spark job per
recursion level via ``df.rdd.isEmpty()`` (sparks/optimus.py:8) and
materializes per level via eager pandas execution (megatron.py:42-54).

Scale notes (100 TB design):
* everything stays lazy until an explicit sink — one job per sink;
* joins use column-name lists (equi-join, dedups the key) so Catalyst
  can choose broadcast/sort-merge; small dims can be hinted broadcast;
* no ``collect``/``toPandas``/driver loops anywhere;
* aggregation is expressed as native ``groupBy().agg()`` so map-side
  partial aggregation applies.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from meta_frame_spark.config.model import (
    AGG_BUILDERS,
    FILTER_BUILDERS,
    AggSpec,
    ConfigError,
    FilterSpec,
    LevelSpec,
    NestedNodeSpec,
    PipelineSpec,
    TreeChildSpec,
    TreeNodeSpec,
    validate_nested_config,
    validate_pipeline_config,
    validate_tree_config,
)

# Loader signature: (spark, child_spec) -> DataFrame. Lets callers route
# child loads (reference hardcodes spark.read.csv, sparks/optimus.py:44).
ChildLoader = Callable[[SparkSession, TreeChildSpec], DataFrame]


# --------------------------------------------------------------------------
# Filters (P2/P3/P4, optimus.py:4-15, megatron.py:6-15)
# --------------------------------------------------------------------------

def filter_condition(spec: FilterSpec) -> Column:
    """Structured filter -> Column predicate.

    ``==`` is null-safe (``<=>``), matching the reference's Spark branch
    (megatron.py:11 ``eqNullSafe``); its pandas branch used plain ``==`` —
    divergence resolved in favor of the null-safe form.
    """
    return FILTER_BUILDERS[spec.filter_op](F.col(spec.filter_col), spec.filter_value)


def apply_filters(df: DataFrame, filters) -> DataFrame:
    """Conjunctive AND of structured filters (chained, optimus.py:6-14)."""
    for f in filters:
        spec = f if isinstance(f, FilterSpec) else FilterSpec.from_dict(f)
        df = df.filter(filter_condition(spec))
    return df


def apply_derivations(df: DataFrame, derive: dict) -> DataFrame:
    """Computed columns {name: sql_expr}, in declared order so later
    derivations can reference earlier ones. Pure ``F.expr`` — stays in
    whole-stage codegen; Catalyst folds constants and prunes unused
    derivations."""
    for name, expr in derive.items():
        df = df.withColumn(name, expr if isinstance(expr, Column) else F.expr(expr))
    return df


def apply_string_filters(df: DataFrame, exprs) -> DataFrame:
    """String-expression filters -> ``F.expr`` (sparks/optimus.py:15-17).

    Also accepts live ``Column`` predicates, the declared-but-unreachable
    P5 form (sparks/optimus.py:56-59).
    """
    for e in exprs:
        df = df.filter(e if isinstance(e, Column) else F.expr(e))
    return df


# --------------------------------------------------------------------------
# Aggregation (A1-A10)
# --------------------------------------------------------------------------

def agg_expr(col: str, func: str, out_name: str, where: str | None = None) -> Column:
    """One aggregate expression, aliased at agg time (never post-hoc rename).

    ``where`` implements filtered aggregation (A7, soundwave.py:88-91) as
    ``func(CASE WHEN where THEN col END)`` — a native conditional agg, no
    extra pass over the data.
    """
    builder = AGG_BUILDERS.get(func)
    if builder is None:
        raise ConfigError(f"unknown agg_func {func!r}")
    target = F.col(col)
    if where is not None:
        target = F.when(F.expr(where), target)
    return builder(target).alias(out_name)


def apply_level(df: DataFrame, level) -> DataFrame:
    """One dialect-A level: filters -> groupBy/agg -> projection.

    ``keep_columns`` pass-through (A10): the reference's literal code
    selects dropped columns and crashes (optimus.py:31-32); the declared
    intent (optimus.py:59-60) is carrying non-grouped columns through.
    Resolution: ``keep_mode="first"`` (default) emits ``F.first(col)``
    per kept column; ``keep_mode="group"`` adds them as group keys.
    """
    spec = level if isinstance(level, LevelSpec) else LevelSpec.from_dict(level)
    df = apply_derivations(df, spec.derive)
    df = apply_filters(df, spec.filters)

    group_cols = list(spec.group_by)
    keep_aggs: list[Column] = []
    if spec.keep_columns:
        if spec.keep_mode == "group":
            group_cols += [c for c in spec.keep_columns if c not in group_cols]
        else:
            keep_aggs = [F.first(c).alias(c) for c in spec.keep_columns if c not in group_cols]

    aggs = [agg_expr(a.agg_col, a.agg_func, a.out_name, a.where) for a in spec.aggregations]
    if not aggs and not keep_aggs:
        # group_by with no aggregations == distinct on the keys
        return df.select(*group_cols).distinct()
    return df.groupBy(*group_cols).agg(*(aggs + keep_aggs))


def run_iteration(df: DataFrame, iteration) -> DataFrame:
    """Cascade levels, each consuming the previous output (A8, optimus.py:43-46)."""
    for level in iteration.levels:
        df = apply_level(df, level)
    return df


def run_pipeline(
    df: DataFrame,
    config: dict | PipelineSpec,
    sink: Callable[[DataFrame, str], None] | None = None,
) -> dict[str, DataFrame]:
    """Dialect-A driver (O1, optimus.py:34-51; megatron.py:60-89).

    Returns ``{iteration_id: result_df}``. Unlike the reference, iteration
    N+1 starts from the *source* df unless ``chain_iterations`` opts into
    the reference's carried-state behavior (optimus.py:41-46). ``sink``,
    if given, is called per iteration (reference wrote
    ``{id}_output.csv``, optimus.py:49-50).
    """
    spec = config if isinstance(config, PipelineSpec) else validate_pipeline_config(config)
    results: dict[str, DataFrame] = {}
    current = df
    for it in spec.iterations:
        source = current if spec.chain_iterations else df
        out = run_iteration(source, it)
        results[it.id] = out
        if spec.chain_iterations:
            current = out
        if sink is not None:
            sink(out, it.id)
    return results


# --------------------------------------------------------------------------
# Dialect B: recursive parent->child join tree (O2)
# --------------------------------------------------------------------------

def _default_child_loader(spark: SparkSession, child: TreeChildSpec) -> DataFrame:
    from meta_frame_spark.sources.registry import load_data

    if child.data_path is None:
        raise ConfigError(f"child {child.node.unique_id!r} has no data_path and no loader")
    return load_data(spark, source=child.source or "auto", path=child.data_path)


def aggregate_and_join(
    df: DataFrame,
    config: dict | TreeNodeSpec,
    loader: ChildLoader | None = None,
    sink: Callable[[DataFrame, TreeNodeSpec], None] | None = None,
) -> DataFrame:
    """Dialect-B driver (sparks/optimus.py:4-50, pandas/optimus.py:7-40).

    filter -> project -> aggregate(+rename at alias time) -> for each
    child: load, recurse, equi-join on the configured key(s).

    Differences from the reference, all deliberate:
    * no eager ``df.rdd.isEmpty()`` per level (sparks/optimus.py:8 — an
      extra Spark job per recursion; empty frames flow through harmlessly);
    * joins pass column *names* (``on=[...]``) so the key dedups and
      Catalyst plans the join; the reference passed a bare ``col(on)``
      which is not an equality predicate at all (sparks/optimus.py:48);
    * ``broadcast: true`` on a child hints ``F.broadcast`` for small dims;
    * saving is routed through the sink registry, not a hardcoded
      ``{unique_id}.csv`` (sparks/optimus.py:11).
    """
    spec = config if isinstance(config, TreeNodeSpec) else validate_tree_config(config)
    spark = df.sparkSession
    load = loader or _default_child_loader

    df = apply_derivations(df, spec.derive)
    df = apply_string_filters(df, spec.filters)
    if spec.keep_columns:
        df = df.select(*spec.keep_columns)
    if spec.aggregation is not None:
        aggs = [agg_expr(c, f, out) for (c, f, out) in spec.aggregation.aggs]
        if aggs:
            df = df.groupBy(*spec.aggregation.group_by).agg(*aggs)
        else:
            # group_by with no aggregations == distinct on the keys
            # (mirrors dialect A, apply_level)
            df = df.select(*spec.aggregation.group_by).distinct()

    for child in spec.children:
        child_df = load(spark, child)
        child_df = aggregate_and_join(child_df, child.node, loader=load, sink=sink)
        if child.join is not None:
            right = F.broadcast(child_df) if child.broadcast else child_df
            df = df.join(right, on=list(child.join.on), how=child.join.how)

    if spec.save and sink is not None:
        sink(df, spec)
    return df


# --------------------------------------------------------------------------
# Dialect B': nested aggregate with filtered aggs + link joins (O3)
# --------------------------------------------------------------------------

def nested_aggregate(
    df: DataFrame,
    meta: dict | NestedNodeSpec,
    prefix: str = "",
    loader: Callable[[SparkSession, NestedNodeSpec], DataFrame] | None = None,
    bitemporal: bool | str = False,
) -> DataFrame:
    """Dialect-B' driver (soundwave.py:48-71, hotrod.py:48-71).

    Per node: string filters -> groupBy/agg (plain or filtered agg, with
    the mandatory rename map applied as prefixed aliases,
    soundwave.py:55-63) -> per child: resolve child input, recurse with
    prefix ``{prefix}{id}_`` (soundwave.py:67), then left-join into the
    parent on the ``link`` columns.

    The reference's literal child join is ``aggregated_df.join(
    df.select(*link), how="left")`` with **no join keys**
    (soundwave.py:66) — a degenerate cross join. The declared intent
    ("Columns to join with parent table", soundwave.py:101) is an
    equi-join on the link columns; that is what we implement.

    ``bitemporal``: True stamps ``valid_from``/``valid_to`` as proper
    DateType (reference used string lits, soundwave.py:76-78); a string
    value is used as the as-of ``valid_from`` date.
    """
    spec = meta if isinstance(meta, NestedNodeSpec) else validate_nested_config(meta)
    spark = df.sparkSession

    # Node derivations/filters apply to the node's whole subtree:
    # children re-aggregate the derived+filtered input, not the raw one.
    base = apply_string_filters(apply_derivations(df, spec.derive), spec.filters)
    out = base

    if spec.aggregates or spec.group_by:
        aggs = []
        for a in spec.aggregates:
            out_name = f"{prefix}{spec.rename.get(a.col, f'{a.func}_{a.col}')}"
            aggs.append(agg_expr(a.col, a.func, out_name, a.where))
        if aggs:
            out = out.groupBy(*spec.group_by).agg(*aggs)
        else:
            # group_by with no aggregates == distinct on the keys
            out = out.select(*spec.group_by).distinct()
    else:
        # Atomic leaf: tag with its id (C1, soundwave.py:71).
        out = out.withColumn("id", F.lit(spec.id))

    for child in spec.children:
        if loader is not None and (child.data_path or child.source):
            child_in = loader(spark, child)
        else:
            child_in = base  # children re-aggregate the parent's filtered input
        child_out = nested_aggregate(
            child_in, child, prefix=f"{prefix}{spec.id}_", loader=loader
        )
        on = list(child.link) if child.link else None
        if on:
            missing = [c for c in on if c not in out.columns]
            if missing and spec.group_by:
                # The link columns aren't part of this node's grain
                # (hotrod.py:83-113: root grain (col1,col2), child link
                # col5). The reference's literal code "joined" with no
                # keys at all (soundwave.py:66); the coherent reading
                # of the declared link is to bridge through the node's
                # own input, which holds both the grain and the link:
                # out ⋈ (distinct(grain ∪ link) ⋈ child) on grain.
                # NB standard join semantics: if one grain value maps
                # to several link values, the node's rows fan out —
                # one output row per (grain, link) pair, the node's
                # aggregates repeated on each.
                extra = [c for c in on if c not in spec.group_by]
                bridge = base.select(*spec.group_by, *extra).distinct()
                linked = bridge.join(child_out, on=on, how=child.join_how)
                out = out.join(linked, on=list(spec.group_by), how=child.join_how)
            else:
                out = out.join(child_out, on=on, how=child.join_how)
        elif child.allow_cross:
            # faithful to the reference's degenerate no-key join
            # (soundwave.py:66) — but only on explicit opt-in
            out = out.crossJoin(child_out)
        else:
            raise ConfigError(
                f"child {child.id!r} has no 'link' columns: joining it to "
                f"{spec.id!r} would be a cartesian product. Declare "
                "'link': [...] or opt in explicitly with "
                "'allow_cross': true"
            )

    if bitemporal:
        valid_from = bitemporal if isinstance(bitemporal, str) else "2024-01-01"
        out = out.withColumn("valid_from", F.lit(valid_from).cast("date"))
        out = out.withColumn("valid_to", F.lit("9999-12-31").cast("date"))
    return out
