"""Config validation for the three metadata dialects (SURVEY.md §1.2).

The reference interprets raw dicts with no validation, and silently
no-ops on unknown filter ops (megatron.py:11,14 ternary ``else df``) and
unknown agg funcs (sparks/optimus.py:28-33 if/elif with no else). Here
every config is validated up front into typed dataclasses, and unknown
ops/functions raise :class:`ConfigError` before any Spark work starts.

Dialect A — ``iterations``/``levels`` (optimus.py:54-80)::

    {"iterations": [{"id": str,
        "level_1": {"group_by": [...], "keep_columns": [...],
                    "aggregations": [{"agg_col", "agg_func", "new_name"?}],
                    "filters": [{"filter_col", "filter_op", "filter_value"}]?},
        "level_2": {...}}]}

Dialect B — recursive parent->child tree (sparks/optimus.py:53-76)::

    {"unique_id": str, "save": bool, "filters": ["<expr>"...],
     "keep_columns": [...],
     "aggregation": {"group_by": [...],
                     "aggregations": {col: "func" | ["func"...]},
                     "rename": {old: new}?},
     "children": [{..., "data_path": str, "join": {"on", "how"}}]}

Dialect B' — nested aggregate (soundwave.py:84-106)::

    {"id": str, "group_by": [...],
     "aggregate": {col: "func" | {"filter": "<expr>", "function": "func"}},
     "rename": {col: new}, "filter": ["<expr>"...],
     "children": [{..., "link": [cols]}]}
"""

from __future__ import annotations

import operator
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


class ConfigError(ValueError):
    """Raised on any invalid metadata config (unknown op, missing key...)."""


#: filter_op -> predicate builder ``(column, filter_value) -> Column``
#: for dialect A structured filters; its keys are the accepted ops.
#: Reference supports == > < isin (optimus.py:8-14); we add the obvious
#: completions and keep eqNullSafe semantics for == (megatron.py:11).
FILTER_BUILDERS: dict[str, Callable[[Column, Any], Column]] = {
    "==": lambda c, v: c.eqNullSafe(F.lit(v)),
    "!=": lambda c, v: ~c.eqNullSafe(F.lit(v)),
    ">": operator.gt,
    "<": operator.lt,
    ">=": operator.ge,
    "<=": operator.le,
    "isin": lambda c, v: c.isin(list(v)),
    "not_isin": lambda c, v: ~c.isin(list(v)),
    "is_null": lambda c, v: c.isNull(),
    "not_null": lambda c, v: c.isNotNull(),
}
FILTER_OPS = FILTER_BUILDERS.keys()

#: agg func -> aggregate builder ``Column -> Column``, used everywhere;
#: its keys are the accepted funcs. Reference exercises sum/max/min
#: (sparks/optimus.py:28-33), count (soundwave.py:102), avg
#: (soundwave.py:90). mean is an avg alias; the rest are natural
#: completions that stay in native Spark aggregation.
AGG_BUILDERS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "max": F.max,
    "min": F.min,
    "count": F.count,
    "avg": F.avg,
    "mean": F.avg,
    "first": F.first,
    "last": F.last,
    "count_distinct": F.countDistinct,
    "stddev": F.stddev,
    "variance": F.variance,
    "collect_set_size": lambda c: F.size(F.collect_set(c)),
    "median": F.median,
    # HLL sketch — constant memory per group regardless of cardinality;
    # the scale-safe default for high-cardinality distinct counts
    "approx_count_distinct": F.approx_count_distinct,
}
AGG_FUNCS = AGG_BUILDERS.keys()

JOIN_TYPES = {
    "inner", "left", "right", "outer", "full", "left_outer", "right_outer",
    "full_outer", "cross", "semi", "anti", "left_semi", "left_anti", "leftsemi", "leftanti",
}


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise ConfigError(msg)


# --------------------------------------------------------------------------
# Dialect A
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class FilterSpec:
    filter_col: str
    filter_op: str
    filter_value: Any = None

    @staticmethod
    def from_dict(d: dict) -> "FilterSpec":
        _require(isinstance(d, dict), f"filter must be a dict, got {type(d).__name__}")
        _require("filter_col" in d, f"filter missing 'filter_col': {d}")
        op = d.get("filter_op")
        _require(op in FILTER_OPS, f"unknown filter_op {op!r}; allowed: {sorted(FILTER_OPS)}")
        if op not in ("is_null", "not_null"):
            _require("filter_value" in d, f"filter_op {op!r} requires 'filter_value': {d}")
        if op in ("isin", "not_isin"):
            _require(
                isinstance(d["filter_value"], (list, tuple, set)),
                f"filter_op {op!r} requires a list filter_value: {d}",
            )
        return FilterSpec(d["filter_col"], op, d.get("filter_value"))


@dataclass(frozen=True)
class AggSpec:
    agg_col: str
    agg_func: str
    new_name: str | None = None
    #: optional row-level predicate (dialect B' filtered aggregation,
    #: soundwave.py:88-91): aggregate only rows passing this SQL expr.
    where: str | None = None

    @staticmethod
    def from_dict(d: dict) -> "AggSpec":
        _require(isinstance(d, dict), f"aggregation must be a dict, got {type(d).__name__}")
        _require("agg_col" in d, f"aggregation missing 'agg_col': {d}")
        func = d.get("agg_func")
        _require(func in AGG_FUNCS, f"unknown agg_func {func!r}; allowed: {sorted(AGG_FUNCS)}")
        return AggSpec(d["agg_col"], func, d.get("new_name"), d.get("where"))

    @property
    def out_name(self) -> str:
        # Default output name: dialect A defaults to the agg col itself
        # (optimus.py:31 `agg.get('new_name', agg['agg_col'])`).
        return self.new_name or self.agg_col


@dataclass(frozen=True)
class LevelSpec:
    group_by: tuple[str, ...]
    aggregations: tuple[AggSpec, ...]
    filters: tuple[FilterSpec, ...] = ()
    keep_columns: tuple[str, ...] = ()
    #: how keep_columns pass through the groupBy. "first" = F.first per
    #: column (declared intent of optimus.py:59-60; the literal code at
    #: optimus.py:31-32 is broken); "group" = treat as extra group keys.
    keep_mode: str = "first"
    #: computed columns {name: sql_expr}, applied in declared order
    #: before filters/aggregation (engine extension; the reference has
    #: no scalar-expression surface at all, SURVEY.md §2.5)
    derive: dict = field(default_factory=dict)

    @staticmethod
    def from_dict(d: dict) -> "LevelSpec":
        _require(isinstance(d, dict), f"level must be a dict, got {type(d).__name__}")
        _require("group_by" in d and d["group_by"], f"level missing non-empty 'group_by': {d}")
        aggs = d.get("aggregations", [])
        _require(isinstance(aggs, list), "'aggregations' must be a list")
        keep_mode = d.get("keep_mode", "first")
        _require(keep_mode in ("first", "group"), f"keep_mode must be 'first'|'group', got {keep_mode!r}")
        return LevelSpec(
            group_by=tuple(d["group_by"]),
            aggregations=tuple(AggSpec.from_dict(a) for a in aggs),
            filters=tuple(FilterSpec.from_dict(f) for f in d.get("filters", [])),
            keep_columns=tuple(d.get("keep_columns", [])),
            keep_mode=keep_mode,
            derive=dict(d.get("derive", {})),
        )


@dataclass(frozen=True)
class IterationSpec:
    id: str
    levels: tuple[LevelSpec, ...]  # in declared order (level_1, level_2, ...)

    @staticmethod
    def from_dict(d: dict) -> "IterationSpec":
        _require("id" in d, f"iteration missing 'id': {d}")
        level_keys = [k for k in d if k.startswith("level_")]
        _require(bool(level_keys), f"iteration {d['id']!r} has no level_* keys")
        # Apply in numeric order when suffixes are numeric, else dict order
        # (the reference relies on dict insertion order, optimus.py:43).
        try:
            level_keys.sort(key=lambda k: int(k.split("_", 1)[1]))
        except ValueError:
            pass
        return IterationSpec(str(d["id"]), tuple(LevelSpec.from_dict(d[k]) for k in level_keys))


@dataclass(frozen=True)
class PipelineSpec:
    iterations: tuple[IterationSpec, ...]
    #: False (default) = every iteration starts from the source df;
    #: True = reproduce the reference's carried-state behavior where
    #: iteration N+1 consumes iteration N's output (optimus.py:41-46).
    chain_iterations: bool = False

    @staticmethod
    def from_dict(d: dict) -> "PipelineSpec":
        _require(isinstance(d, dict), "pipeline config must be a dict")
        _require("iterations" in d and d["iterations"], "config missing non-empty 'iterations'")
        return PipelineSpec(
            tuple(IterationSpec.from_dict(i) for i in d["iterations"]),
            bool(d.get("chain_iterations", False)),
        )


def validate_pipeline_config(config: dict) -> PipelineSpec:
    """Validate a dialect-A config dict into a typed spec (raises ConfigError)."""
    return PipelineSpec.from_dict(config)


# --------------------------------------------------------------------------
# Dialect B
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class JoinSpec:
    on: tuple[str, ...]
    how: str = "inner"

    @staticmethod
    def from_dict(d: dict) -> "JoinSpec":
        _require(isinstance(d, dict) and "on" in d, f"join must be a dict with 'on': {d}")
        on = d["on"]
        on = (on,) if isinstance(on, str) else tuple(on)
        how = d.get("how", "inner")
        _require(how in JOIN_TYPES, f"unknown join how {how!r}; allowed: {sorted(JOIN_TYPES)}")
        return JoinSpec(on, how)


@dataclass(frozen=True)
class TreeAggSpec:
    group_by: tuple[str, ...]
    #: (col, func, out_name) triples; default out_name = f"{func}_{col}"
    #: (sparks/optimus.py:28-33), with the rename map folded in at agg
    #: time instead of post-hoc withColumnRenamed (sparks/optimus.py:37-39).
    aggs: tuple[tuple[str, str, str], ...]

    @staticmethod
    def from_dict(d: dict) -> "TreeAggSpec":
        _require(isinstance(d, dict), "aggregation must be a dict")
        _require("group_by" in d and d["group_by"], f"aggregation missing non-empty 'group_by': {d}")
        _require("aggregations" in d, f"aggregation missing 'aggregations': {d}")
        rename = d.get("rename", {})
        triples: list[tuple[str, str, str]] = []
        for col_name, funcs in d["aggregations"].items():
            funcs = [funcs] if isinstance(funcs, str) else list(funcs)
            for func in funcs:
                _require(func in AGG_FUNCS, f"unknown agg_func {func!r}; allowed: {sorted(AGG_FUNCS)}")
                default = f"{func}_{col_name}"
                # Accept renames keyed by either our deterministic name or
                # the reference's engine-generated "func(col)" form
                # (sparks/optimus.py:69 'sum(column2)').
                out = rename.get(default) or rename.get(f"{func}({col_name})") or default
                triples.append((col_name, func, out))
        return TreeAggSpec(tuple(d["group_by"]), tuple(triples))


@dataclass(frozen=True)
class TreeNodeSpec:
    unique_id: str
    save: bool = False
    filters: tuple[str, ...] = ()           # SQL string predicates (sparks/optimus.py:15-17)
    keep_columns: tuple[str, ...] = ()
    aggregation: TreeAggSpec | None = None
    children: tuple["TreeChildSpec", ...] = ()
    save_path: str | None = None
    save_format: str = "parquet"
    #: computed columns {name: sql_expr}, applied before filters
    derive: dict = field(default_factory=dict)

    @staticmethod
    def from_dict(d: dict) -> "TreeNodeSpec":
        _require(isinstance(d, dict), "tree config must be a dict")
        _require("unique_id" in d, f"tree node missing 'unique_id': {d}")
        return TreeNodeSpec(
            unique_id=str(d["unique_id"]),
            save=bool(d.get("save", False)),
            filters=tuple(d.get("filters", [])),
            keep_columns=tuple(d.get("keep_columns", [])),
            aggregation=TreeAggSpec.from_dict(d["aggregation"]) if "aggregation" in d else None,
            children=tuple(TreeChildSpec.from_dict(c) for c in d.get("children", [])),
            save_path=d.get("save_path"),
            save_format=d.get("save_format", "parquet"),
            derive=dict(d.get("derive", {})),
        )


@dataclass(frozen=True)
class TreeChildSpec:
    node: TreeNodeSpec
    join: JoinSpec | None
    data_path: str | None = None   # sparks/optimus.py:44 child CSV load
    source: str | None = None      # source registry name (csv|parquet|table)
    #: hint that the child is a small dimension -> broadcast join
    broadcast: bool = False

    @staticmethod
    def from_dict(d: dict) -> "TreeChildSpec":
        _require(isinstance(d, dict), "child config must be a dict")
        join = JoinSpec.from_dict(d["join"]) if "join" in d else None
        return TreeChildSpec(
            node=TreeNodeSpec.from_dict(d),
            join=join,
            data_path=d.get("data_path"),
            source=d.get("source"),
            broadcast=bool(d.get("broadcast", False)),
        )


def validate_tree_config(config: dict) -> TreeNodeSpec:
    """Validate a dialect-B config dict into a typed spec (raises ConfigError)."""
    return TreeNodeSpec.from_dict(config)


# --------------------------------------------------------------------------
# Dialect B'
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class NestedAggSpec:
    """One aggregate entry: plain func or filtered agg (soundwave.py:88-91)."""
    col: str
    func: str
    where: str | None = None

    @staticmethod
    def from_def(col: str, agg_def: Any) -> "NestedAggSpec":
        if isinstance(agg_def, str):
            func, where = agg_def, None
        elif isinstance(agg_def, dict):
            _require("function" in agg_def, f"filtered agg for {col!r} missing 'function': {agg_def}")
            func, where = agg_def["function"], agg_def.get("filter")
        else:
            raise ConfigError(f"aggregate value for {col!r} must be str or dict, got {type(agg_def).__name__}")
        _require(func in AGG_FUNCS, f"unknown agg_func {func!r}; allowed: {sorted(AGG_FUNCS)}")
        return NestedAggSpec(col, func, where)


@dataclass(frozen=True)
class NestedNodeSpec:
    id: str
    group_by: tuple[str, ...] = ()
    aggregates: tuple[NestedAggSpec, ...] = ()
    rename: dict = field(default_factory=dict)   # mandatory in dialect B' (soundwave.py:93-96)
    filters: tuple[str, ...] = ()                # top-level string filters (soundwave.py:97)
    link: tuple[str, ...] = ()                   # join keys to parent (soundwave.py:101)
    join_how: str = "left"                       # declared left join (soundwave.py:66)
    children: tuple["NestedNodeSpec", ...] = ()
    data_path: str | None = None
    source: str | None = None
    #: computed columns {name: sql_expr}, applied before filters
    derive: dict = field(default_factory=dict)
    #: a child with NO link joins its parent with no keys — a cartesian
    #: product (the reference's degenerate no-key join, soundwave.py:66).
    #: That is almost always a config typo, so the plan builder raises
    #: ConfigError unless the child opts in explicitly (same
    #: loud-failure policy as unknown ops, SURVEY.md §2 P6).
    allow_cross: bool = False

    @staticmethod
    def from_dict(d: dict, node_id: str | None = None) -> "NestedNodeSpec":
        _require(isinstance(d, dict), "nested config must be a dict")
        nid = str(d.get("id", node_id or "root"))
        aggs = tuple(
            NestedAggSpec.from_def(col, agg_def)
            for col, agg_def in d.get("aggregate", {}).items()
        )
        how = d.get("join_how", "left")
        _require(how in JOIN_TYPES, f"unknown join_how {how!r}")
        link = d.get("link", [])
        link = (link,) if isinstance(link, str) else tuple(link)
        filters = d.get("filter", d.get("filters", []))
        filters = (filters,) if isinstance(filters, str) else tuple(filters)
        # A child with aggregates, link columns and no explicit group_by
        # groups by its link columns — the only grain that makes the
        # declared link equi-join (soundwave.py:101) well-defined.
        # Grandchildren whose link columns are outside this grain are
        # attached through the input bridge in the plan builder (the
        # child's own aggregates keep their declared grain).
        children = tuple(NestedNodeSpec.from_dict(c) for c in d.get("children", []))
        group_by = tuple(d.get("group_by", []))
        if not group_by and aggs and link:
            group_by = link
        return NestedNodeSpec(
            id=nid,
            group_by=group_by,
            aggregates=aggs,
            rename=dict(d.get("rename", {})),
            filters=filters,
            link=link,
            join_how=how,
            children=children,
            data_path=d.get("data_path"),
            source=d.get("source"),
            derive=dict(d.get("derive", {})),
            allow_cross=bool(d.get("allow_cross", False)),
        )


def validate_nested_config(config: dict) -> NestedNodeSpec:
    """Validate a dialect-B' config dict into a typed spec (raises ConfigError)."""
    return NestedNodeSpec.from_dict(config)
