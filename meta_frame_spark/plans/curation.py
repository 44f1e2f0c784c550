"""Declarative curation pipelines — the reference's metadata-driven
idea (a dict fully describes the computation; `README.md:2`,
`pandas/optimus.py:2`) extended to the corpus-curation operators.

A config is a list of steps, each naming a registered operator and its
kwargs:

    {"steps": [
        {"op": "filter", "predicate": "lang = 'en'"},
        {"op": "quality_gate", "value_col": "n_chars",
         "lower_q": 0.05, "upper_q": 0.95, "group_cols": ["lang"]},
        {"op": "dedup_exact", "key_cols": ["text"], "id_col": "doc_id"},
        {"op": "domain_cap", "group_cols": ["source"], "cap": 1000,
         "priority": "n_chars", "tiebreak": "doc_id"},
        {"op": "mix", "source_col": "source",
         "weights": {"src0": 0.5, "src1": 0.5}, "id_col": "doc_id"},
    ]}

`run_curation(df, config)` validates the whole config up front (loud
``ConfigError`` on unknown ops or kwargs — the reference's silent
no-op fallthrough, `megatron.py:11,14`, is a bug class we refuse to
reproduce) and compiles it to ONE DataFrame plan: each step is a
DataFrame→DataFrame function, so Catalyst sees the whole chain
and pushes filters/prunes columns across step boundaries. Most steps
are lazy, but not all: a step whose plan depends on a statistic of
its input computes that statistic while the pipeline is being built
(DSIR's model totals ``collect()``, quantile cuts, gate aggregates),
and a ``cache`` step runs every shuffle stage of its upstream when it
is built (see ``_op_cache``). In a traced ``curation_select`` run
(sf0.01, local[4]), 7 of its 26 jobs are the DSIR totals collect and
15-16 are its two ``cache`` steps; only the rest run when the caller
sinks the result.
"""

from __future__ import annotations

import importlib
import inspect
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from meta_frame_spark.config.model import ConfigError


def _resolve(path: str) -> Callable:
    """The function at ``"module:function"``, imported on first use."""
    mod_name, fn_name = path.split(":")
    return getattr(importlib.import_module(mod_name), fn_name)


def _forwards(path: str) -> Callable[[Callable], Callable]:
    """Mark a step that forwards its ``**kw`` to the operator at
    ``path`` (``"module:function"``). The step's positional parameters
    bind the operator's leading ones and its keyword-only parameters
    are its own; every other operator parameter is a step kwarg
    (:func:`_allowed_keys`)."""

    def mark(step: Callable) -> Callable:
        step.forwards = path
        return step

    return mark


def _op_filter(df: DataFrame, predicate: str) -> DataFrame:
    return df.filter(F.expr(predicate))


@_forwards("meta_frame_spark.operators.dedup:dedup_against")
def _op_dedup_against(df: DataFrame, corpus: DataFrame, **kw) -> DataFrame:
    return _resolve(_op_dedup_against.forwards)(df, corpus, **kw)


@_forwards("meta_frame_spark.operators.decontaminate:decontaminate")
def _op_decontaminate(df: DataFrame, benchmark: DataFrame, **kw) -> DataFrame:
    return _resolve(_op_decontaminate.forwards)(df, benchmark, **kw)


@_forwards("meta_frame_spark.operators.dsir:dsir_log_weights")
def _op_dsir_weights(df: DataFrame, target: DataFrame, **kw) -> DataFrame:
    """Attach DSIR importance weights: the flowing frame is the raw
    pool, ``target`` (a DataFrame, like dedup_against's ``corpus``)
    is the exemplar corpus, and every row gains ``log_weight``.
    Null-text rows carry no weight and are dropped by the inner join
    (dsir_log_weights scores only non-null text)."""
    id_col = kw.get("id_col", "doc_id")
    w = _resolve(_op_dsir_weights.forwards)(df, target, **kw)
    return df.join(w.select(id_col, "log_weight"), id_col)


@_forwards("meta_frame_spark.operators.ranking:rrf_fuse")
def _op_rrf_fuse(df: DataFrame, **kw) -> DataFrame:
    """Attach the reciprocal-rank-fused ``rrf`` score of the named
    score columns; the per-signal rank columns stay internal (join
    the operator directly for those)."""
    id_col = kw.get("id_col", "doc_id")
    fused = _resolve(_op_rrf_fuse.forwards)(df, **kw)
    return df.join(fused.select(id_col, "rrf"), id_col)


@_forwards("meta_frame_spark.operators.decontaminate:novelty_score")
def _op_novelty_gate(
    df: DataFrame, reference: DataFrame, *, min_novelty: float = 0.5, **kw
) -> DataFrame:
    """Keep rows whose n-gram novelty vs ``reference`` (a DataFrame,
    like dedup_against's ``corpus``) is at least ``min_novelty`` —
    the config-driven "don't re-ingest what the training set already
    contains" cut. One equi-join on the id against the per-doc
    novelty frame; schema passes through unchanged."""
    id_col = kw.get("id_col", "doc_id")
    # honor a caller-renamed score column instead of hard-coding
    # 'novelty' (ADVICE r10: out_col passed validation, then broke
    # the filter with an unresolved-column error)
    out_col = kw.get("out_col", "novelty")
    nv = _resolve(_op_novelty_gate.forwards)(df, reference, **kw)
    keep = nv.filter(F.col(out_col) >= float(min_novelty)).select(id_col)
    return df.join(keep, id_col, "left_semi")


def _op_normalize(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    html: bool = False,
) -> DataFrame:
    from meta_frame_spark.functions.text import normalize_text, strip_html

    c = F.col(text_col)
    if html:
        c = strip_html(c)
    return df.withColumn(out_col or text_col, normalize_text(c))


def _op_redact_pii(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    kinds: list[str] | None = None,
) -> DataFrame:
    from meta_frame_spark.functions.text import redact_pii

    return df.withColumn(
        out_col or text_col, redact_pii(F.col(text_col), kinds=kinds)
    )


def _op_entropy_gate(
    df: DataFrame,
    text_col: str = "text",
    min_entropy: float = 1.5,
) -> DataFrame:
    from meta_frame_spark.functions.text import char_entropy

    return df.filter(char_entropy(F.col(text_col)) >= min_entropy)


def _op_lang_gate(
    df: DataFrame,
    langs: list[str],
    text_col: str = "text",
    min_margin: int = 0,
) -> DataFrame:
    from meta_frame_spark.functions.text import language_scores

    ls = language_scores(F.col(text_col))
    return df.filter(
        ls["lang"].isin(list(langs)) & (ls["margin"] >= min_margin)
    )


def _op_quality_score_gate(
    df: DataFrame,
    text_col: str = "text",
    min_score: float = 0.5,
) -> DataFrame:
    """Keep rows whose heuristic :func:`quality_score` clears
    ``min_score`` — the stateless gate the streaming curation twins
    (stream_curate/stream_score) hand-wired before this step existed."""
    from meta_frame_spark.functions.text import quality_score

    return df.filter(quality_score(F.col(text_col)) >= min_score)


def _gate_report_cols(
    df: DataFrame, report_fn, text_col: str, op: str
) -> tuple[DataFrame, list[str]]:
    """Apply a rule-report builder for a gate step and return
    ``(scored, added_columns)`` — raising ``ConfigError`` when the
    input frame already holds a report-named column (the builders use
    ``withColumn``, which would silently OVERWRITE the user's column
    and then leave the recomputed value behind, because the drop list
    cannot tell it apart from a pass-through). The report namespace
    is probed on a one-column projection, so detection costs a plan,
    not a job."""
    probe = report_fn(df.select(text_col), text_col=text_col)
    namespace = set(probe.columns) - {text_col}
    clash = sorted(namespace & set(df.columns))
    if clash:
        raise ConfigError(
            f"{op}: input columns {clash} collide with the rule "
            "report's column names; rename or drop them before this "
            "step"
        )
    scored = report_fn(df, text_col=text_col)
    return scored, [c for c in scored.columns if c not in df.columns]


def _op_gopher_gate(
    df: DataFrame,
    text_col: str = "text",
    rules: list[str] | None = None,
) -> DataFrame:
    """Keep rows passing the Gopher rule set (all 8 rules, or just the
    named ``rules`` — see functions.text.with_gopher_rules). Schema
    passes through unchanged: the report columns are computed, gated
    on, and dropped. Map-only codegen, stream-safe."""
    from meta_frame_spark.functions.text import with_gopher_rules

    scored, added = _gate_report_cols(
        df, with_gopher_rules, text_col, "gopher_gate"
    )
    if rules is None:
        cond = F.col("gopher_pass")
    else:
        bad = set(rules) - {c for c in added if c.startswith("r_")}
        if bad:
            raise ConfigError(
                f"gopher_gate: unknown rules {sorted(bad)}; known: "
                f"{sorted(c for c in added if c.startswith('r_'))}"
            )
        cond = F.lit(True)
        for r in rules:
            cond = cond & F.col(r)
    return scored.filter(cond).drop(*added)


def _op_robots_gate(
    df: DataFrame,
    robots: DataFrame | None = None,
    url_col: str = "url",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """Drop rows whose URL is disallowed for ``User-agent: *`` by the
    host's robots.txt (functions.web.apply_robots — RFC 9309
    politeness, the gate a crawl MUST apply before anything else).
    ``robots`` is one row per host; the host-count-sized rules side
    parses once and broadcast-joins, so the corpus never shuffles.
    Stream-safe (stream-static broadcast join)."""
    if robots is None:
        raise ConfigError(
            "robots_gate: a 'robots' DataFrame (host, robots_txt) is "
            "required"
        )
    from meta_frame_spark.functions.web import apply_robots

    return apply_robots(
        df, robots, url_col=url_col, host_col=host_col,
        txt_col=txt_col,
    )


def _op_fix_encoding(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    from meta_frame_spark.functions.text import fix_encoding

    return df.withColumn(out_col or text_col, fix_encoding(F.col(text_col)))


def _op_repetition_gate(
    df: DataFrame,
    text_col: str = "text",
    rules: list[str] | None = None,
) -> DataFrame:
    """Keep rows passing the Gopher Table-A1 repetition filters (all
    13, or just the named ``rules`` — functions.text
    .with_repetition_rules). Schema passes through; map-only
    (line/paragraph HOFs + one Arrow histogram pass), stream-safe."""
    from meta_frame_spark.functions.text import with_repetition_rules

    scored, added = _gate_report_cols(
        df, with_repetition_rules, text_col, "repetition_gate"
    )
    if rules is None:
        cond = F.col("repetition_pass")
    else:
        known = {c for c in added if c.startswith("r_")}
        bad = set(rules) - known
        if bad:
            raise ConfigError(
                f"repetition_gate: unknown rules {sorted(bad)}; "
                f"known: {sorted(known)}"
            )
        cond = F.lit(True)
        for r in rules:
            cond = cond & F.col(r)
    return scored.filter(cond).drop(*added)


def _op_c4_gate(
    df: DataFrame,
    text_col: str = "text",
    apply_line_filter: bool = True,
) -> DataFrame:
    """C4 page gate (Raffel et al. 2020; functions.text
    .with_c4_clean): drop pages with lorem ipsum / curly braces /
    fewer than 5 surviving sentences, and (by default) replace
    ``text_col`` with the line-filtered ``c4_text``. Schema passes
    through; map-only codegen, stream-safe."""
    from meta_frame_spark.functions.text import with_c4_clean

    scored, added = _gate_report_cols(
        df, with_c4_clean, text_col, "c4_gate"
    )
    out = scored.filter(F.col("c4_pass"))
    if apply_line_filter:
        out = out.withColumn(text_col, F.col("c4_text"))
    return out.drop(*added)


def _op_blocklist_gate(
    df: DataFrame,
    text_col: str = "text",
    blocklist: dict[str, float] | None = None,
    max_score: float = 1.0,
) -> DataFrame:
    """Keep rows under the weighted banned-term score (functions.text
    .with_blocklist_score — the UT1/RefinedWeb first-tier web filter).
    Schema passes through; map-only codegen over a literal term map,
    stream-safe."""
    from meta_frame_spark.functions.text import with_blocklist_score

    scored, added = _gate_report_cols(
        df,
        lambda d, text_col: with_blocklist_score(
            d, text_col=text_col, blocklist=blocklist, max_score=max_score
        ),
        text_col,
        "blocklist_gate",
    )
    return scored.filter(F.col("blocklist_pass")).drop(*added)


def _op_url_gate(
    df: DataFrame,
    url_col: str = "url",
    max_len: int = 2048,
    max_params: int = 8,
    max_depth: int = 12,
) -> DataFrame:
    """Keep rows whose URL passes the pre-content web-filter tier
    (functions.web.with_url_quality: length/param/depth limits,
    session-id and calendar-trap tells). Schema passes through;
    map-only codegen, stream-safe."""
    from meta_frame_spark.functions.web import with_url_quality

    scored, added = _gate_report_cols(
        df,
        lambda d, text_col: with_url_quality(
            d, url_col=text_col, max_len=max_len,
            max_params=max_params, max_depth=max_depth,
        ),
        url_col,
        "url_gate",
    )
    return scored.filter(F.col("url_pass")).drop(*added)


def _op_soft_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 1.0,
    weight_col: str = "weight",
) -> DataFrame:
    """Attach SoftDedup duplication weights (operators/dedup
    .soft_dedup_weights) as ``weight_col`` instead of dropping
    duplicates — feed a later ``budget_select``/``sample_per_group``
    stage, or export the weights with the corpus. NOT stream-safe
    (cluster sizes are whole-corpus state).

    ``id_col`` must uniquely identify rows (the doc-id contract shared
    with every dedup step); duplicated ids would multiply rows at the
    attach join. NULL ids are kept — the attach is null-safe, matching
    soft_dedup_weights' own eqNullSafe clustering."""
    if weight_col in df.columns or f"{weight_col}_dup_count" in df.columns:
        raise ConfigError(
            f"soft_dedup: output columns {weight_col!r}/"
            f"'{weight_col}_dup_count' collide with input columns"
        )
    from meta_frame_spark.operators.dedup import soft_dedup_weights

    w = soft_dedup_weights(
        df, text_col=text_col, id_col=id_col, alpha=alpha
    ).select(
        F.col(id_col).alias("_sd_id"),
        F.col("dup_count").alias(f"{weight_col}_dup_count"),
        F.col("weight").alias(weight_col),
    )
    # null-safe: a NULL doc_id has a weight row too (soft_dedup_weights
    # clusters null texts via eqNullSafe); a plain equi-join would
    # silently drop it here and change the row count
    return df.join(
        w, F.col(id_col).eqNullSafe(F.col("_sd_id"))
    ).drop("_sd_id")


def _op_lm_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model: str = "unigram",
    top_v: int = 10_000,
    max_quantile: float = 0.9,
    score_col: str | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """CCNet-style perplexity-tail drop (Wenzek et al. 2020): fit a
    unigram (or stupid-backoff bigram, ``model='bigram'``) LM on the
    frame itself (operators/scoring), score every document by its
    average negative log-likelihood, and KEEP documents at or below
    the ``max_quantile`` percentile of the score — the config-declared
    "drop the worst-PPL tail" stage that previously needed
    hand-wiring. ``score_col`` optionally retains the score; the
    default schema passes through unchanged.

    Rows without a score are dropped: NULL text under either model,
    and sub-2-token documents under the bigram model — a perplexity
    gate has no evidence for them. ``id_col`` must uniquely identify
    rows (the doc-id contract); the attach join is null-safe.

    NOT stream-safe (the model and the cutoff are whole-corpus
    state). Scale: fit is one token groupBy with map-side partials and
    a broadcast top-``top_v`` vocab; scoring probes the broadcast
    vocab map-side and aggregates once per doc; the cutoff is a 1-row
    aggregate cross-joined back. ``exact=True`` uses an exact
    percentile (oracle-matched; collects the per-group score vector on
    one task) — at real corpus scale pass ``exact=False`` for
    ``percentile_approx`` with ``accuracy``."""
    if model not in ("unigram", "bigram"):
        raise ConfigError(
            f"lm_gate: unknown model {model!r}; use 'unigram' or 'bigram'"
        )
    if not 0.0 < max_quantile <= 1.0:
        raise ConfigError(
            f"lm_gate: max_quantile must be in (0, 1], got {max_quantile}"
        )
    if score_col and score_col in df.columns:
        raise ConfigError(
            f"lm_gate: score_col {score_col!r} collides with an input column"
        )
    from meta_frame_spark.operators.scoring import (
        bigram_logprob,
        bigram_vocab,
        unigram_logprob,
        unigram_vocab,
    )

    if model == "unigram":
        vocab, total = unigram_vocab(df, text_col, top_v)
        scores = unigram_logprob(df, vocab, total, text_col, id_col)
    else:
        unigrams, total = unigram_vocab(df, text_col, top_v)
        bigrams = bigram_vocab(df, text_col, top_v)
        scores = bigram_logprob(
            df, bigrams, unigrams, total, text_col, id_col
        )
    s = scores.select(
        F.col(id_col).alias("_lm_id"),
        F.col("avg_neg_logprob").alias("_lm_score"),
    )
    q = F.lit(float(max_quantile))
    cut = s.agg(
        (
            F.percentile(F.col("_lm_score"), q)
            if exact
            else F.percentile_approx(F.col("_lm_score"), q, F.lit(accuracy))
        ).alias("_lm_cut")
    )
    # Round both sides of the boundary comparison: when
    # max_quantile*(n-1) lands on an integer index the cutoff EQUALS
    # one doc's score, and a last-ulp AVG/ln difference between Spark
    # and an exact-percentile oracle replay could flip that boundary
    # doc in/out of the kept set. 9 digits is far above double noise
    # (~1e-16 relative) and far below any real score gap.
    gated = (
        df.join(s, F.col(id_col).eqNullSafe(F.col("_lm_id")))
        .crossJoin(F.broadcast(cut))
        .filter(
            F.round(F.col("_lm_score"), 9) <= F.round(F.col("_lm_cut"), 9)
        )
    )
    keep = [F.col("_lm_score").alias(score_col)] if score_col else []
    return gated.select(*df.columns, *keep)


def _op_html_extract(
    df: DataFrame,
    html_col: str = "html",
    out_col: str = "text",
    min_chars: int = 25,
    max_link_density: float = 0.35,
) -> DataFrame:
    """Boilerplate removal (functions/web.html_to_text — jusText-class
    line classification): the FIRST content step of a real web
    pipeline, producing the clean ``text`` the c4_gate/gopher_gate/
    lm_gate steps downstream consume. Map-only codegen, stream-safe."""
    from meta_frame_spark.functions.web import with_html_text

    if html_col not in df.columns:
        raise ConfigError(
            f"html_extract: no column {html_col!r} in the frame"
        )
    try:
        return with_html_text(
            df, html_col, out_col, min_chars, max_link_density
        )
    except ValueError as e:
        raise ConfigError(f"html_extract: {e}") from e


def _op_compression_gate(
    df: DataFrame,
    text_col: str = "text",
    min_ratio: float = 0.10,
    max_ratio: float = 1.05,
    level: int = 6,
) -> DataFrame:
    """Two-sided zlib compressibility gate (operators/profile
    .with_compression_ratio): drop documents that compress too WELL
    (template floods / repeated boilerplate, ratio below
    ``min_ratio``) or essentially not at all (pre-compressed blobs
    and degenerate fragments, ratio above ``max_ratio`` — short docs
    can exceed 1.0 from zlib header overhead). Defaults are lenient
    because the ratio is length-dependent; calibrate per corpus.
    Empty/NULL-text docs drop (no signal). Schema passes through; one
    Arrow map, stream-safe."""
    from meta_frame_spark.operators.profile import with_compression_ratio

    if not 0.0 <= min_ratio < max_ratio:
        raise ConfigError(
            f"compression_gate: need 0 <= min_ratio < max_ratio, got "
            f"{min_ratio}, {max_ratio}"
        )
    try:
        scored = with_compression_ratio(df, text_col, level)
    except ValueError as e:
        raise ConfigError(f"compression_gate: {e}") from e
    kept = scored.filter(
        F.col("compression_ratio").isNotNull()
        & (F.col("compression_ratio") >= min_ratio)
        & (F.col("compression_ratio") <= max_ratio)
    )
    return kept.select(*df.columns)


def _op_cache(df: DataFrame) -> DataFrame:
    """Materialization hint for fan-out points. Without it, every
    downstream step that references the flowing frame twice — a
    quantile gate's stats aggregate + data side, quantile_match's
    reference + count — re-derives the whole upstream plan per
    reference.

    Two mechanisms, chosen per call (guide §3.3/§5 "materialising an
    intermediate truncates the plan"): a persisted frame still carries
    its full logical lineage, so each of the ~10 downstream actions of
    a selection pipeline re-analyzes and re-optimizes a plan that
    embeds the DSIR scorer and every prior gate — measured as the
    dominant driver-side cost of ``curation_select`` (hundreds of KB
    of plan per action). ``localCheckpoint`` truncates the
    lineage to an RDD leaf, so downstream analysis is over a two-node
    plan; the data itself is identical and still computed from the
    inputs on every run. ``eager=False`` is not lazy: converting the
    frame to an RDD executes its adaptive plan, so every shuffle-map
    stage of the upstream runs (as AQE query stages) when this step is
    built, and only the final result stage waits for the first
    consuming action. But local-checkpoint blocks are NOT
    fault-tolerant: on executor loss the lineage needed to recompute
    them is gone and the job FAILS (it does not re-materialize), and
    ``DataFrame.unpersist()`` cannot release them — only the context
    cleaner can, when the plan is garbage-collected.

    So the master decides: the frame is checkpointed exactly when the
    master is single-JVM (``session.local_task_slots``: ``local``,
    ``local[N]``, ``local[*]``) — a single process has no executor to
    lose, so the truncation is free of the failure mode — and persisted
    on any other master, ``local-cluster`` included, where a lost
    executor must be able to recompute.
    (An r15 plan-size probe that switched small LOCAL pipelines back
    to persist was measured and rejected: reading the analyzed plan to
    size it costs ~0.3s even on curation_budget — more than the ~0.1s
    checkpoint overhead it tried to save.) The persist branch is
    registered with ``release_tracked_caches()``; the checkpoint
    branch is not, since unpersist is a no-op on checkpointed plans."""
    from meta_frame_spark.operators.cache import track
    from meta_frame_spark.session import local_task_slots

    if local_task_slots(df.sparkSession) is not None:
        return df.localCheckpoint(eager=False)
    return track(df.persist())


def _op_select(df: DataFrame, columns: list[str]) -> DataFrame:
    return df.select(*columns)


def _op_derive(df: DataFrame, columns: dict[str, str]) -> DataFrame:
    out = df
    for name, expr in columns.items():
        out = out.withColumn(name, F.expr(expr))
    return out


#: op name -> implementation: a step callable, or the ``"module:function"``
#: path of an operator the step runs as is (imported on first use, so
#: importing this module imports no operator). Each takes (df, **step
#: kwargs); its accepted kwargs are read from its signature.
CURATION_OPS: dict[str, Callable | str] = {
    "filter": _op_filter,
    "quality_gate": "meta_frame_spark.operators.gating:quantile_band_filter",
    "winsorize": "meta_frame_spark.operators.gating:winsorize",
    "dedup_exact": "meta_frame_spark.operators.dedup:drop_exact_duplicates",
    "dedup_against": _op_dedup_against,
    "domain_cap": "meta_frame_spark.operators.quota:quota_per_group",
    "stratified_sample": "meta_frame_spark.operators.sampling:stratified_sample",
    "hash_split": "meta_frame_spark.operators.sampling:hash_split",
    "mix": "meta_frame_spark.operators.mixing:apply_mix",
    "decontaminate": _op_decontaminate,
    "normalize_scores": "meta_frame_spark.operators.ranking:normalize_scores",
    "dsir_weights": _op_dsir_weights,
    "rrf_fuse": _op_rrf_fuse,
    "quantile_match": "meta_frame_spark.operators.ranking:quantile_match",
    # config-driven token-budget cut: the terminal step of a selection
    # pipeline ("the best/first N-token subset")
    "budget_select": "meta_frame_spark.operators.sampling:budget_select",
    # deterministic hash-ordered k-per-group inspection/eval slice
    "sample_per_group": "meta_frame_spark.operators.sampling:sample_k_per_group",
    "novelty_gate": _op_novelty_gate,
    "normalize": _op_normalize,
    "redact_pii": _op_redact_pii,
    "entropy_gate": _op_entropy_gate,
    "lang_gate": _op_lang_gate,
    "quality_score_gate": _op_quality_score_gate,
    "gopher_gate": _op_gopher_gate,
    "repetition_gate": _op_repetition_gate,
    "html_extract": _op_html_extract,
    "compression_gate": _op_compression_gate,
    "c4_gate": _op_c4_gate,
    "blocklist_gate": _op_blocklist_gate,
    "url_gate": _op_url_gate,
    "robots_gate": _op_robots_gate,
    "soft_dedup": _op_soft_dedup,
    "lm_gate": _op_lm_gate,
    "fix_encoding": _op_fix_encoding,
    "select": _op_select,
    "derive": _op_derive,
    "cache": _op_cache,
}


def _step(op: str) -> Callable:
    """The callable that runs step ``op``."""
    impl = CURATION_OPS[op]
    return _resolve(impl) if isinstance(impl, str) else impl


def _named_params(fn: Callable) -> list[inspect.Parameter]:
    return [
        p for p in inspect.signature(fn).parameters.values()
        if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)
    ]


def _allowed_keys(op: str) -> set[str]:
    """Valid kwarg names for a step: the named parameters of the code
    that runs it after the frame, plus, for a step marked with
    :func:`_forwards`, every parameter of its operator that the step's
    positional parameters do not bind."""
    fn = _step(op)
    params = _named_params(fn)
    allowed = {p.name for p in params[1:]}
    if hasattr(fn, "forwards"):
        bound = sum(p.kind is p.POSITIONAL_OR_KEYWORD for p in params)
        allowed |= {p.name for p in _named_params(_resolve(fn.forwards))[bound:]}
    return allowed


def validate_curation_config(config: dict) -> list[dict]:
    """Validated step list. Raises ``ConfigError`` on a non-list
    ``steps``, an unknown ``op``, or kwargs the operator does not
    accept — config typos fail before any job runs."""
    steps = config.get("steps")
    if not isinstance(steps, list) or not steps:
        raise ConfigError("curation config needs a non-empty 'steps' list")
    out = []
    for i, step in enumerate(steps):
        if not isinstance(step, dict) or "op" not in step:
            raise ConfigError(f"step {i}: each step must be a dict with an 'op'")
        op = step["op"]
        if op not in CURATION_OPS:
            raise ConfigError(
                f"step {i}: unknown op {op!r}; known: {sorted(CURATION_OPS)}"
            )
        kwargs = {k: v for k, v in step.items() if k != "op"}
        allowed = _allowed_keys(op)
        bad = set(kwargs) - allowed
        if bad:
            raise ConfigError(
                f"step {i} ({op}): unknown kwargs {sorted(bad)}; "
                f"allowed: {sorted(allowed)}"
            )
        out.append({"op": op, **kwargs})
    return out


def _compile(df: DataFrame, steps: list[dict]) -> DataFrame:
    for step in steps:
        kwargs = {k: v for k, v in step.items() if k != "op"}
        df = _step(step["op"])(df, **kwargs)
    return df


def run_curation(df: DataFrame, config: dict) -> DataFrame:
    """Compile a curation config into one lazy DataFrame plan."""
    return _compile(df, validate_curation_config(config))


#: Curation ops that are STATELESS and map-only — safe to compile onto
#: a streaming DataFrame unchanged (no shuffle, no state store, no
#: second reference to the flowing frame). Everything else (dedup,
#: quantile gates, sampling with exact counts, caps, mixes, splits)
#: needs whole-corpus state and has explicit streaming twins in
#: streaming/ops.py instead.
STREAM_SAFE_OPS: frozenset[str] = frozenset({
    "filter", "normalize", "redact_pii", "entropy_gate", "lang_gate",
    "quality_score_gate", "gopher_gate", "repetition_gate", "c4_gate",
    "blocklist_gate", "url_gate", "robots_gate", "fix_encoding",
    "select", "derive",
    # map-only Arrow/codegen steps — stateless per micro-batch
    "html_extract", "compression_gate",
})


def validate_stream_config(config: dict) -> list[dict]:
    """:func:`validate_curation_config` plus stream-safety: every step
    must be in :data:`STREAM_SAFE_OPS`, so a config typo'd with a
    stateful op fails loudly at validation time instead of at
    writeStream start (or worse, with a wrong-answer complete-mode
    plan)."""
    steps = validate_curation_config(config)
    for i, step in enumerate(steps):
        if step["op"] not in STREAM_SAFE_OPS:
            raise ConfigError(
                f"step {i} ({step['op']}): not stream-safe; streaming "
                f"configs may only use {sorted(STREAM_SAFE_OPS)} — use "
                "the streaming/ops.py twin for stateful operators"
            )
    return steps


def run_curation_stream(stream_df: DataFrame, config: dict) -> DataFrame:
    """Compile a STREAM-SAFE curation config onto a streaming
    DataFrame (VERDICT r10 "Next round" #6): the same registered step
    callables as :func:`run_curation` — they are pure column
    transformations, so the identical gate chain runs per micro-batch
    with zero state. A drained stream therefore equals
    ``run_curation(batch_df, config)`` on the same data, which is the
    driver oracle for the ``stream_gate`` query."""
    return _compile(stream_df, validate_stream_config(config))
