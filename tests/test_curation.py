"""Corpus-curation operators: decontamination, quantile gating, mixing.

Each is verified twice — unit semantics here on tiny frames, and
exact DuckDB oracles at sf0.01 via the driver contract
(`__spark_entry__.oracle_sql`: decontaminate / quantile_gate /
corpus_mix)."""

import importlib
import inspect
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from meta_frame_spark.operators.decontaminate import decontaminate, ngram_overlap
from meta_frame_spark.operators.gating import quantile_band_filter
from meta_frame_spark.operators.mixing import apply_mix, mix_plan
from meta_frame_spark.plans.curation import (
    CURATION_OPS,
    _allowed_keys,
    validate_curation_config,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different sentence with no overlap at all"),
        (3, "quick brown fox seen again in this training document"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench_set(spark):
    return spark.createDataFrame(
        [(100, "watch the quick brown fox run")], "doc_id long, text string"
    )


def test_ngram_overlap_counts_distinct_shared_grams(corpus, bench_set):
    got = {
        r["doc_id"]: r["n_hit_ngrams"]
        for r in ngram_overlap(corpus, bench_set, n=3).collect()
    }
    # doc 1 shares "the quick brown" + "quick brown fox"; doc 3 shares
    # "quick brown fox"; doc 2 shares nothing (absent, not zero)
    assert got == {1: 2, 3: 1}


def test_decontaminate_drops_flagged_keeps_clean(corpus, bench_set):
    kept = decontaminate(corpus, bench_set, n=3)
    assert [r["doc_id"] for r in kept.collect()] == [2]
    assert kept.columns == corpus.columns
    # min_hits=2: only doc 1 is dirty enough to drop
    kept2 = decontaminate(corpus, bench_set, n=3, min_hits=2)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [2, 3]


def test_quantile_band_filter_trims_tails(spark):
    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(1, 101)], "id long, g string, v double"
    )
    kept = quantile_band_filter(df, "v", 0.10, 0.90, group_cols=["g"])
    vals = sorted(r["v"] for r in kept.collect())
    # p10 of 1..100 = 10.9, p90 = 90.1 (linear interpolation)
    assert vals[0] == 11.0 and vals[-1] == 90.0
    assert kept.columns == df.columns


def test_quantile_band_filter_global_and_validation(spark):
    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id long, v double")
    assert quantile_band_filter(df, "v", 0.0, 1.0).count() == 10
    with pytest.raises(ValueError):
        quantile_band_filter(df, "v", 0.9, 0.1)


@pytest.fixture(scope="module")
def sized_corpus(spark):
    # src a: 1000 chars, src b: 1000, src c: 4000 (over-represented)
    rows = [(i, ["a", "b", "c"][min(i // 10, 2)], 100) for i in range(60)]
    return spark.createDataFrame(rows, "doc_id long, source string, n_chars long")


def test_mix_plan_math(sized_corpus):
    plan = {
        r["source"]: r
        for r in mix_plan(
            sized_corpus, "source", {"a": 0.25, "b": 0.25, "c": 0.5},
            size_col="n_chars",
        ).collect()
    }
    # a: 1000 chars, b: 1000, c: 4000 -> T = min(1000/.25, 1000/.25,
    # 4000/.5) = 4000; fracs: a=b=1.0, c=.5
    assert plan["a"]["keep_frac"] == pytest.approx(1.0)
    assert plan["b"]["keep_frac"] == pytest.approx(1.0)
    assert plan["c"]["keep_frac"] == pytest.approx(0.5)
    assert plan["c"]["n_rows"] == 40


def test_mix_plan_rejects_bad_weights(sized_corpus):
    with pytest.raises(ValueError):
        mix_plan(sized_corpus, "source", {"a": 0.5, "b": 0.2})
    with pytest.raises(ValueError):
        mix_plan(sized_corpus, "source", {})


def test_apply_mix_is_deterministic_and_drops_unlisted(sized_corpus):
    out1 = apply_mix(
        sized_corpus, "source", {"a": 0.5, "b": 0.5}, id_col="doc_id"
    )
    out2 = apply_mix(
        sized_corpus.repartition(7), "source", {"a": 0.5, "b": 0.5}, id_col="doc_id"
    )
    ids1 = sorted(r["doc_id"] for r in out1.collect())
    assert ids1 == sorted(r["doc_id"] for r in out2.collect())
    assert not out1.filter(F.col("source") == "c").count()


def test_mix_plan_single_aggregate_shuffle(sized_corpus):
    # plan side must stay tiny: one groupBy over the corpus, everything
    # after operates on per-source rows
    plan = mix_plan(sized_corpus, "source", {"a": 0.5, "b": 0.5})
    expl = plan._jdf.queryExecution().executedPlan().toString()
    assert expl.count("HashAggregate") <= 6  # partial+final for 3 aggs max


class TestCurationConfig:
    """Declarative curation pipelines (plans/curation.py): the
    reference's metadata-driven contract extended to curation ops,
    with loud validation (no silent fallthrough)."""

    def test_unknown_op_raises(self, spark):
        from meta_frame_spark.config.model import ConfigError
        from meta_frame_spark.plans.curation import validate_curation_config

        with pytest.raises(ConfigError, match="unknown op"):
            validate_curation_config({"steps": [{"op": "frobnicate"}]})

    def test_unknown_kwarg_raises(self, spark):
        from meta_frame_spark.config.model import ConfigError
        from meta_frame_spark.plans.curation import validate_curation_config

        for step in (
            {"op": "dedup_exact", "key_cols": ["text"], "id_col": "doc_id",
             "tpyo": 1},
            # typos that once passed validation and failed at build
            {"op": "html_extract", "html_cl": "x"},
            {"op": "compression_gate", "min_ration": 0.2},
        ):
            with pytest.raises(ConfigError, match="unknown kwargs"):
                validate_curation_config({"steps": [step]})

    def test_empty_steps_raises(self, spark):
        from meta_frame_spark.config.model import ConfigError
        from meta_frame_spark.plans.curation import validate_curation_config

        with pytest.raises(ConfigError):
            validate_curation_config({"steps": []})

    def test_chain_equals_manual_composition(self, spark, documents):
        from meta_frame_spark.operators.dedup import drop_exact_duplicates
        from meta_frame_spark.operators.gating import quantile_band_filter
        from meta_frame_spark.plans.curation import run_curation

        config = {
            "steps": [
                {"op": "filter", "predicate": "lang = 'en'"},
                {"op": "quality_gate", "value_col": "n_chars",
                 "lower_q": 0.1, "upper_q": 0.9, "group_cols": ["source"]},
                {"op": "dedup_exact", "key_cols": ["text"], "id_col": "doc_id"},
            ]
        }
        declared = run_curation(documents, config)
        manual = drop_exact_duplicates(
            quantile_band_filter(
                documents.filter("lang = 'en'"), "n_chars", 0.1, 0.9, ["source"]
            ),
            ["text"], "doc_id",
        )
        assert sorted(r.doc_id for r in declared.collect()) == sorted(
            r.doc_id for r in manual.collect()
        )

    def test_derive_and_select(self, spark, documents):
        from meta_frame_spark.plans.curation import run_curation

        out = run_curation(documents, {"steps": [
            {"op": "derive", "columns": {"kchars": "n_chars / 1000.0"}},
            {"op": "select", "columns": ["doc_id", "kchars"]},
        ]})
        assert out.columns == ["doc_id", "kchars"]

    def test_mix_step_runs_and_matches_direct_call(self, spark, sized_corpus):
        """Regression: _op_mix used to pass the plan frame where
        apply_mix expects source_col, crashing every 'mix' step."""
        from meta_frame_spark.operators.mixing import apply_mix
        from meta_frame_spark.plans.curation import run_curation

        weights = {"a": 0.5, "b": 0.5}
        declared = run_curation(sized_corpus, {"steps": [
            {"op": "mix", "source_col": "source", "weights": weights,
             "id_col": "doc_id", "size_col": "n_chars"},
        ]})
        direct = apply_mix(
            sized_corpus, "source", weights, id_col="doc_id", size_col="n_chars"
        )
        assert sorted(r.doc_id for r in declared.collect()) == sorted(
            r.doc_id for r in direct.collect()
        )

    def test_single_lazy_plan(self, spark, documents):
        from meta_frame_spark.plans.curation import run_curation

        out = run_curation(documents, {"steps": [
            {"op": "filter", "predicate": "lang = 'en'"},
            {"op": "select", "columns": ["doc_id", "lang"]},
        ]})
        plan = out._jdf.queryExecution().executedPlan().toString()
        # filter + projection reach the parquet scan in one plan
        assert "PushedFilters: [" in plan and "IsNotNull(lang)" in plan


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _named_params(fn):
    return [
        p for p in inspect.signature(fn).parameters.values()
        if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)
    ]


def _function(path):
    mod_name, fn_name = path.split(":")
    return getattr(importlib.import_module(mod_name), fn_name)


@pytest.mark.parametrize("op", sorted(CURATION_OPS))
def test_curation_step_kwargs_are_read_from_its_code(op):
    """A step's accepted kwargs are the parameters of the code that
    runs it: never free-form, nothing its code lacks, and every
    parameter of a forwarded operator the step does not bind itself."""
    impl = CURATION_OPS[op]
    fn = _function(impl) if isinstance(impl, str) else impl
    allowed = _allowed_keys(op)
    assert allowed is not None, f"{op} is free-form"
    params = inspect.signature(fn).parameters.values()
    own = {p.name for p in _named_params(fn)[1:]}
    forwards = getattr(fn, "forwards", None)
    if forwards is None:
        assert all(p.kind is not p.VAR_KEYWORD for p in params), (
            f"{op} takes **kw without naming the operator it forwards to")
        assert allowed == own
        return
    positional = [p.name for p in params
                  if p.kind is p.POSITIONAL_OR_KEYWORD]
    forwarded = {p.name for p in _named_params(_function(forwards))
                 [len(positional):]}
    assert forwarded - own, f"{op} forwards no parameter"
    assert allowed == own | forwarded


def test_curation_vocabularies_are_their_implementations():
    """Validation accepts what the code runs: decontaminate takes its
    operator's kwargs, and the agg funcs / filter ops that validation
    accepts (and lists in its error) are the names the builder builds."""
    from meta_frame_spark.config.model import AggSpec, ConfigError, FilterSpec
    from meta_frame_spark.plans.builder import AGG_BUILDERS, FILTER_BUILDERS

    step = {"op": "decontaminate", "benchmark": None, "text_col": "text",
            "n": 5}
    assert validate_curation_config({"steps": [step]}) == [step]
    for name in AGG_BUILDERS:
        AggSpec.from_dict({"agg_col": "x", "agg_func": name})
    for name in FILTER_BUILDERS:
        FilterSpec.from_dict(
            {"filter_col": "x", "filter_op": name, "filter_value": [1]})
    with pytest.raises(ConfigError) as agg_err:
        AggSpec.from_dict({"agg_col": "x", "agg_func": "nope"})
    with pytest.raises(ConfigError) as filter_err:
        FilterSpec.from_dict({"filter_col": "x", "filter_op": "nope"})
    assert str(agg_err.value).endswith(f"allowed: {sorted(AGG_BUILDERS)}")
    assert str(filter_err.value).endswith(
        f"allowed: {sorted(FILTER_BUILDERS)}")


def test_package_import_loads_no_curation_operator():
    """Operator-backed steps resolve on first use, so importing the
    package imports none of their modules."""
    code = (
        "import sys, meta_frame_spark; "
        "print(sorted(m for m in sys.modules if m.startswith("
        "'meta_frame_spark.operators.')))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        check=True, timeout=120, cwd=REPO,
    ).stdout
    assert out.strip() == "[]"


def test_cross_split_leakage_rollup(spark):
    from meta_frame_spark.operators.decontaminate import cross_split_leakage

    pairs = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "id_a bigint, id_b bigint"
    )
    splits = spark.createDataFrame(
        [(1, "train"), (2, "test"), (3, "train"), (4, "train"),
         (5, "test"), (6, "train"), (7, "test"), (8, "test")],
        "doc_id bigint, split string",
    )
    got = {(r.split_a, r.split_b): r.n_pairs
           for r in cross_split_leakage(pairs, splits).collect()}
    # (1,2) and (5,6) straddle; (3,4) in-train; (7,8) in-test
    assert got == {("test", "train"): 2, ("train", "train"): 1, ("test", "test"): 1}


def test_curation_text_cleanup_ops(spark):
    from meta_frame_spark.plans.curation import run_curation

    df = spark.createDataFrame(
        [
            (0, "<p>The cat is in the house and it is warm today</p>", "en"),
            (1, "le chat est dans la maison et il est chaud ici", "fr"),
            (2, "zzzzzzzzzzzzzzzzzzzzzzzzzzzzzz", "en"),  # low entropy
            (3, "Mail me at bob@example.com for the cat details thanks", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    out = run_curation(df, {"steps": [
        {"op": "normalize", "html": True},
        {"op": "entropy_gate", "min_entropy": 1.5},
        {"op": "lang_gate", "langs": ["en"]},
        {"op": "redact_pii", "kinds": ["email"]},
    ]}).collect()
    got = {r.doc_id: r.text for r in out}
    assert set(got) == {0, 3}          # fr row and gibberish row gated
    assert got[0].startswith("the cat")  # html stripped + lowercased
    assert "<EMAIL>" in got[3] and "bob@" not in got[3]


def test_curation_new_ops_validate_kwargs(spark):
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import validate_curation_config

    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "normalize", "htlm": True}]}  # typo
        )
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "entropy_gate", "min": 2}]}
        )


def test_curation_selection_ops_compose(spark):
    """The round-9 registry additions (dsir_weights / rrf_fuse /
    quantile_match) compose into one config-driven selection plan:
    weights attach per row, rrf attaches the fused score, calibration
    appends out_col — and kwargs are validated against the real
    operator signatures."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        run_curation,
        validate_curation_config,
    )

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat", "en", 22.0),
            (2, "a dog ran over the hill", "en", 23.0),
            (3, "le chat est sur le tapis", "fr", 24.0),
            (4, "der hund lief den berg", "de", 22.5),
        ],
        ["doc_id", "text", "lang", "score"],
    )
    target = df.filter("lang = 'en'")
    out = run_curation(df, {"steps": [
        {"op": "dsir_weights", "target": target, "n": 2, "hex_chars": 2},
        {"op": "rrf_fuse", "score_cols": ["score", "log_weight"],
         "id_col": "doc_id"},
        {"op": "quantile_match", "value_col": "rrf",
         "group_cols": ["lang"], "id_col": "doc_id",
         "out_col": "rrf_cal"},
    ]})
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert {"log_weight", "rrf", "rrf_cal"} <= set(out.columns)
    # english docs score more target-like than the others
    assert min(rows[1].log_weight, rows[2].log_weight) > max(
        rows[3].log_weight, rows[4].log_weight
    )
    # kwargs validated against the real signatures
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "dsir_weights", "target": target,
                        "ngrams": 2}]}
        )
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "rrf_fuse", "cols": ["score"]}]}
        )
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "quantile_match", "value": "rrf"}]}
        )


def test_curation_cache_step_materializes_and_validates(spark, monkeypatch):
    """The cache step truncates or persists the flowing frame, by the
    master, and takes no kwargs.

    The single-JVM test master takes the local-checkpoint branch: once
    an action has run, the downstream plan reads a checkpointed RDD, and
    nothing is registered for release. A master that is not single-JVM
    (``local_task_slots`` is ``None``) persists the frame and registers
    it with ``operators.cache``, so exactly that one frame is released.
    """
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.operators.cache import _TRACKED, release_tracked_caches
    from meta_frame_spark.plans.curation import run_curation, validate_curation_config
    from meta_frame_spark.session import local_task_slots

    assert local_task_slots(spark) is not None
    steps = {"steps": [
        {"op": "cache"},
        {"op": "filter", "predicate": "v > 1"},
    ]}
    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], ["id", "v"])
    release_tracked_caches()  # frames other tests left registered

    def reads_checkpoint(frame):
        leaf = frame._jdf.queryExecution().analyzed().collectLeaves().head()
        return leaf.nodeName() == "LogicalRDD" and leaf.rdd().isCheckpointed()

    out = run_curation(df, steps)
    assert out.count() == 2
    assert reads_checkpoint(out)
    assert release_tracked_caches() == 0

    monkeypatch.setattr("meta_frame_spark.session.local_task_slots", lambda s: None)
    out = run_curation(df, steps)
    assert out.count() == 2
    assert not reads_checkpoint(out)
    assert [f.is_cached for f in _TRACKED] == [True]
    assert "InMemoryRelation" in out._jdf.queryExecution().withCachedData().toString()
    assert release_tracked_caches() == 1
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config({"steps": [{"op": "cache", "eager": True}]})


class _MasterStub:
    """The slice of a DataFrame ``_op_cache`` touches, on a given master,
    recording which materialization it asked for."""

    def __init__(self, master):
        from types import SimpleNamespace

        self.sparkSession = SimpleNamespace(
            sparkContext=SimpleNamespace(master=master),
        )
        self.calls = []

    def localCheckpoint(self, eager):
        self.calls.append("checkpoint")
        return self

    def persist(self):
        self.calls.append("persist")
        return self


@pytest.mark.parametrize("master,mechanism", [
    ("local", "checkpoint"),
    ("local[4]", "checkpoint"),
    ("local[2, 3]", "checkpoint"),
    # executors in their own JVMs: a lost one makes a local checkpoint fatal
    ("local-cluster[2,1,1024]", "persist"),
    ("spark://h:7077", "persist"),
])
def test_op_cache_checkpoints_only_on_a_single_jvm_master(master, mechanism):
    from meta_frame_spark.operators.cache import _TRACKED
    from meta_frame_spark.plans.curation import _op_cache

    df = _MasterStub(master)
    try:
        assert _op_cache(df) is df
    finally:
        if df in _TRACKED:
            _TRACKED.remove(df)
    assert df.calls == [mechanism]


def test_curation_budget_and_sample_ops(spark):
    """The round-10 registry additions (budget_select /
    sample_per_group) run as config steps — a pipeline can END in the
    cut stages — and kwargs are validated against the real operator
    signatures."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        run_curation,
        validate_curation_config,
    )

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 2), 10.0 * (1 + i % 3)) for i in range(40)],
        ["doc_id", "grp", "cost"],
    )
    out = run_curation(df, {"steps": [
        {"op": "sample_per_group", "group_cols": ["grp"], "k": 10,
         "id_col": "doc_id", "salt": "t", "method": "md5"},
        {"op": "budget_select", "value_col": "cost", "budget": 100.0,
         "order_by": ["doc_id"], "group_cols": ["grp"]},
    ]}).collect()
    assert 0 < len(out) <= 20
    # inclusive running sum never exceeds the per-group budget
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r.grp, []).append(r)
    for rows in by_grp.values():
        assert max(r.cum_cost for r in rows) <= 100.0

    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "budget_select", "value_col": "cost",
                        "budget": 1.0, "order": ["doc_id"]}]}
        )
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "sample_per_group", "group_cols": ["grp"],
                        "k": 3, "id": "doc_id"}]}
        )


def test_curation_novelty_gate(spark):
    """novelty_gate keeps only rows sufficiently novel vs the
    reference frame; kwargs validate against novelty_score's real
    signature plus min_novelty."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        run_curation,
        validate_curation_config,
    )

    ref = spark.createDataFrame(
        [(100, "the cat sat on the mat")], ["doc_id", "text"]
    )
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),       # novelty 0 -> dropped
            (2, "quantum flux capacitor hums"),  # novelty 1 -> kept
            (3, "the cat sat somewhere else"),   # novelty 0.5 -> kept
        ],
        ["doc_id", "text"],
    )
    out = run_curation(df, {"steps": [
        {"op": "novelty_gate", "reference": ref, "n": 2,
         "min_novelty": 0.5},
    ]})
    assert sorted(r.doc_id for r in out.collect()) == [2, 3]
    assert out.columns == df.columns  # schema passes through
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config(
            {"steps": [{"op": "novelty_gate", "reference": ref,
                        "min_nov": 0.5}]}
        )
    # out_col is a legitimate novelty_score kwarg; the gate must filter
    # on it rather than the hard-coded 'novelty' (ADVICE r10)
    out2 = run_curation(df, {"steps": [
        {"op": "novelty_gate", "reference": ref, "n": 2,
         "min_novelty": 0.5, "out_col": "nv"},
    ]})
    assert sorted(r.doc_id for r in out2.collect()) == [2, 3]


def test_curation_new_stateless_steps(spark):
    """gopher_gate / quality_score_gate / fix_encoding as registered
    steps: schema passthrough, threshold behavior, kwarg validation."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        run_curation,
        validate_curation_config,
    )

    good = ("the quick brown fox jumps over the lazy dog and that "
            "nimble cat with a big leap of joy today ") * 3
    df = spark.createDataFrame(
        [(1, good), (2, "too short"), (3, "CafÃ© " + good)],
        ["doc_id", "text"],
    )
    out = run_curation(df, {"steps": [{"op": "gopher_gate"}]})
    assert out.columns == df.columns
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]
    # rule subset: only the word-count rule -> same outcome here
    out2 = run_curation(df, {"steps": [
        {"op": "gopher_gate", "rules": ["r_word_count"]}]})
    assert sorted(r.doc_id for r in out2.collect()) == [1, 3]
    with pytest.raises(ConfigError, match="unknown rules"):
        run_curation(df, {"steps": [
            {"op": "gopher_gate", "rules": ["r_nope"]}]}).collect()

    kept = run_curation(df, {"steps": [
        {"op": "quality_score_gate", "min_score": 0.75}]})
    assert 2 not in {r.doc_id for r in kept.collect()}

    fixed = run_curation(df, {"steps": [{"op": "fix_encoding"}]})
    assert fixed.filter("doc_id = 3").first().text.startswith("Café ")
    with pytest.raises(ConfigError, match="unknown kwargs"):
        validate_curation_config({"steps": [
            {"op": "fix_encoding", "column": "text"}]})


def test_stream_config_validation_and_equality(spark, tmp_path):
    """validate_stream_config rejects stateful ops; a drained
    run_curation_stream equals run_curation on the same data."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        run_curation,
        run_curation_stream,
        validate_stream_config,
    )
    from meta_frame_spark.streaming.ops import run_to_memory

    cfg = {"steps": [
        {"op": "fix_encoding"},
        {"op": "quality_score_gate", "min_score": 0.5},
        {"op": "lang_gate", "langs": ["en"]},
    ]}
    validate_stream_config(cfg)
    with pytest.raises(ConfigError, match="not stream-safe"):
        validate_stream_config({"steps": [
            {"op": "dedup_exact", "key_cols": ["text"], "id_col": "doc_id"},
        ]})

    good = ("the quick brown fox jumps over the lazy dog and that "
            "nimble cat with a big leap of joy today ") * 3
    rows = [(1, good), (2, "short"), (3, "CafÃ© " + good),
            (4, ("le chat est sur le tapis et la pluie tombe sur les "
                 "toits de la ville que nous aimons bien ") * 3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "src")
    df.coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(df.schema).parquet(d)
    drained = run_to_memory(
        run_curation_stream(stream, cfg), "mem_stream_gate_t",
        output_mode="append")
    want = {(r.doc_id, r.text) for r in run_curation(
        spark.read.parquet(d), cfg).collect()}
    got = {(r.doc_id, r.text) for r in drained.collect()}
    assert got == want and {i for i, _ in got} == {1, 3}


class TestEmbeddingDecontamination:
    """Embedding-space eval-set contamination gate
    (operators/decontaminate.embedding_contamination)."""

    def test_planted_contaminants_always_flagged(self, spark, embeddings):
        """No false negative on planted contaminants: exact copies of
        a benchmark vector collide in EVERY SRP band, so the candidate
        join cannot miss them."""
        from meta_frame_spark.operators.decontaminate import (
            embedding_contamination,
        )

        bench = embeddings.filter("vec_id % 37 = 0")  # eval slice
        n_bench = bench.count()
        assert n_bench > 5
        rep = embedding_contamination(embeddings, bench, threshold=0.98)
        flagged = {r.vec_id: r for r in rep.collect()}
        # every benchmark member is its own exact contaminant
        for r in bench.select("vec_id").collect():
            assert r.vec_id in flagged, r.vec_id
            assert flagged[r.vec_id].max_cosine >= 0.98

    def test_gate_removes_exactly_flagged(self, spark, embeddings):
        from meta_frame_spark.operators.decontaminate import (
            embedding_contamination,
            embedding_decontaminate,
        )

        bench = embeddings.filter("vec_id % 37 = 0")
        flagged = {r.vec_id for r in embedding_contamination(
            embeddings, bench, threshold=0.9).collect()}
        kept = embedding_decontaminate(embeddings, bench, threshold=0.9)
        kept_ids = {r.vec_id for r in kept.select("vec_id").collect()}
        assert kept.columns == embeddings.columns
        assert kept_ids.isdisjoint(flagged)
        assert kept_ids | flagged == {
            r.vec_id for r in embeddings.select("vec_id").collect()}

    def test_hit_counts_vs_brute_force(self, spark, embeddings):
        """Candidate recall check: the LSH report equals brute-force
        cosine counting at a high threshold on a bounded slice."""
        from meta_frame_spark.operators.decontaminate import (
            embedding_contamination,
        )

        corpus = embeddings.filter("vec_id < 300")
        bench = embeddings.filter("vec_id % 37 = 0 AND vec_id < 300")
        got = {
            (r.vec_id, r.n_bench_hits, r.max_cosine)
            for r in embedding_contamination(
                corpus, bench, threshold=0.9).collect()
        }
        import numpy as np

        C = {r.vec_id: np.array(r.embedding, dtype=float)
             for r in corpus.collect()}
        B = {r.vec_id: np.array(r.embedding, dtype=float)
             for r in bench.collect()}
        want = set()
        for cid, cv in C.items():
            hits = []
            for bv in B.values():
                cos = float(cv @ bv / (np.linalg.norm(cv) * np.linalg.norm(bv)))
                if cos >= 0.9:
                    hits.append(cos)
            if hits:
                want.add((cid, len(hits), round(max(hits), 4)))
        assert got == want


def test_curation_repetition_gate(spark):
    """repetition_gate as a registered (stream-safe) step: drops the
    loop-spam doc, passes the clean one, schema passthrough, rule
    subsets validate."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import (
        STREAM_SAFE_OPS,
        run_curation,
    )

    clean = ("the quick brown fox jumps over one lazy dog today\n"
             "rivers run east beneath tall granite peaks each spring\n"
             "markets opened higher while traders weighed fresh data\n"
             "seven curious owls watched quietly from the old barn\n"
             "gentle rain fell across wide fields before sudden dawn\n"
             "sailors charted new routes along rocky southern coasts")
    spam = "buy now limited offer\n" * 20
    df = spark.createDataFrame(
        [(1, clean), (2, spam)], ["doc_id", "text"]
    )
    out = run_curation(df, {"steps": [{"op": "repetition_gate"}]})
    assert out.columns == df.columns
    assert [r.doc_id for r in out.collect()] == [1]
    # single-rule subset: only the duplicate-line rule
    out2 = run_curation(df, {"steps": [
        {"op": "repetition_gate", "rules": ["r_dup_line_frac"]}]})
    assert [r.doc_id for r in out2.collect()] == [1]
    with pytest.raises(ConfigError, match="unknown rules"):
        run_curation(df, {"steps": [
            {"op": "repetition_gate", "rules": ["r_nope"]}]}).collect()
    assert "repetition_gate" in STREAM_SAFE_OPS


def test_every_stream_safe_op_runs_on_a_real_stream(spark, tmp_path):
    """STREAM_SAFE_OPS is a hand-maintained allowlist: prove every
    member actually compiles onto a streaming DataFrame and drains to
    the same rows as the batch compile — an op that needs state or a
    second pass would fail at writeStream start and must not be in
    the set."""
    from meta_frame_spark.plans.curation import (
        STREAM_SAFE_OPS,
        run_curation,
        run_curation_stream,
    )
    from meta_frame_spark.streaming.ops import run_to_memory

    good = ("the quick brown fox jumps over one lazy dog today. "
            "rivers run east beneath tall granite peaks each spring. "
            "markets opened higher while traders weighed fresh data. "
            "seven curious owls watched quietly from the old barn. "
            "gentle rain fell across wide fields before sudden dawn.")
    rows = [(1, good), (2, "short."), (3, "CafÃ© " + good)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "src")
    df.coalesce(1).write.parquet(d)

    minimal_kwargs = {
        "filter": {"predicate": "doc_id >= 0"},
        "lang_gate": {"langs": ["en", "und"]},
        "select": {"columns": ["doc_id", "text"]},
        "derive": {"columns": {"n": "length(text)"}},
        # the tiny stream frame has no url column; pointing the gate
        # at text still exercises compile + drain (no scheme -> zero
        # params/depth -> every row passes)
        "url_gate": {"url_col": "text"},
        # stream-static broadcast join: rules parse on the static
        # side; text has no scheme -> url_host NULL -> join misses ->
        # nothing blocked, but the compile + drain path is real
        "robots_gate": {
            "robots": spark.createDataFrame(
                [("h.example", "User-agent: *\nDisallow: /x\n")],
                "host string, robots_txt string",
            ),
            "url_col": "text",
        },
        # the sweep frame's content lives in 'text'; extract into a
        # fresh column (out_col collision fails loudly by design)
        "html_extract": {"html_col": "text", "out_col": "extracted"},
    }
    for i, op in enumerate(sorted(STREAM_SAFE_OPS)):
        cfg = {"steps": [{"op": op, **minimal_kwargs.get(op, {})}]}
        stream = spark.readStream.schema(df.schema).parquet(d)
        drained = run_to_memory(
            run_curation_stream(stream, cfg), f"mem_safe_{i}",
            output_mode="append")
        want = {tuple(r) for r in run_curation(
            spark.read.parquet(d), cfg).collect()}
        got = {tuple(r) for r in drained.collect()}
        assert got == want, op


def test_rule_gates_raise_on_report_column_clash(spark):
    """A frame already holding a report-named column (n_words,
    c4_pass, ...) must fail loudly at the gate step — the report
    builders would otherwise silently overwrite the user's column and
    leave the recomputed value behind."""
    import pytest

    from meta_frame_spark.config.model import ConfigError
    from meta_frame_spark.plans.curation import run_curation

    df = spark.createDataFrame(
        [(1, "some text here", 99)], ["doc_id", "text", "n_words"]
    )
    with pytest.raises(ConfigError, match="n_words.*collide"):
        run_curation(df, {"steps": [{"op": "gopher_gate"}]})
    df2 = spark.createDataFrame(
        [(1, "some text here", True)], ["doc_id", "text", "c4_pass"]
    )
    with pytest.raises(ConfigError, match="c4_pass.*collide"):
        run_curation(df2, {"steps": [{"op": "c4_gate"}]})
    df3 = spark.createDataFrame(
        [(1, "some text here", 0.5)], ["doc_id", "text", "dup_line_frac"]
    )
    with pytest.raises(ConfigError, match="dup_line_frac.*collide"):
        run_curation(df3, {"steps": [{"op": "repetition_gate"}]})


def test_blocklist_gate_step(spark):
    """blocklist_gate keeps rows under the weighted score, passes the
    schema through, validates kwargs, and is stream-safe."""
    from meta_frame_spark.plans.curation import (
        ConfigError,
        STREAM_SAFE_OPS,
        run_curation,
    )

    df = spark.createDataFrame(
        [(1, "clean words only"), (2, "casino casino jackpot")],
        "doc_id long, text string",
    )
    out = run_curation(df, {"steps": [
        {"op": "blocklist_gate", "max_score": 2.0}]})
    assert out.columns == df.columns
    assert [r.doc_id for r in out.collect()] == [1]
    # custom list through the config
    out2 = run_curation(df, {"steps": [
        {"op": "blocklist_gate", "blocklist": {"clean": 5.0},
         "max_score": 1.0}]})
    assert [r.doc_id for r in out2.collect()] == [2]
    assert "blocklist_gate" in STREAM_SAFE_OPS
    import pytest

    with pytest.raises(ConfigError, match="unknown kwargs"):
        run_curation(df, {"steps": [{"op": "blocklist_gate", "nope": 1}]})
    # report-column collision fails loudly (the _gate_report_cols rule)
    clash = df.withColumn("bl_score", F.lit(1.0))
    with pytest.raises(ConfigError, match="collide"):
        run_curation(clash, {"steps": [{"op": "blocklist_gate"}]})


def test_soft_dedup_step(spark):
    """soft_dedup attaches 1/cluster-size weights without dropping
    rows; output collisions raise; NOT stream-safe."""
    import pytest

    from meta_frame_spark.plans.curation import (
        ConfigError,
        STREAM_SAFE_OPS,
        run_curation,
    )

    df = spark.createDataFrame(
        [(1, "dup text"), (2, "dup  TEXT"), (3, "unique")],
        "doc_id long, text string",
    )
    out = run_curation(df, {"steps": [{"op": "soft_dedup"}]})
    assert out.count() == 3
    got = {r.doc_id: r for r in out.collect()}
    assert got[1].weight == pytest.approx(0.5)
    assert got[1].weight_dup_count == 2
    assert got[3].weight == 1.0
    assert "soft_dedup" not in STREAM_SAFE_OPS
    with pytest.raises(ConfigError, match="collide"):
        run_curation(out, {"steps": [{"op": "soft_dedup"}]})
    # the attach join is null-safe: a NULL doc_id keeps its weight row
    # instead of being silently dropped (ADVICE r11)
    df_null = spark.createDataFrame(
        [(None, "dup text"), (2, "dup  TEXT"), (3, "unique")],
        "doc_id long, text string",
    )
    out_null = run_curation(df_null, {"steps": [{"op": "soft_dedup"}]})
    assert out_null.count() == 3
    got = {r.doc_id: r for r in out_null.collect()}
    assert got[None].weight == pytest.approx(0.5)


def test_lm_gate_step(spark):
    """lm_gate drops the worst-perplexity tail (CCNet stage): the
    self-fit unigram LM scores the gibberish doc far above the bulk,
    the exact median cutoff keeps only the common-text docs; score_col
    retains the score; NULL text has no score and is dropped;
    validation raises; NOT stream-safe."""
    import pytest

    from meta_frame_spark.plans.curation import (
        ConfigError,
        STREAM_SAFE_OPS,
        run_curation,
    )

    common = "the cat sat on the mat and the dog sat too"
    rows = [(i, common) for i in range(4)] + [
        (9, "zq xv jk wq zz yy qq vv xx kk"),
        (10, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = run_curation(
        df,
        {"steps": [{"op": "lm_gate", "top_v": 20, "max_quantile": 0.5,
                    "score_col": "lm_score"}]},
    )
    got = {r.doc_id: r.lm_score for r in out.collect()}
    assert set(got) == {0, 1, 2, 3}  # gibberish + null-text dropped
    assert out.columns == ["doc_id", "text", "lm_score"]
    # bigram model: top_v=10 keeps only the cnt-4 common bigrams in
    # the table, so the gibberish doc's singleton bigrams hit the
    # 0.4 * unigram-floor backoff and score far above the bulk (with
    # a top_v covering ALL bigrams its unique pairs would score
    # p=1/1 — self-fit stupid backoff rewards singletons)
    out_bg = run_curation(
        df,
        {"steps": [{"op": "lm_gate", "model": "bigram", "top_v": 10,
                    "max_quantile": 0.5}]},
    )
    assert 9 not in {r.doc_id for r in out_bg.collect()}
    assert out_bg.columns == ["doc_id", "text"]  # schema pass-through
    assert "lm_gate" not in STREAM_SAFE_OPS
    with pytest.raises(ConfigError, match="model"):
        run_curation(df, {"steps": [{"op": "lm_gate", "model": "ngram"}]})
    with pytest.raises(ConfigError, match="max_quantile"):
        run_curation(df, {"steps": [{"op": "lm_gate", "max_quantile": 0.0}]})
    with pytest.raises(ConfigError, match="collide"):
        run_curation(df, {"steps": [{"op": "lm_gate", "score_col": "text"}]})
    with pytest.raises(ConfigError):
        run_curation(df, {"steps": [{"op": "lm_gate", "bogus_kw": 1}]})


def test_full_web_cleaning_chain_streams(spark, tmp_path):
    """The complete rule-tier cleaning recipe — url_gate, fix_encoding,
    c4_gate, gopher_gate, repetition_gate, blocklist_gate, lang_gate —
    declared as ONE stream-safe config, compiled onto a real file
    stream, drains to exactly the batch compile's rows. This is the
    production shape: the whole pre-model tier runs per micro-batch
    with zero state."""
    from meta_frame_spark.plans.curation import (
        run_curation,
        run_curation_stream,
        validate_stream_config,
    )
    from meta_frame_spark.streaming.ops import run_to_memory

    good = ("The quick brown fox jumps over one lazy dog today. "
            "Rivers run east beneath tall granite peaks each spring. "
            "Markets opened higher while traders weighed fresh data. "
            "Seven curious owls watched quietly from the old barn. "
            "Gentle rain fell across wide fields before sudden dawn. "
            "Quiet readers finished their long novels before midnight. "
            "Bright kites drifted over the warm and sandy shore today. "
            "Local bakers cooled fresh bread on wide wooden racks.") * 2
    rows = [
        (1, "https://ok.example.com/a/b?x=1", good),
        (2, "https://trap.example.com/p?phpsessid=z", good),  # url kill
        (3, "https://ok.example.com/c", "CafÃ© " + good),      # repaired
        (4, "https://ok.example.com/d", good + " casino casino casino"),
        (5, "https://ok.example.com/e", "short."),             # rule kill
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    d = str(tmp_path / "src")
    df.coalesce(1).write.parquet(d)

    cfg = {"steps": [
        {"op": "url_gate"},
        {"op": "fix_encoding"},
        {"op": "c4_gate", "apply_line_filter": False},
        {"op": "gopher_gate"},
        {"op": "repetition_gate",
         "rules": ["r_dup_line_frac", "r_dup_para_frac"]},
        {"op": "blocklist_gate", "max_score": 2.5},
        {"op": "lang_gate", "langs": ["en"]},
    ]}
    validate_stream_config(cfg)

    batch = run_curation(spark.read.parquet(d), cfg)
    kept = sorted(r.doc_id for r in batch.collect())
    # the chain kills the session-id URL, the blocklisted doc, and the
    # too-short doc; repairs + keeps the mojibake doc
    assert kept == [1, 3]

    stream = spark.readStream.schema(df.schema).parquet(d)
    drained = run_to_memory(
        run_curation_stream(stream, cfg), "mem_full_chain",
        output_mode="append")
    got = sorted(r.doc_id for r in drained.collect())
    assert got == kept


def test_html_extract_step_chains_into_c4(spark):
    """The first-mile web chain: raw HTML -> boilerplate removal ->
    c4_gate, declared as one config pipeline. The nav/footer never
    reach the gate; the extracted body does."""
    from meta_frame_spark.plans.curation import run_curation

    html = (
        '<div><a href="/">Home</a> <a href="/a">About</a> '
        '<a href="/b">Contact</a></div>'
        "<p>This is a full sentence of body prose that survives the "
        "extraction and ends with a period. Here is another complete "
        "sentence with plenty of words in it. The third sentence also "
        "carries enough words to pass. A fourth sentence keeps the "
        "paragraph going strong today. Finally the fifth sentence "
        "closes out the sample paragraph nicely.</p>"
        '<div><a href="#">Footer legal notice terms</a></div>'
    )
    df = spark.createDataFrame(
        [(1, html), (2, '<div><a href="/">Only nav</a></div>')],
        "doc_id long, html string",
    )
    out = run_curation(
        df,
        {"steps": [
            {"op": "html_extract", "out_col": "text"},
            {"op": "c4_gate"},
        ]},
    )
    rows = out.collect()
    assert [r.doc_id for r in rows] == [1]
    assert rows[0].text.startswith("This is a full sentence")

    import pytest

    from meta_frame_spark.config.model import ConfigError

    with pytest.raises(ConfigError, match="html_extract"):
        run_curation(
            df, {"steps": [{"op": "html_extract", "html_col": "nope"}]}
        )
