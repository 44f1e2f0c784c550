"""CLI entrypoint (python -m meta_frame_spark)."""

import json
import os

import pytest

from meta_frame_spark.__main__ import main
from meta_frame_spark.config.model import (
    validate_nested_config,
    validate_pipeline_config,
    validate_tree_config,
)

#: this checkout's root (the examples/ and tools/ scripts live under it)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_init_example_writes_valid_configs(tmp_path):
    assert main(["init-example", str(tmp_path)]) == 0
    pipeline = json.loads((tmp_path / "example_pipeline.json").read_text())
    tree = json.loads((tmp_path / "example_tree.json").read_text())
    nested = json.loads((tmp_path / "example_nested.json").read_text())
    # every emitted example must validate against its dialect
    validate_pipeline_config(pipeline)
    validate_tree_config(tree)
    validate_nested_config(nested)


def test_run_dialect_a_end_to_end(spark, sf_dir, tmp_path):
    cfg = tmp_path / "cfg"
    assert main(["init-example", str(cfg)]) == 0
    out = tmp_path / "out"
    assert main([
        "run",
        "--config", str(cfg / "example_pipeline.json"),
        "--input", f"{sf_dir}/lineitem.parquet",
        "--output", str(out),
        "--dialect", "a",
    ]) == 0
    result = spark.read.parquet(str(out / "by_flag_status"))
    assert result.count() > 0
    assert set(result.columns) == {"l_returnflag", "max_revenue"}


def test_column_object_filters(spark, lineitem):
    """P5: live Column predicates accepted alongside string filters
    (declared in the reference at sparks/optimus.py:56-59)."""
    from pyspark.sql import functions as F

    from meta_frame_spark.plans.builder import apply_string_filters

    out = apply_string_filters(
        lineitem, [F.col("l_quantity") > 10, "l_linestatus = 'O'"]
    )
    assert out.filter("l_quantity <= 10 OR l_linestatus != 'O'").count() == 0


def test_example_curation_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """examples/curate_corpus.py is the 'switch from the reference'
    story: the full quality->dedup->decontaminate->split->pack->export
    flow must run end to end and only ever shrink the corpus."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from curate_corpus import curate

    counts = curate(spark, sf_dir, str(tmp_path / "out"))
    assert counts["raw"] >= counts["quality_lang"] >= counts["exact_dedup"]
    assert counts["exact_dedup"] >= counts["near_dedup"] >= counts["decontaminated"]
    assert counts["decontaminated"] >= counts["lm_tail"]
    assert counts["lm_tail"] >= counts["after_span_cut"]
    # the 0.95-quantile gate keeps the bulk, never everything-minus-all
    assert counts["lm_tail"] >= 0.9 * counts["decontaminated"]
    total_out = counts["out_train"] + counts["out_val"] + counts["out_test"]
    assert total_out == counts["after_span_cut"]
    assert counts["out_train"] > 0


def test_driver_window_composition():
    """The driver verifies only the FIRST 50 queries() entries, and
    queries() orders the full registry by the correctness records next
    to __spark_entry__.py: never-green rows first, then by latest green
    round (oldest first), then by name. The staleness report's next
    window is that same head."""
    import sys as _sys

    import __spark_entry__ as e

    _sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_correctness import staleness_report

    order = list(e.queries())
    assert sorted(order) == sorted(e._all_queries())
    _, latest = e._latest_green()
    for prev, nxt in zip(order, order[1:]):
        if prev in latest and nxt in latest:
            assert (latest[prev], prev) < (latest[nxt], nxt), (prev, nxt)
        else:
            # a never-green row never follows a green one
            assert prev not in latest, (prev, nxt)
            assert nxt in latest or prev < nxt, (prev, nxt)
    assert staleness_report()["window"] == order[:e.WINDOW_SLOTS]
    # every registered query still has an oracle twin
    assert set(order) == set(e.oracle_sql())


def _write_round(directory, rnd, names, **row):
    """Fabricate a driver record marking ``names`` green in round ``rnd``
    (``row`` overrides fields of the green row)."""
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    green.update(row)
    (directory / f"CORRECTNESS_r{rnd:02d}.json").write_text(
        json.dumps({n: green for n in names}))


def _copy_records(dst):
    import glob
    import shutil

    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        shutil.copy(f, dst)


def test_driver_window_advances_with_new_records(tmp_path):
    """A new round's record moves the window to the next-stalest rows
    with no code edit; a row without positive hash evidence is not
    refreshed; without records the order is name order, and a query
    with no green row leads."""
    import __spark_entry__ as e

    names = list(e._all_queries())
    n = e.WINDOW_SLOTS

    def order(d):
        return e._driver_order(names, e._latest_green(str(d))[1])

    _copy_records(tmp_path)
    before = order(tmp_path)
    assert before == list(e.queries())
    newest = e._latest_green(str(tmp_path))[0]

    _write_round(tmp_path, newest + 1, before[:n])
    after = order(tmp_path)
    assert after[:n] == before[n:2 * n]
    assert after[-n:] == sorted(before[:n])

    # rows_match/schema_match without hash_match: True refresh nothing
    _write_round(tmp_path, newest + 2, after[:n], hash_match=None)
    _write_round(tmp_path, newest + 3, after[:n // 2], hash_match=False)
    assert order(tmp_path) == after
    assert e._latest_green(str(tmp_path))[0] == newest + 3

    empty = tmp_path / "empty"
    empty.mkdir()
    assert e._latest_green(str(empty)) == (0, {})
    assert order(empty) == sorted(names)
    assert e._driver_order(["zz_new", *names], e._latest_green(str(tmp_path))[1])[0] == "zz_new"


def test_driver_rotation_keeps_every_row_fresh(tmp_path):
    """Five simulated rounds, each greening the current
    window: no registered query ever falls more than MAX_STALE_ROUNDS
    behind and the rotation stays within capacity."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_correctness import staleness_report

    _copy_records(tmp_path)
    for _ in range(5):
        rep = staleness_report(str(tmp_path))
        assert rep["too_stale"] == [] and rep["over_capacity"] == [], rep["due"]
        _write_round(tmp_path, rep["newest_round"] + 1, rep["window"])
    rep = staleness_report(str(tmp_path))
    assert rep["too_stale"] == [] and rep["over_capacity"] == [], rep["due"]


def test_example_web_pipeline_runs(spark, sf_dir, tmp_path):
    """examples/web_pipeline.py: the crawl first mile (HTML -> WET
    shards -> distributed ingest -> boilerplate extraction -> gates ->
    lossless byte-BPE accounting) must run end to end with conserved
    row/byte accounting."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from web_pipeline import run_web_pipeline

    counts = run_web_pipeline(spark, sf_dir, str(tmp_path / "wet"))
    # robots gate blocks exactly the /forbidden/ tree (doc_id % 17)
    assert 0 < counts["robots_allowed"] < counts["input_docs"]
    assert counts["wet_records"] == counts["robots_allowed"]
    assert 0 < counts["after_extract_and_gates"] <= counts["input_docs"]
    assert counts["tokenized_docs"] == counts["after_extract_and_gates"]
    # byte-BPE merged something: fewer tokens than bytes
    assert 0 < counts["total_tokens"] < counts["total_bytes"]
    # the JSONL export conserves the curated rows exactly
    assert counts["exported_jsonl"] == counts["after_extract_and_gates"]


def test_driver_evidence_freshness_gate():
    """The staleness invariant over the same CORRECTNESS_r*.json files
    the driver writes: no registered query's latest green row is more
    than MAX_STALE_ROUNDS behind the newest round, and for every k the
    rows due within the next k rounds (never-checked rows plus rows at
    staleness >= MAX_STALE_ROUNDS - k + 1) fit k driver windows."""
    import pytest as _pt

    if not os.path.exists(os.path.join(REPO, "CORRECTNESS_r01.json")):
        _pt.skip("driver correctness records not present")
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "tools"))
    from check_correctness import staleness_report

    rep = staleness_report()
    assert rep["too_stale"] == [], rep["too_stale"]
    assert rep["over_capacity"] == [], rep["due"]


def test_check_correctness_imports_its_own_checkout(tmp_path):
    """tools/check_correctness.py must put the checkout it lives in on
    sys.path, not a fixed directory: the benchmark imports it before
    the program, so a hard-coded root would make a run from any other
    checkout time (and hash) that root's code instead of its own."""
    import shutil
    import subprocess
    import sys as _sys

    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(REPO, "tools", "check_correctness.py"), tmp_path / "tools")
    (tmp_path / "__spark_entry__.py").write_text("")
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    out = subprocess.run(
        [_sys.executable, "-c",
         "import sys; sys.path.insert(0, sys.argv[1]); "
         "import check_correctness, __spark_entry__; "
         "print(check_correctness.ROOT); print(__spark_entry__.__file__)",
         str(tmp_path / "tools")],
        cwd=elsewhere, capture_output=True, text=True, check=True,
    ).stdout.split()
    assert out == [str(tmp_path), str(tmp_path / "__spark_entry__.py")]


def test_example_monitor_events_runs(spark, sf_dir):
    """examples/monitor_events.py: the monitoring composition (spine ->
    EWMA -> robust anomaly -> drift -> hot keys) must run end to end
    with consistent frames."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from monitor_events import monitor

    report = monitor(spark, sf_dir)
    dense = report["dense_counts"].count()
    assert dense > 0
    # the spine never removes buckets, EWMA adds a column per bucket
    assert report["smoothed"].count() == dense
    # one drift row per event type, slope defined on a multi-bucket series
    drift = report["drift"].collect()
    assert len(drift) == report["dense_counts"].select("event_type").distinct().count()
    assert all(r.slope is not None for r in drift)
    assert report["hot_keys"].count() == 10
    # anomalies (possibly none) all reference real types
    types = {r.event_type for r in drift}
    assert all(r.event_type in types for r in report["anomalies"].collect())


def test_registry_integrity():
    """Every queries() entry has an oracle twin, names are unique and
    shell-safe, and every callable takes (spark, sf_dir) — the exact
    contract the driver's correctness gate assumes."""
    import inspect
    import re

    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert len(qs) == len(oracles)
    assert set(qs) == set(oracles)
    for name, fn in qs.items():
        assert re.fullmatch(r"[a-z0-9_]+", name), name
        assert callable(fn), name
        assert len(inspect.signature(fn).parameters) == 2, name
    # oracles are non-empty SELECT/WITH statements (leading `--`
    # comment lines are legal SQL and skipped before the head check)
    for name, sql in oracles.items():
        lines = [
            ln for ln in sql.strip().splitlines()
            if ln.strip() and not ln.strip().startswith("--")
        ]
        assert lines, name
        head = lines[0].strip().split(None, 1)[0].upper()
        assert head in ("SELECT", "WITH"), name


def test_example_targeted_selection_end_to_end(spark, sf_dir):
    """examples/select_for_target.py: the DSIR->RRF->gate->NB-audit->
    drift->collocations selection flow must run end to end, keep a
    strict subset via the two median gates, and actually steer toward
    the target label (the kept slice's NB-predicted majority is the
    English target)."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from select_for_target import select_for_target

    stats = select_for_target(spark, sf_dir)
    assert 0 < stats["n_kept"] < stats["n_pool"]
    assert stats["top_pred_label"] == "en"
    assert stats["top_pred_n"] > stats["n_kept"] / 2  # majority target
    d = stats["drift"]
    assert d["n_a"] + d["n_b"] > 0 and d["l2_shift"] >= 0.0
    assert stats["n_collocations"] <= 10
    # the token-budget stage keeps a non-empty prefix of the kept
    # slice and never crosses its 20k-char budget
    assert 0 < stats["n_budget"] <= stats["n_kept"]
    assert 0.0 < stats["budget_chars"] <= 20_000.0


def test_bench_record_guard(tmp_path):
    """tools/check_bench_record.py: clean record passes, contended
    record fails, missing record passes (nothing to mis-commit)."""
    import json

    from tools.check_bench_record import committed_cpus, record_is_clean

    cpus = committed_cpus()
    assert isinstance(cpus, int)
    clean = tmp_path / "clean.json"
    clean.write_text(json.dumps({
        "value": 1.0, "cpus": cpus, "queries": {"q": 1.0},
        "probe": {"record_contended": False, "contended": []},
    }))
    ok, _ = record_is_clean(str(clean))
    assert ok
    bad = tmp_path / "bad.json"
    bad.write_text(json.dumps({
        "value": 2.0, "cpus": cpus, "queries": {"q": 2.0},
        "probe": {"record_contended": True, "contended": ["q"]},
    }))
    ok, msg = record_is_clean(str(bad))
    assert not ok and "git restore" in msg
    ok, _ = record_is_clean(str(tmp_path / "missing.json"))
    assert ok


@pytest.mark.parametrize("cpus", [4, None])
def test_bench_record_guard_rejects_another_core_count(tmp_path, cpus):
    """A clean record of another (or no) core count than the committed
    32-core one must not be committed over it."""
    import json

    from tools.check_bench_record import record_is_clean

    rec = {
        "value": 1.0, "queries": {"q": 1.0},
        "probe": {"record_contended": False, "contended": []},
    }
    if cpus is not None:
        rec["cpus"] = cpus
    path = tmp_path / "BENCH_FULL.json"
    path.write_text(json.dumps(rec))
    ok, msg = record_is_clean(str(path), cpus=32)
    assert not ok
    assert f"cpus={cpus}" in msg and "cpus=32" in msg and "git restore" in msg
    rec["cpus"] = 32
    path.write_text(json.dumps(rec))
    assert record_is_clean(str(path), cpus=32)[0]


@pytest.fixture
def bench(monkeypatch):
    """bench.py's measurement core, imported without leaking the BLAS
    thread caps it sets at import into this process's environment."""
    monkeypatch.setattr(os, "environ", os.environ.copy())
    import bench

    return bench


def test_bench_dirty_windows_under_derived_clean_value(bench):
    """A flat 4-core probe list is clean against its own minimum (a
    frozen 0.2 s made all of it dirty); one window at 2x the minimum
    flags exactly the queries it brackets."""
    flat = [[0, 0.41], [8, 0.58], [16, 0.47], [24, 0.52], [30, 0.44]]
    clean = bench.clean_sec([sec for _, sec in flat])
    assert clean == 0.41
    assert bench.dirty_windows(flat, clean) == []
    spiked = [[0, 0.41], [8, 0.45], [16, 0.82], [24, 0.43]]
    assert bench.dirty_windows(spiked, bench.clean_sec(
        [sec for _, sec in spiked])) == list(range(8, 24))
    # a same-core incumbent's clean value flags a run slow end to end
    assert bench.dirty_windows(flat, bench.clean_sec([0.41], 0.2)) == list(range(30))


def _record(sf=0.1, contended=False, cpus=4, **extra):
    rec = {"sf": sf, "queries": {"q": 1.0},
           "probe": {"record_contended": contended, "clean_sec": 0.3}}
    if cpus is not None:
        rec["cpus"] = cpus
    return {**rec, **extra}


@pytest.mark.parametrize("payload,incumbent,promote", [
    (_record(), _record(), True),
    (_record(), None, True),
    (_record(sf=0.01), _record(), False),
    (_record(sf=0.01), None, False),
    (_record(contended=True), _record(), False),
    (_record(contended=True), None, False),
    (_record(cpus=4), _record(cpus=32), False),
    (_record(cpus=4), _record(cpus=None), False),
], ids=[
    "same-cpus", "no-incumbent", "sf0.01", "sf0.01-no-incumbent",
    "contended", "contended-no-incumbent", "cpus-mismatch",
    "incumbent-without-cpus",
])
def test_bench_promotion_gate(bench, payload, incumbent, promote):
    assert bench.may_promote(payload, incumbent) is promote


def test_bench_reference_and_clean_chain_need_same_cpus(bench):
    same = _record(cpus=4)
    assert bench.reference(same, 0.1, 4) == ({"q": 1.0}, 0.3)
    # another sf or a contended record lends its clean value only
    assert bench.reference(same, 0.01, 4) == ({}, 0.3)
    assert bench.reference(_record(contended=True), 0.1, 4) == ({}, 0.3)
    for other in (_record(cpus=32), _record(cpus=None), None):
        ref, lent = bench.reference(other, 0.1, 4)
        assert ref == {} and lent is None
        assert bench.clean_sec([0.45, 0.5], lent) == 0.45


def test_bench_committed_record_serves_its_own_cpus_only(bench):
    """The committed BENCH_FULL.json is a 32-core record: a 32-core run
    takes its per-query references and its 0.2 s clean value (so a run
    throttled end to end still reads dirty), a 4-core run takes
    neither and never replaces it."""
    committed = bench.load_record(os.path.join(REPO, "BENCH_FULL.json"))
    assert committed["cpus"] == 32
    ref, lent = bench.reference(committed, 0.1, 32)
    assert ref == committed["queries"] and lent == 0.2
    throttled = [[0, 0.35], [8, 0.6], [16, 0.3]]
    assert bench.dirty_windows(throttled, bench.clean_sec(
        [sec for _, sec in throttled], lent)) == list(range(16))
    assert bench.reference(committed, 0.1, 4) == ({}, None)
    assert not bench.may_promote(_record(cpus=4), committed)
    assert bench.may_promote(_record(cpus=32), committed)


def test_bench_sliced_contended_lists_recorded_queries_only(bench):
    """An --only run without --merge judges just the queries it
    measured (listing every registered query made any partial run
    contended); with --merge the prior record's queries count too."""
    from tools.bench_sliced import contended_queries

    assert contended_queries({"a": 0.5, "b": 1.0}, {"a", "b"}) == []
    assert contended_queries({"a": 0.5, "b": 1.0}, {"a"}) == ["b"]
    merged = {"a": 0.5, "old_clean": 2.0, "old_dirty": 3.0}
    assert contended_queries(merged, {"a", "old_clean"}) == ["old_dirty"]


@pytest.mark.parametrize("tool", ["bench_sliced.py", "bench_ab.py"])
def test_bench_tools_import_the_core(tool):
    """Both bench tools import bench.py's measurement core at start-up;
    ``--help`` fails here, not in the next bench run, if it breaks."""
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", tool), "--help"],
        cwd=REPO, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stderr


def test_example_corpus_health_runs(spark, sf_dir):
    """examples/corpus_health.py: the one-scan quality audit must
    produce a consistent per-source funnel (pass_all <= each tier <=
    n_docs, totals match the corpus) and a language histogram that
    accounts for every doc."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from corpus_health import corpus_health

    report = corpus_health(spark, sf_dir)
    funnel = report["funnel"].collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL").count()
    assert sum(r.n_docs for r in funnel) == n_docs
    for r in funnel:
        for tier in (r.pass_c4, r.pass_gopher, r.pass_repetition,
                     r.pass_blocklist):
            assert 0 <= r.pass_all <= tier <= r.n_docs, r
    kills = report["rule_kills"].first().asDict()
    assert all(0 <= v <= n_docs for v in kills.values())
    langs = report["languages"].collect()
    assert sum(r.n_docs for r in langs) == n_docs


def test_example_plan_mixture_runs(spark, sf_dir):
    """examples/plan_mixture.py: the three mixing policies must agree
    on structural contracts — UniMax exhausts min(budget, epochs*corpus)
    under its caps, temperature shares sum to 1, DoReMi weights sum to
    1, and the materialized mix respects the per-language keep
    fractions (<= allocation-implied counts, deterministic)."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from plan_mixture import plan_mixture

    out = plan_mixture(spark, sf_dir, budget=30_000.0, max_epochs=1.5)
    uni = out["unimax"].collect()
    corpus = sum(r.n_units for r in uni)
    assert sum(r.alloc for r in uni) == pytest.approx(
        min(30_000.0, 1.5 * corpus))
    assert all(r.epochs <= 1.5 + 1e-9 for r in uni)
    assert sum(r.target_share for r in
               out["temperature"].collect()) == pytest.approx(1.0)
    assert sum(r.weight for r in out["doremi"].collect()) == pytest.approx(1.0)
    soft = out["soft_weights"]
    assert soft.filter("weight <= 0 OR weight > 1").count() == 0
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        "text IS NOT NULL").count()
    assert 0 < out["mixed"].count() <= n_docs
    # determinism: a second materialization picks the same rows
    again = plan_mixture(spark, sf_dir, budget=30_000.0, max_epochs=1.5)
    a = {r.doc_id for r in out["mixed"].select("doc_id").collect()}
    b = {r.doc_id for r in again["mixed"].select("doc_id").collect()}
    assert a == b


def test_example_eval_report_runs(spark, sf_dir):
    """examples/eval_report.py: the eval + release scorecard must run
    end to end and honor the invariants its staging guarantees."""
    import sys as _sys

    _sys.path.insert(0, os.path.join(REPO, "examples"))
    from eval_report import run_eval_report

    r = run_eval_report(spark, sf_dir)
    # deletion staging: candidate is a subset of the reference, so
    # ROUGE-1 F sits strictly between 0 and 1 and BLEU is bounded by
    # the brevity-penalized geometric mean
    assert 0.0 < r["avg_rouge1_f"] < 1.0
    assert 0.0 <= r["avg_bleu"] < 1.0
    assert 0.0 < r["avg_chrf"] <= 1.0
    # the staged classifier ranks by the true probability: AUC and AP
    # must beat chance decisively; the score IS the probability, so
    # ECE stays small (binomial noise only)
    assert r["auc"] > 0.7 and r["average_precision"] > 0.7
    assert r["ece"] < 0.1
    assert 0.0 <= r["source_gini"] < 1.0
    assert 0.0 < r["top_source_share"] <= 1.0
    assert r["kanon_suppressed_frac"] < 1.0
    assert 0.0 <= r["ldiv_groups_ok_frac"] <= 1.0
    assert 0.0 <= r["tclose_groups_ok_frac"] <= 1.0


def test_embeddings_reader_spread_gate(spark, sf_dir, tmp_path, monkeypatch):
    """The embeddings reader spreads a single-row-group file ONLY when
    the per-core row share clears _VEC_ROWS_PER_CORE (r15: at bench
    scale the exchange costs more than the BLAS stage it parallelizes,
    so the fixture-sized table must keep an exchange-free plan)."""
    import __spark_entry__ as e

    # (a) the real fixture (2k rows, 1 row group): gate must be a no-op
    df = e._t(spark, sf_dir, "embeddings")
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()

    # (b) same file, threshold monkeypatched under the fixture's
    # per-core share: the spread must engage with a hash repartition
    monkeypatch.setattr(e, "_VEC_ROWS_PER_CORE", 1)
    e._FOOTER_CACHE.clear()
    df2 = e._t(spark, sf_dir, "embeddings")
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(vec_id" in plan
    assert (
        df2.count()
        == spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    )
