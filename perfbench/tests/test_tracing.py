import os

import pytest

import tracing
from tracing import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_union_length_merges_overlaps_and_ignores_empty():
    assert tracing.union_length([]) == 0
    assert tracing.union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert tracing.union_length([(0, 10), (2, 3)]) == 10


def test_self_time_nested_spans():
    spans = [
        Span(0, "root", "pipeline", 0.0, 10.0),
        Span(1, "plan", "plans", 1.0, 5.0, parent=0),
        Span(2, "op", "operators.pq", 2.0, 3.0, parent=1),
    ]
    st = tracing.self_times(spans)
    assert st == {0: pytest.approx(6.0), 1: pytest.approx(3.0), 2: pytest.approx(1.0)}


def test_self_time_overlapping_children_counted_once_and_clipped():
    spans = [
        Span(0, "root", "pipeline", 0.0, 10.0),
        # two children overlap on [3, 4]; the second runs past the parent
        Span(1, "a", "plans", 2.0, 4.0, parent=0),
        Span(2, "b", "plans", 3.0, 12.0, parent=0),
    ]
    st = tracing.self_times(spans)
    # children cover [2, 10] once -> 8 s; root keeps 2 s
    assert st[0] == pytest.approx(2.0)


def test_tracer_records_parents_and_tags_jobs():
    props = []
    t = tracing.Tracer(set_prop=lambda k, v: props.append(v))
    f = t.wrap(lambda x: x + 1, "m.f", "plans")
    t.enabled = True
    with t.span("q", "pipeline"):
        assert f(1) == 2
    t.enabled = False
    assert f(2) == 3  # disabled: pass-through, no span
    assert [(s.name, s.parent) for s in t.spans] == [("q", None), ("m.f", 0)]
    assert props == ["0", "1", "0", None]


def _fixture_spans():
    return [
        Span(0, "q", "pipeline", 1000.0, 1004.0),
        Span(1, "meta_frame_spark.plans.builder.run_pipeline", "plans", 1000.2, 1001.2, parent=0),
        Span(2, "meta_frame_spark.operators.pq.fit", "operators.pq", 1000.7, 1001.6, parent=1),
        Span(3, "meta_frame_spark.sources.sinks.save_data", "sinks", 1001.9, 1003.1, parent=0),
    ]


def test_event_log_parser_attributes_jobs_to_innermost_span():
    log = tracing.parse_event_log([FIXTURE])
    assert {j.id: j.span for j in log.jobs.values()} == {0: 1, 1: 2, 2: 3, 3: None}
    assert log.stage_job == {0: 0, 1: 1, 2: 1, 3: 2, 4: 3}
    assert log.udf_row_accums == {9}


def test_layer_metrics_from_fixture():
    log = tracing.parse_event_log([FIXTURE])
    m = tracing.layer_metrics(_fixture_spans(), log, roots=[0])
    # job 3 carries no span and lies outside the pipeline: not counted
    assert m["spark.jobs"] == 3
    assert m["plans.build_jobs"] == 2  # jobs 0 and 1 run under run_pipeline
    assert m["operators.pq.jobs"] == 1
    assert m["operators.pq.calls"] == 1
    # job intervals [0.5,1.0], [0.8,1.5], [2.0,3.0] -> union 2.0 s of 4 s wall
    assert m["spark.job_active_s"] == pytest.approx(2.0)
    assert m["spark.driver_gap_s"] == pytest.approx(4.0 - 2.0)
    assert m["spark.stages"] == 4
    assert m["spark.tasks"] == 5
    assert m["spark.exec_run_s"] == pytest.approx(1.8)
    assert m["spark.exec_cpu_s"] == pytest.approx(1.35)
    assert m["spark.shuffle_write_mb"] == pytest.approx(2.0)
    assert m["spark.shuffle_read_mb"] == pytest.approx(1.0)
    assert m["sources.input_rows"] == 1000
    assert m["sources.input_mb"] == pytest.approx(1.0)
    assert m["sinks.output_rows"] == 7
    assert m["sinks.output_mb"] == pytest.approx(3.0)
    assert m["sinks.write_s"] == pytest.approx(1.2)
    assert m["functions.udf_rows"] == 40  # only the Python node's accumulator
    assert m["functions.udf_run_s"] == pytest.approx(0.25)
    assert m["functions.udf_boot_s"] == pytest.approx(0.05)
    assert m["functions.udf_sent_mb"] == pytest.approx(0.5)
    # stage 2 tasks ran 300 ms and 100 ms: max / median = 300 / 200
    assert m["spark.task_skew"] == pytest.approx(1.5)
    # two progress events fall inside the pipeline, one is empty
    assert m["streaming.batches"] == 2
    assert m["streaming.empty_batches"] == 1
    assert m["streaming.trigger_s"] == pytest.approx(1.0)
    assert m["streaming.commit_s"] == pytest.approx(0.1)
    assert m["streaming.state_commit_s"] == pytest.approx(0.03)
    assert m["streaming.state_rows"] == 12


def test_layer_of_module_names():
    assert tracing.layer_of("meta_frame_spark.config.model", "validate_tree_config") == "config"
    assert tracing.layer_of("meta_frame_spark.plans.curation", "validate_curation_config") == "config"
    assert tracing.layer_of("meta_frame_spark.plans.curation", "run_curation") == "plans"
    assert tracing.layer_of("meta_frame_spark.sources.sinks", "save_data") == "sinks"
    assert tracing.layer_of("meta_frame_spark.sources.events", "load_events") == "sources"
    assert tracing.layer_of("meta_frame_spark.operators.pq", "ivfpq_topk") == "operators.pq"
    assert tracing.layer_of("meta_frame_spark.functions.text", "tokens") is None
    assert tracing.layer_of("meta_frame_spark.session", "get_session") is None
