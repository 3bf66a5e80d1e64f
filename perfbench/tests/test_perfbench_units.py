"""Unit tests of the benchmark's own arithmetic (no Spark session)."""

from __future__ import annotations

import pytest

from perfbench import adversarial, eventlog, layers
from perfbench.trace import Span, Tracer, patched, self_times
from perfbench.workloads import compare_rows, corpus_rows


def _job(job_id, start, end, group, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": start, "Stage IDs": stages,
         "Properties": {"spark.jobGroup.id": group}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": end},
    ]


def _stage(stage_id):
    return {"Event": "SparkListenerStageSubmitted",
            "Stage Info": {"Stage ID": stage_id}}


def _task(stage_id, run_ms, py_run_ms=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
            "Task Info": {"Accumulables": [
                {"Name": eventlog.PY_RUN, "Update": str(py_run_ms)}]},
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024},
                             "Shuffle Read Metrics": {"Local Bytes Read": 512,
                                                      "Remote Bytes Read": 0},
                             "Disk Bytes Spilled": 0}}


def test_overlapping_jobs_are_merged_not_summed():
    # jobs 0 and 1 overlap on [5 s, 10 s]; job 2 is disjoint; job 3 belongs
    # to another group and must be ignored
    events = (_job(0, 0, 10_000, "g", [0]) + _job(1, 5_000, 15_000, "g", [1])
              + _job(2, 20_000, 25_000, "g", [2, 9])
              + _job(3, 0, 30_000, "other", [3])
              + [_stage(0), _stage(1), _stage(2), _stage(3),
                 _task(0, 4_000), _task(1, 6_000, py_run_ms=5_000),
                 _task(1, 2_000, py_run_ms=1_000), _task(1, 1_000, py_run_ms=500),
                 _task(2, 3_000), _task(3, 99_000)])
    m = eventlog.group_metrics(events, "g", wall_s=30.0, cores=4)
    assert m["job.busy_s"] == pytest.approx(20.0)  # summing would give 25
    assert m["job.driver_gap_s"] == pytest.approx(10.0)
    assert m["job.count"] == 3
    assert m["job.stage_count"] == 3  # stage 9 was never submitted
    assert m["job.task_count"] == 5
    assert m["job.cpu_util"] == pytest.approx(16.0 / (30.0 * 4))
    # the Python-heaviest stage is stage 1: max 6 s over median 2 s
    assert m["job.extract_task_skew"] == pytest.approx(3.0)
    assert m["udf.py_run_s"] == pytest.approx(6.5)
    assert m["job.shuffle_write_mb"] == pytest.approx(5 / 1024)


def test_merge_intervals():
    assert eventlog.merge_intervals([(5, 7), (0, 2), (1, 3), (3, 4)]) == [
        (0, 4), (5, 7)]
    assert eventlog.covered([]) == 0


def test_self_time_subtracts_union_of_children():
    spans = [
        Span("root", 0.0, 10.0, None),
        Span("a", 1.0, 4.0, 0),
        Span("b", 3.0, 6.0, 0),       # overlaps a: union is [1, 6]
        Span("c", 9.0, 12.0, 0),      # sticks out of the root: clipped
        Span("a.1", 1.5, 2.0, 1),
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 0.5, 3, 3, 0.5])


def test_patched_rebinds_every_importer_and_restores():
    import cl_readability_spark.core.dom as dom
    import cl_readability_spark.core.extract  # noqa: F401 — binds parse_html
    import sys

    extract_mod = sys.modules["cl_readability_spark.core.extract"]
    original = dom.parse_html
    tracer = Tracer()
    with patched({(dom, "parse_html"): tracer.count("parse", original)}):
        assert extract_mod.parse_html is not original
        extract_mod.parse_html("<p>x</p>")
    assert tracer.counts["parse"] == 1
    assert extract_mod.parse_html is original and dom.parse_html is original


def test_phase_self_times_sum_to_traced_extract_total():
    import random

    rng = random.Random(0)
    turns = [(r[0], r[1], r[3]) for r in corpus_rows(3, 40)]
    turns += [("conv-x", 0, adversarial.make_shape("unclosed_inline", 2000, rng)),
              ("conv-x", 1, adversarial.make_shape("br_run_s", 200, rng))]
    tracer = Tracer()
    m = layers.traced_core_pass(turns, tracer)
    phases = ("dom.parse_s", "extract.prepass_s", "extract.metadata_s",
              "extract.grab_article_s", "extract.post_process_s",
              "extract.self_s")
    assert sum(m[p] for p in phases) == pytest.approx(
        m["extract.traced_total_s"], rel=1e-9)
    assert all(m[p] > 0 for p in phases)
    assert m["dom.parse_calls_per_turn"] >= 1
    assert sum(s.name == "extract" for s in tracer.spans) == len(turns)
    assert {s.key for s in tracer.spans} == {(c, t) for c, t, _ in turns}


def test_row_metrics_by_shape():
    ref = {("c", 0): ("a", [(0, 1)], "ok"),
           ("c", 1): ("", [], "error"),
           ("c", 2): ("", [], "too_many_elements"),
           ("c", 3): ("b", [(0, 1)], "no_content")}
    m = layers.row_metrics(ref, [1.0, 8.0, 2.0, 4.0],
                           ["base", "deep_div", "deep_div", "base"], wall_s=0.5)
    assert m["extract.error_rows"] == 2
    assert m["extract.core_turns_per_s_1t"] == 8.0
    assert m["extract.row_ms_max"] == 8.0
    assert (m["shape.base.rows"], m["shape.base.error_rows"],
            m["shape.base.row_ms_max"]) == (2, 0, 4.0)
    assert (m["shape.deep_div.rows"], m["shape.deep_div.error_rows"],
            m["shape.deep_div.row_ms_max"]) == (2, 2, 8.0)
    assert not any(k.startswith("shape.whale.") for k in m)


def _output(rows):
    import pyarrow as pa

    span = pa.struct([("start", pa.int32()), ("end", pa.int32())])
    return pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "extracted_text": [r[2] for r in rows],
        "content_spans": pa.array(
            [[{"start": a, "end": b} for a, b in r[3]] for r in rows],
            pa.list_(span)),
        "status": [r[4] for r in rows],
    })


def test_compare_rows_reports_every_kind_of_mismatch():
    ref = {("c", 0): ("hello", [(0, 5)], "ok"),
           ("c", 1): ("", [], "error"),
           ("d", 0): ("world", [(2, 7)], "ok")}
    good = [(c, t, *v) for (c, t), v in ref.items()]
    res = compare_rows(_output(good[::-1]), ref)  # row order does not matter
    assert res.ok and res.rows == 3 and res.error_rows == 1

    for i, field, value in [(0, 2, "hellO"), (0, 3, [(0, 4)]),
                            (2, 4, "no_content"), (1, 4, "ok")]:
        bad = [list(r) for r in good]
        bad[i][field] = value
        res = compare_rows(_output([tuple(r) for r in bad]), ref)
        assert not res.ok, (i, field, value)
        assert len(res.problems) == 1

    for rows in (good[:2], good + [("e", 0, "x", [], "ok")],
                 [good[0], good[0], good[2]]):
        assert not compare_rows(_output(rows), ref).ok


def test_generators_are_seeded():
    a = adversarial.inject(corpus_rows(11, 25), 11)
    assert a == adversarial.inject(corpus_rows(11, 25), 11)
    assert a != adversarial.inject(corpus_rows(12, 25), 12)
    assert len(corpus_rows(11, 25)) == 25


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert layers.percentile(vals, 50) == 50
    assert layers.percentile(vals, 99) == 99
    assert layers.percentile(vals, 100) == 100
