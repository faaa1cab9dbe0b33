"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import Op  # noqa: E402


def test_union_length_counts_overlap_once():
    # three jobs from a thread pool overlapping in time, then a gap and a
    # job nested inside another
    ivs = [(0, 10), (5, 15), (12, 20), (30, 40), (32, 35)]
    assert spans.union_length(ivs) == 30
    assert sum(e - s for s, e in ivs) == 41  # what a plain sum reports
    assert spans.union_length([]) == 0
    assert spans.union_length([(3, 3)]) == 0


def _log(jobs, stages=(), tasks=(), submitted=()):
    return {"jobs": [{"start": s, "end": e, "stage_ids": ids}
                     for s, e, ids in jobs],
            "stages": [{"start": s, "end": e} for s, e in stages],
            "tasks": list(tasks), "submitted_stages": set(submitted)}


def test_layer_metrics_union_and_driver_time():
    sp = [("plans.profile_plan", 1000.0, 2000.0),
          ("report", 2000.0, 2100.0)]
    log = _log(jobs=[(1100, 1500, [0]), (1200, 1600, [1]),
                     (1700, 1800, [2])],
               stages=[(1100, 1400), (1200, 1600), (1700, 1800)],
               tasks=[{"start": 1150, "cpu_ns": 2e9, "shuffle": 3e6,
                       "gc_ms": 10, "spill": 0, "failed": False}])
    m, q = spans.layer_metrics(sp, log)
    assert m["plans.profile_plan.jobs"] == 3
    assert m["plans.profile_plan.jobs_s"] == 0.6  # union, not 0.9
    assert m["plans.profile_plan.driver_s"] == 0.4
    assert m["plans.profile_plan.wall_s"] == 1.0
    assert m["plans.profile_plan.stages"] == 3
    assert m["plans.profile_plan.task_cpu_s"] == 2.0
    assert m["plans.profile_plan.shuffle_mb"] == 3.0
    assert m["report.jobs"] == 0 and m["report.driver_s"] == 0.1
    assert q == {"spans": 2, "bad_spans": 0, "unassigned_jobs": 0}
    assert set(m) | {k for k, _ in spans.SPARK_FIELDS + spans.TRACE_FIELDS} \
        == set(spans.metric_units())


def test_layer_metrics_flags_jobs_outside_spans_and_overlong_spans():
    sp = [("state", 0.0, 100.0)]
    # a job that outlives its span, and one no span covers
    log = _log(jobs=[(10, 500, []), (800, 900, [])])
    m, q = spans.layer_metrics(sp, log)
    assert q["bad_spans"] == 1 and q["unassigned_jobs"] == 1
    assert m["state.jobs_s"] <= m["state.wall_s"]


def test_spark_metrics_and_window():
    log = _log(jobs=[(0, 10, [0, 1, 2]), (50, 60, [3])],
               tasks=[{"start": 5, "cpu_ns": 0, "shuffle": 0, "gc_ms": 1500,
                       "spill": 2e6, "failed": True},
                      {"start": 55, "cpu_ns": 0, "shuffle": 0, "gc_ms": 0,
                       "spill": 0, "failed": False}],
               submitted=[0, 3])
    m = spans.spark_metrics(log)
    assert m == {"spark.spill_mb": 2.0, "spark.gc_s": 1.5,
                 "spark.failed_tasks": 1, "spark.stages_skipped": 2}
    late = spans.window(log, 40, 100)
    assert len(late["jobs"]) == 1 and len(late["tasks"]) == 1
    assert spans.spark_metrics(late)["spark.stages_skipped"] == 0


def test_read_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 100, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Launch Time": 110},
         "Task Metrics": {"Executor CPU Time": 5, "JVM GC Time": 2,
                          "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 7}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0,
                        "Submission Time": 105, "Completion Time": 150}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0,
         "Completion Time": 160},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 170, "Stage IDs": [2]},  # never ends
    ]
    path = tmp_path / "app-1"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert spans.find_event_log(str(tmp_path)) == str(path)
    log = spans.read_event_log(str(path))
    assert log["jobs"] == [{"start": 100, "end": 160, "stage_ids": [0, 1]}]
    assert log["stages"] == [{"start": 105, "end": 150}]
    assert log["tasks"][0]["shuffle"] == 7 and not log["tasks"][0]["failed"]
    assert spans.spark_metrics(log)["spark.stages_skipped"] == 1


def test_tracer_nesting_and_disabled():
    t = spans.Tracer(False)
    with t.span("state"):
        pass
    assert t.spans == []
    t.enabled = True
    add = t.wrap("state", lambda a, b: a + b)
    with t.span("streaming.incremental"):
        with t.span("state"):
            assert add(1, 2) == 3  # re-entry is covered by the outer span
    assert [s[0] for s in t.spans] == ["state", "streaming.incremental"]


class _FakeWorkload:
    name = "fake"

    def ops(self):
        def boom():
            raise ValueError("no")
        return [Op("right", lambda: 2, lambda r: r == 2),
                Op("wrong", lambda: 3, lambda r: r == 2),
                Op("raises", boom, lambda r: True, request=False)]


def test_wrong_output_and_exceptions_count_as_failures():
    seconds, recs = run.run_pass(_FakeWorkload())
    by = {r["op"]: r for r in recs}
    assert by["right"]["ok"] and not by["wrong"]["ok"]
    assert not by["raises"]["ok"] and "ValueError" in by["raises"]["error"]
    # a failed operation keeps its time; nothing is dropped
    assert len(recs) == 3
    assert all(r["s"] >= 0 and r["cpu_s"] >= 0 for r in recs)
    assert seconds == sum(r["s"] for r in recs)


def test_canonical_rows_ignore_order_not_values():
    a = [{"id1": 1, "id2": 2, "j": 0.5}, {"id1": 1, "id2": 3, "j": 0.75}]
    b = [{"j": 0.75, "id2": 3, "id1": 1}, {"id2": 2, "id1": 1, "j": 0.5}]
    assert check.canon_records(a) == check.canon_records(b)
    b[0]["j"] = 0.7501
    assert check.canon_records(a) != check.canon_records(b)
    assert check.same_value(0.1 + 0.2, 0.3)
    assert not check.same_value(0.034121, 0.034122)
    assert not check.same_value(None, 0.0)


def test_components_reference():
    # a chain, a star and an isolated edge; labels are the least id
    got = check.components([(5, 4), (4, 3), (3, 9), (7, 1), (7, 2),
                            (10, 11)])
    assert got == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 3), (7, 1), (9, 3),
                   (10, 10), (11, 10)]


def test_inputs_are_a_function_of_the_seed():
    import gen

    sizes = {"documents": 50, "embeddings": 20, "events": 30}
    for table in sizes:
        assert gen.build(3, table, sizes).equals(gen.build(3, table, sizes))
        assert not gen.build(3, table, sizes).equals(
            gen.build(4, table, sizes))
    for seed in range(20):
        bounds = gen.batch_bounds(seed, 1000, 3)
        assert len(bounds) == 3 and bounds[0][0] == 0
        assert bounds[-1][1] == 1000
        assert all(a[1] == b[0] and a[0] < a[1]
                   for a, b in zip(bounds, bounds[1:]))
