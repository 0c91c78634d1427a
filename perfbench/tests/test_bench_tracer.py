"""Self-tests for span recording and the Spark event-log parser."""

import os

import pytest

from tracer import SpanIndex, Tracer, parse_event_log, read_event_logs

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_parse_event_log_attributes_tasks_by_stage_attempt_group():
    with open(FIXTURE) as fh:
        g = parse_event_log(fh)
    assert set(g) == {"pb-1", "pb-2", None}
    a = g["pb-1"]
    assert a["jobs"] == 1
    assert a["tasks"] == 4
    assert a["failed_tasks"] == 1  # the FetchFailed attempt
    assert a["executor_run_s"] == pytest.approx(1.2)
    assert a["executor_cpu_s"] == pytest.approx(0.45)
    assert a["gc_s"] == pytest.approx(0.11)
    assert a["input_bytes"] == 4000
    assert a["shuffle_read_bytes"] == 600  # remote + local, both attempts
    assert a["shuffle_write_bytes"] == 300
    assert a["spill_disk_bytes"] == 4096
    b = g["pb-2"]
    assert (b["jobs"], b["tasks"], b["failed_tasks"]) == (1, 1, 0)
    assert b["executor_run_s"] == pytest.approx(1.0)
    assert b["input_bytes"] == 50_000
    # the untagged job re-lists stage 0 (skipped): its tasks stay with pb-1
    assert g[None]["jobs"] == 1 and g[None]["tasks"] == 1


def test_read_event_logs_walks_a_directory(tmp_path):
    (tmp_path / "app").mkdir()
    with open(FIXTURE) as src:
        (tmp_path / "app" / "events_1").write_text(src.read())
    assert read_event_logs(str(tmp_path))["pb-2"]["tasks"] == 1


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeSC:
    def __init__(self):
        self.calls = []

    def setJobGroup(self, group, description):
        self.calls.append(group)

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.calls.append(value)


def test_spans_nest_tag_jobs_and_give_self_time():
    clock, sc = FakeClock(), FakeSC()
    tr = Tracer(sc, clock=clock)
    tr.window = 7
    with tr.span("outer") as outer:
        clock.t = 1.0
        with tr.span("a", tag_jobs=False):
            clock.t = 3.0
        with tr.span("b") as b:
            clock.t = 4.0
        clock.t = 10.0
    assert [s.name for s in tr.spans] == ["a", "b", "outer"]
    assert all(s.window == 7 for s in tr.spans)
    assert {s.parent for s in tr.spans if s.name != "outer"} == {outer.id}
    # only tagging spans set the job group; leaving one restores its parent's
    assert sc.calls == [outer.group, b.group, outer.group, None]
    idx = SpanIndex(tr.spans, {outer.group: {"jobs": 2}, b.group: {"jobs": 3}})
    assert idx.self_s(outer) == pytest.approx(10.0 - 3.0)
    assert idx.spark_total([outer], "jobs") == 5
    assert idx.spark_total([outer, b], "jobs") == 5  # nested roots count once
    assert [s.name for s in idx.under([outer], "b")] == ["b"]


class Target:
    def work(self, x):
        if x < 0:
            raise KeyError(x)
        return x * 2


def test_patch_records_attributes_errors_and_unpatches():
    tr = Tracer()
    orig = Target.work
    tr.patch(Target, "work", "target.work",
             on_call=lambda args, kwargs: {"x": args[1]},
             on_result=lambda out: {"out": out})
    assert Target().work(4) == 8
    with pytest.raises(KeyError):
        Target().work(-1)
    ok, bad = tr.spans
    assert ok.attrs == {"x": 4, "out": 8} and ok.error is None
    assert bad.attrs == {"x": -1} and bad.error == "KeyError"
    tr.unpatch_all()
    assert Target.work is orig
