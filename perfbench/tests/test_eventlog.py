"""The event-log reader and span arithmetic, on a canned log."""

import os

import pytest

from tracing import EventLog, Shims, Tracer, union_length

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog.jsonl")


@pytest.fixture(scope="module")
def log():
    with open(LOG) as f:
        return EventLog(f)


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(5, 6), (0, 1)]) == pytest.approx(2)


def test_jobs_and_their_write_targets(log):
    assert sorted(log.jobs) == [0, 1, 2]
    assert log.jobs[0].submit == pytest.approx(1.0)
    assert log.jobs[0].end == pytest.approx(3.0)
    assert log.write_path(log.jobs[0]) == "file:/data/out/ticks/000001/sink_en"
    assert log.write_path(log.jobs[1]) is None


def test_stats_sum_tasks_of_jobs_submitted_in_the_interval(log):
    s = log.stats(0.5, 5.0)  # jobs 0 and 1; job 2 starts at 9 s
    assert s["jobs"] == 2
    assert s["tasks"] == 4
    assert s["executor_cpu_s"] == pytest.approx(3.1)
    assert s["gc_s"] == pytest.approx(0.1)
    assert s["shuffle_write_bytes"] == 3000
    assert s["spill_bytes"] == 96
    # jobs cover [1, 3] and [2.5, 4]: 3 s busy of a 4.5 s interval
    assert s["driver_gap_s"] == pytest.approx(1.5)


def test_stats_clip_jobs_to_the_interval(log):
    s = log.stats(2.0, 3.5)  # only job 1 starts inside; it runs past the end
    assert s["jobs"] == 1 and s["tasks"] == 1
    assert s["driver_gap_s"] == pytest.approx(0.5)


def test_empty_interval(log):
    s = log.stats(5.0, 8.0)
    assert s["jobs"] == 0 and s["executor_cpu_s"] == 0
    assert s["driver_gap_s"] == pytest.approx(3.0)


def test_shims_record_spans_and_restore():
    class Mod:
        @staticmethod
        def work(x):
            return x + 1

    tracer = Tracer()
    shims = Shims(tracer)
    original = Mod.work
    shims.wrap(Mod, "work", "layer")
    with tracer.span("op") as op:
        assert Mod.work(1) == 2
        assert Mod.work(2) == 3
    shims.restore()
    assert Mod.work is original
    assert len(tracer.within(op, "layer")) == 2
    assert tracer.total(op, "layer") <= op.wall
