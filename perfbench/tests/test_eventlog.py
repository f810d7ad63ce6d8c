"""The event-log reader against a canned log: two jobs of one span (the
second re-lists a stage it skips), one job outside any span."""

import os

import pytest

from perfbench.eventlog import EventLog, layer_metrics
from perfbench.tracing import Span

DATA = os.path.join(os.path.dirname(__file__), "data", "canned_eventlog.jsonl")


@pytest.fixture()
def log():
    with open(DATA) as f:
        return EventLog(f)


def _span(sid=0, name="query.search", start=1000.0, end=2000.0):
    return Span(sid, name, None, None, start, end_ms=end)


def test_span_metrics(log):
    m = log.span_metrics(_span())
    assert m["jobs"] == 2
    assert m["tasks"] == 5
    assert m["executor_run_s"] == pytest.approx(0.505)
    assert m["executor_cpu_s"] == pytest.approx(0.425)
    assert m["shuffle_write_mb"] == pytest.approx(3.0)
    # slowest stage by wall is stage 0: tasks 100, 100, 250 ms
    assert m["task_skew"] == pytest.approx(2.5)
    # 1000 ms span minus the union [1100, 1600] of its two jobs
    assert m["driver_s"] == pytest.approx(0.5)
    assert m["records_read"] == 60
    assert m["bytes_written_mb"] == pytest.approx(4.0)


def test_span_without_jobs_is_all_driver(log):
    m = log.span_metrics(_span(sid=7, start=0.0, end=250.0))
    assert (m["jobs"], m["tasks"], m["task_skew"]) == (0, 0, 1.0)
    assert m["driver_s"] == pytest.approx(0.25)


def test_unattributed_and_layer_means(log):
    spans = [_span(0), _span(1, start=3000.0, end=3100.0)]
    assert log.unattributed_jobs(spans) == 1
    out = layer_metrics(log, spans, ["query", "upsert"])
    assert out["query.jobs"] == pytest.approx(1.0)  # 2 jobs over 2 calls
    assert out["query.driver_s"] == pytest.approx((0.5 + 0.1) / 2)
    assert out["upsert.jobs"] == 0.0


def test_from_dir_reads_the_single_log(tmp_path):
    (tmp_path / "app-1").write_text(open(DATA).read())
    assert len(EventLog.from_dir(str(tmp_path)).jobs) == 3
    (tmp_path / "app-2").write_text("")
    with pytest.raises(RuntimeError):
        EventLog.from_dir(str(tmp_path))
