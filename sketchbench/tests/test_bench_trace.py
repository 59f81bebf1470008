"""Event-log parsing, job attribution and self time.

``data/eventlog_small.jsonl`` is a Spark 4.1 event log recorded from a
local[2] session, trimmed to the fields the parser reads: job 0 (group
``span-udf``) runs a pandas UDF over 2 partitions and a 1-task final
aggregate, job 1 (group ``span-shuffle``) a 2-map, 8-reduce groupBy,
job 2 (no group) a 1-task count.
"""

from __future__ import annotations

import os

import pytest

from sketchbench.trace import (
    attribute_jobs, event_log_lines, parse_event_log, self_times,
)

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


def _jobs():
    with open(LOG) as f:
        return parse_event_log(f)


def test_parser_reads_recorded_log():
    jobs = _jobs()
    assert sorted(jobs) == [0, 1, 2]
    assert [jobs[j]["group"] for j in (0, 1, 2)] == ["span-udf", "span-shuffle", None]
    udf, shuf, tail = (jobs[j]["counters"] for j in (0, 1, 2))
    assert (udf["tasks"], shuf["tasks"], tail["tasks"]) == (3, 10, 1)
    assert udf["python_bytes_sent"] == 8416 and udf["python_bytes_received"] == 8288
    assert udf["python_s"] == pytest.approx(5.376)
    assert shuf["python_bytes_sent"] == 0 and shuf["python_s"] == 0
    assert (udf["shuffle_bytes"], shuf["shuffle_bytes"]) == (118, 563)
    assert udf["max_task_s"] == pytest.approx(3.521)
    assert udf["exec_cpu_s"] == pytest.approx(0.969840918)
    assert all(jobs[j]["counters"]["task_retries"] == 0 for j in jobs)
    assert jobs[0]["submit"] == pytest.approx(1792207162.552)


def test_rolling_layout_reads_like_one_file(tmp_path):
    with open(LOG) as f:
        lines = f.readlines()
    d = tmp_path / "eventlog_v2_app-1"
    d.mkdir()
    (d / "events_2_app-1").write_text("".join(lines[10:]))
    (d / "events_1_app-1").write_text("".join(lines[:10]))
    assert parse_event_log(event_log_lines(str(tmp_path), "app-1")) == _jobs()


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end, "parent": parent}


def test_jobs_go_to_their_group_or_the_innermost_open_span():
    jobs = _jobs()
    t0 = jobs[0]["submit"]
    spans = [
        _span("p", "pass", t0 - 1, t0 + 10),
        _span("span-udf", "operators.probe", t0 - 0.5, t0 + 4.5, "p"),
        _span("span-shuffle", "operators.build", t0 + 4.6, t0 + 5.6, "p"),
        _span("t", "streaming", t0 + 5.6, t0 + 9, "p"),
    ]
    per = attribute_jobs(jobs, spans)
    assert per["span-udf"]["tasks"] == 3 and per["span-shuffle"]["tasks"] == 10
    assert per["t"]["tasks"] == 1  # no group: innermost span open at submit
    assert per["p"]["tasks"] == 0


def test_self_time_subtracts_children():
    spans = [
        _span("p", "pass", 0.0, 10.0),
        _span("a", "operators.build", 1.0, 4.0, "p"),
        _span("a1", "operators.build", 2.0, 3.0, "a"),
        _span("b", "operators.merge", 5.0, 9.5, "p"),
    ]
    st = self_times(spans)
    assert st == pytest.approx({"p": 2.5, "a": 2.0, "a1": 1.0, "b": 4.5})
    assert sum(st[s] for s in ("a", "a1", "b")) == pytest.approx(10.0 - st["p"])
