"""Span arithmetic and the event-log parser."""

import json
import os

import pytest

import spans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def span(id, start, end, parent=None, name="s"):
    return spans.Span(id, name, parent, None, start, end)


def test_covered_merges_overlaps_and_clips():
    assert spans.covered([], 0, 10) == 0
    assert spans.covered([(1, 4), (3, 6), (8, 12), (-5, -1)], 0, 10) == 7
    assert spans.covered([(2, 3), (0, 10)], 0, 10) == 10
    assert spans.covered([(5, 5), (6, 4)], 0, 10) == 0


def test_self_time_of_nested_spans():
    tree = [
        span(0, 0.0, 10.0),
        span(1, 1.0, 4.0, parent=0),
        span(2, 3.0, 6.0, parent=0),
        span(3, 8.0, 12.0, parent=0),  # outlives its parent: clipped
        span(4, 2.0, 3.0, parent=1),   # a grandchild: only its parent's business
    ]
    kids = spans.children(tree)
    assert spans.self_time(tree[0], kids) == pytest.approx(3.0)
    assert spans.self_time(tree[1], kids) == pytest.approx(2.0)
    assert spans.self_time(tree[4], kids) == pytest.approx(1.0)
    assert spans.subtree(tree[1], kids) == {1, 4}
    assert spans.subtree(tree[0], kids) == {0, 1, 2, 3, 4}


class FakeContext:
    def __init__(self):
        self.descriptions = []

    def setJobDescription(self, value):
        self.descriptions.append(value)


def test_tracer_links_parents_requests_and_job_descriptions(tmp_path):
    sc = FakeContext()
    t = spans.Tracer(sc=sc)
    with t.span("op", request=7) as a:
        with t.span("layer.call", k=1) as b:
            pass
        with t.span("layer.other"):
            pass
    with pytest.raises(ValueError):
        with t.span("failing"):
            raise ValueError
    assert [(s.name, s.parent, s.request) for s in t.spans] == [
        ("op", None, 7), ("layer.call", 0, 7), ("layer.other", 0, 7), ("failing", None, None),
    ]
    assert b.attrs == {"k": 1} and a.end >= b.end >= b.start >= a.start
    assert all(s.end is not None for s in t.spans)
    assert sc.descriptions == [
        "span:0", "span:1", "span:0", "span:2", "span:0", None, "span:3", None,
    ]
    spans.Attribution(t.spans, []).write(str(tmp_path / "spans.jsonl"))
    rows = [json.loads(l) for l in open(tmp_path / "spans.jsonl")]
    assert [r["name"] for r in rows] == ["op", "layer.call", "layer.other", "failing"]
    assert rows[0]["self_s"] <= rows[0]["end"] - rows[0]["start"]
    assert all(r["exec_s"] == 0 and r["jobs"] == [] for r in rows)

    off = spans.Tracer(sc=FakeContext(), enabled=False)
    with off.span("op") as s:
        assert s is None
    assert off.spans == [] and off.sc.descriptions == []


def test_event_log_parser_on_a_recorded_log():
    """``small_eventlog.jsonl`` is a trimmed Spark 4.1 event log of a
    local[2] session that ran, with the job description set by a tracer:

    - span 0 ``op``, around the two spans below;
    - span 1 ``range.sum``: ``spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()``;
    - span 2 ``parquet.count``: a grouped count over a 300-row parquet
      file of 3 parts
      (``read.parquet(p).selectExpr("id % 3 as k").groupBy("k").count().collect()``);

    and, with no description, a write of that parquet file before it.
    """
    jobs = spans.parse_event_log(os.path.join(DATA, "small_eventlog.jsonl"))
    with open(os.path.join(DATA, "small_spans.jsonl")) as f:
        tree = [spans.Span(**json.loads(l)) for l in f]
    att = spans.Attribution(tree, jobs)
    assert all(j.end is not None and j.end >= j.start for j in jobs)
    assert any(j.span is None for j in jobs)  # the undescribed write

    (op,) = att.named("op")
    (rng,) = att.named("range.sum")
    (pq,) = att.named("parquet.count")
    assert {j.id for j in att.jobs(op)} == {j.id for j in att.jobs(rng) + att.jobs(pq)}
    assert att.jobs(rng) and att.jobs(pq)
    assert sum(j.tasks for j in att.jobs(rng)) >= 4
    assert sum(j.failed_tasks for j in jobs) == 0
    assert sum(j.rows_scanned for j in att.jobs(pq)) == 300
    assert sum(j.scan_bytes for j in att.jobs(pq)) > 1000
    assert sum(j.scan_bytes for j in att.jobs(rng)) == 0
    assert sum(j.shuffle_write_bytes for j in att.jobs(pq)) > 0
    assert sum(j.shuffle_records for j in att.jobs(pq)) > 0
    assert sum(j.output_bytes for j in jobs if j.span is None) > 0
    assert sum(j.cpu_s for j in jobs) > 0
    for s in (op, rng, pq):
        assert 0 < att.exec_s(s) <= s.duration
        assert att.exec_s(s) + att.driver_s(s) == pytest.approx(s.duration)
