from __future__ import annotations

import pytest

from tracing import Tracer, group_id, self_times, split_group_id, summary, tail_percentile


def test_summary_median_and_count_without_tail():
    out = summary([3.0, 1.0, 2.0, 10.0])
    assert out == {"median": 2.5, "n": 4}


def test_tail_percentile_needs_ten_samples_beyond_it():
    assert tail_percentile(19) is None
    assert tail_percentile(20) == 50.0
    assert tail_percentile(99) == 50.0
    assert tail_percentile(100) == 90.0
    assert tail_percentile(1000) == 99.0
    assert tail_percentile(10_000) == 99.9


def test_summary_reports_nearest_rank_tail():
    values = [float(i) for i in range(1, 101)]  # 1..100
    out = summary(values)
    assert out["n"] == 100
    assert out["median"] == 50.5
    assert out["p90"] == 90.0  # nearest rank: ceil(0.9 * 100) = 90th value
    twenty = summary([float(i) for i in range(20)])
    assert twenty["p50"] == 9.0


def test_summary_rejects_no_samples():
    with pytest.raises(ValueError):
        summary([])


def _span(sid, parent, start, end, name="x"):
    return {"id": sid, "name": name, "parent": parent, "round": "r1",
            "start": start, "end": end}


def test_self_time_subtracts_children_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 5.0),   # overlaps span 1: union 1..5 = 4
        _span(3, 1, 1.5, 2.0),   # grandchild: only span 1 loses it
        _span(4, 0, 9.0, 12.0),  # runs past the parent: clipped to 9..10
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(0.5)
    assert st[4] == pytest.approx(3.0)


def test_tracer_records_nesting_and_switches_groups():
    seen = []
    tr = Tracer(on_switch=seen.append)
    with tr.span("round", "r7"):
        with tr.span("pipeline.get_kg", "r7"):
            pass
        with tr.span("queries.kg_one_hop", "r7"):
            pass
    root, a, b = tr.spans
    assert root["parent"] is None and a["parent"] == root["id"] == b["parent"]
    assert all(s["end"] >= s["start"] for s in tr.spans)
    assert seen == ["r7/round", "r7/pipeline.get_kg", "r7/round",
                    "r7/queries.kg_one_hop", "r7/round", None]
    st = self_times(tr.spans)
    covered = (a["end"] - a["start"]) + (b["end"] - b["start"])
    assert st[root["id"]] == pytest.approx(root["end"] - root["start"] - covered)


def test_group_id_round_trip():
    sp = _span(0, None, 0, 1, name="dedup.doc_dup_spans")
    assert split_group_id(group_id(sp)) == ("r1", "dedup.doc_dup_spans")
