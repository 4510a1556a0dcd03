"""The event-log reader on a small recorded log.

``data/eventlog_small.jsonl`` was recorded from a local[2] Spark 4.1
session with an uncompressed, non-rolling event log: a pandas UDF under
job group ``r1/mentions.kernel``, a two-stage aggregation under
``r1/queries.agg`` and one job with no group. It keeps the job and stage
events the reader uses; job properties are cut to the job group and
description.
"""

from __future__ import annotations

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    return eventlog.group_metrics(eventlog.read_events(LOG))


def test_groups_found(groups):
    assert set(groups) == {"r1/mentions.kernel", "r1/queries.agg", None}


def test_python_udf_cost_split_into_bytes_and_time(groups):
    m = groups["r1/mentions.kernel"]
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 2)
    assert m["python_sent_bytes"] == 8416
    assert m["python_returned_bytes"] == 8288
    assert m["python_run_s"] == pytest.approx(5.331)
    assert m["python_start_s"] == pytest.approx(3.359)
    assert m["executor_run_s"] == pytest.approx(6.464)
    assert m["gc_s"] == pytest.approx(0.110)
    assert m["shuffle_write_bytes"] == 0


def test_shuffle_stages_attributed_to_their_group(groups):
    m = groups["r1/queries.agg"]
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 2, 4)
    assert m["shuffle_write_bytes"] == 364
    assert m["executor_run_s"] == pytest.approx(0.738)
    assert m["python_run_s"] == 0


def test_ungrouped_work_reported_under_none(groups):
    m = groups[None]
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 1, 2)
    total = eventlog.merge(groups.values())
    assert (total["jobs"], total["stages"], total["tasks"]) == (3, 4, 8)


def test_stage_falls_back_to_job_group():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [5, 6],
         "Properties": {"spark.jobGroup.id": "r2/pipeline.get_kg"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 6}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 6, "Number of Tasks": 3, "Accumulables": [
                {"ID": 1, "Name": "internal.metrics.memoryBytesSpilled", "Value": 10},
                {"ID": 2, "Name": "internal.metrics.diskBytesSpilled", "Value": 5},
            ]}},
    ]
    m = eventlog.group_metrics(events)["r2/pipeline.get_kg"]
    assert (m["jobs"], m["stages"], m["tasks"], m["spill_bytes"]) == (1, 1, 3, 15)
