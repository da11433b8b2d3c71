"""Stage accounting parsed from a recorded Spark 4 event log.

``data/eventlog_sample.jsonl`` is a real uncompressed event log of a
local[2] session, trimmed to the fields the parser reads. It holds three
job groups: ``extract`` (a parquet scan through ``run_extraction``'s
MapInPandas into a parquet write), ``agg`` (an AQE aggregation whose
second job skips its map stage) and ``rdd`` (a reduceByKey counted and
then collected, so the second job skips the shuffle map stage)."""

from pathlib import Path

import pytest

from perfbench import stages

SAMPLE = Path(__file__).parent / "data" / "eventlog_sample.jsonl"


@pytest.fixture(scope="module")
def groups():
    with open(SAMPLE, encoding="utf-8") as f:
        return stages.parse_events(f)


def test_groups_follow_set_job_group(groups):
    assert set(groups) == {"extract", "agg", "rdd"}


def test_extract_job_totals(groups):
    t = groups["extract"].totals()
    assert t == {
        "stages": 2, "tasks": 3, "executor_run_ms": 5574.0,
        "executor_cpu_ms": pytest.approx(1327.779966),
        "deserialize_ms": 273.0, "gc_ms": 24.0, "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0, "output_bytes": 7565,
    }
    # only the MapInPandas stage runs Python workers
    assert [s.python for s in groups["extract"].stages] == [False, True]
    assert groups["extract"].python_run_ms() == 5207.0


def test_skipped_stages_are_not_counted(groups):
    agg = groups["agg"]
    assert [s.stage_id for s in agg.stages if s.tasks] == [2, 4]
    assert agg.totals()["stages"] == 2
    assert agg.totals()["tasks"] == 4
    rdd = groups["rdd"].totals()
    assert rdd["stages"] == 3  # map stage once, two result stages
    assert rdd["shuffle_write_bytes"] == 314
    assert rdd["shuffle_read_bytes"] == 628  # read by both result stages


def test_event_log_files_orders_rolling_parts(tmp_path):
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    for name in ("events_10_app", "events_2_app", "appstatus_app"):
        (roll / name).write_text("")
    single = tmp_path / "local-1"
    single.write_text("")
    names = [Path(p).name for p in stages.event_log_files(str(tmp_path))]
    assert names == ["events_2_app", "events_10_app", "local-1"]


def test_jobs_outside_a_group_are_collected_under_empty_name():
    lines = [
        '{"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],'
        ' "Properties": {}}',
        '{"Event": "SparkListenerTaskEnd", "Stage ID": 0,'
        ' "Task Metrics": {"Executor Run Time": 7}}',
    ]
    groups = stages.parse_events(lines)
    assert groups[""].totals()["executor_run_ms"] == 7
