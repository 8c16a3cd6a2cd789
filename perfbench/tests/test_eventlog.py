import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "eventlog_small.jsonl")


@pytest.fixture(scope="module")
def summary():
    # recorded from local[2]: span 0 ran mapInPandas + a grouped count,
    # span 1 a global sort, the last job carried no span
    return eventlog.summarize(eventlog.read_events(LOG))


def test_tasks_land_in_the_span_that_launched_their_job(summary):
    assert set(summary) == {0, 1, None}
    assert [summary[s]["totals"]["tasks"] for s in (0, 1, None)] == [3, 5, 3]


def test_task_metrics_are_summed_in_seconds_and_bytes(summary):
    t0, t1 = summary[0]["totals"], summary[1]["totals"]
    assert t0["executor_run_s"] == pytest.approx(4.067)
    assert t1["executor_run_s"] == pytest.approx(0.144)
    assert t0["shuffle_write_bytes"] == 269
    assert t1["shuffle_write_bytes"] == 1011
    assert t0["shuffle_read_bytes"] == 269


def test_sql_timings_use_the_declared_metric_type(summary):
    sql = summary[0]["totals"]["sql"]
    # "time to run Python workers" is a ms timing metric
    assert sql["time to run Python workers"] == pytest.approx(3.383)
    assert sql["data sent to Python workers"] > 0
    assert summary[1]["totals"]["sql"]["time to run Python workers"] == 0


def test_merge_and_kernel_skew(summary):
    both = eventlog.merge([summary[0], summary[1]])
    assert both["totals"]["tasks"] == 8
    assert both["totals"]["sql"]["time to run Python workers"] == pytest.approx(3.383)
    # the mapInPandas stage (tasks of 2.101 and 2.119 s) is picked; its
    # skew is max / median task time
    assert eventlog.kernel_task_skew(summary[0]) == pytest.approx(2.119 / 2.110)
    # no Python stage: the stage with the most task time (0.065, 0.071 s)
    assert eventlog.kernel_task_skew(summary[1]) == pytest.approx(0.071 / 0.068)


def test_log_files_reads_rolling_and_single_layouts(tmp_path):
    roll = tmp_path / "eventlog_v2_app"
    roll.mkdir()
    for i in (2, 1, 10):
        (roll / f"events_{i}_app").write_text("")
    (roll / "appstatus_app").write_text("")
    (roll / ".events_1_app.crc").write_text("")
    names = [os.path.basename(f) for f in eventlog.log_files(str(tmp_path))]
    assert names == ["events_1_app", "events_2_app", "events_10_app"]
    assert eventlog.log_files(LOG) == [LOG]


def test_count_exchanges_reads_the_final_adaptive_plan():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- == Final Plan ==
   *(3) HashAggregate(keys=[], functions=[count(1)])
   +- ShuffleQueryStage 1
      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=40]
         +- *(2) Sort [conv_id#1 ASC NULLS FIRST], false, 0
            +- AQEShuffleRead coalesced
               +- ShuffleQueryStage 0
                  +- Exchange hashpartitioning(conv_id#1, 16), REPARTITION_BY_NUM, [plan_id=20]
                     +- BroadcastHashJoin [k#2], [k#3], Inner, BuildRight
                        :- ReusedExchange [k#2], Exchange hashpartitioning(k#2, 16)
                        +- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, false]),false), [plan_id=12]
+- == Initial Plan ==
   HashAggregate(keys=[], functions=[count(1)])
   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]
"""
    assert eventlog.count_exchanges(plan) == 3
