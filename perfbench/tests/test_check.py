import json

import eventlog
import messages
from live import check


def _rows(plan):
    """The warehouse a correct daemon leaves for ``plan``."""
    readings, dead, seq = [], [], 0
    for ph in ("warmup", "open_loop", "backlog"):
        for m in plan[ph]:
            if m.expect[0] == "readings":
                _, table, device, vtype, v = m.expect
                readings.append({
                    "table_name": table, "client": messages.CLIENT, "device": device,
                    "value_type": vtype, "seq": seq,
                    "value_num": v if vtype == "Float64" else None,
                    "value_str": v if vtype == "String" else None,
                })
            else:
                dead.append({"payload": m.payload.decode(), "reject_reason": m.expect[1]})
            seq += 1
    return readings, dead


def test_correct_warehouse_has_no_failures():
    plan = messages.plan(1, 10)
    readings, dead = _rows(plan)
    failed, seq_by_id = check(plan, readings, dead)
    assert failed == 0
    assert len(seq_by_id) == len(readings)


def test_missing_duplicated_misrouted_and_misreasoned_messages_fail():
    plan = messages.plan(1, 10)
    readings, dead = _rows(plan)
    readings.pop()  # missing
    readings.append(dict(readings[0]))  # duplicated
    readings[1]["table_name"] = "elsewhere"  # wrong table
    dead[0]["reject_reason"] = "schema_mismatch" if dead[0]["reject_reason"] != \
        "schema_mismatch" else "invalid_json"  # wrong reason
    dead.append({"payload": '{"value": 99999999}', "reject_reason": "invalid_json"})  # unknown
    failed, _ = check(plan, readings, dead)
    assert failed == 5


def test_eventlog_groups_task_metrics_by_job(tmp_path):
    evs = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q",
                                             "streaming.sql.batchId": "3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 40, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # job 1 reuses stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 2000,
         "Stage IDs": [1, 2]},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 10}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2100},
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in evs) + "\n")
    j0, j1 = eventlog.load(str(tmp_path))
    assert j0.batch_id == 3
    assert (j0.submit, j0.end) == (1.0, 1.5)
    assert (j0.executor_run_s, j0.gc_s, j0.shuffle_write_bytes) == (0.04, 0.005, 100)
    # the skipped stage 1 is not charged to job 1 again
    assert (j1.executor_run_s, j1.batch_id) == (0.01, None)
    assert [j.id for j in eventlog.in_window([j0, j1], 1.9, 2.5)] == [1]
