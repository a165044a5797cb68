import json
import os

import pytest

import checkpoint as ckpt


def _batch(root, b, end_seq, trigger_ms, planned, committed):
    """One hand-built micro-batch in Spark's checkpoint layout."""
    for d in ("offsets", "commits"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    opath = os.path.join(root, "offsets", str(b))
    with open(opath, "w") as fh:
        fh.write("v1\n")
        fh.write(json.dumps({"batchWatermarkMs": 0, "batchTimestampMs": trigger_ms}) + "\n")
        fh.write(json.dumps({"seq": end_seq}) + "\n")
    os.utime(opath, (planned, planned))
    if committed is not None:
        cpath = os.path.join(root, "commits", str(b))
        with open(cpath, "w") as fh:
            fh.write('v1\n{"nextBatchWatermarkMs":0}')
        os.utime(cpath, (committed, committed))


@pytest.fixture
def log(tmp_path):
    root = str(tmp_path)
    _batch(root, 0, 80, 1000_000, 1000.1, 1004.0)
    _batch(root, 1, 200, 1005_000, 1005.1, 1007.5)
    _batch(root, 2, 300, 1010_000, 1010.1, 1012.0)
    _batch(root, 3, 350, 1015_000, 1015.1, None)  # planned, never committed
    return root


def test_committed_batches_carry_seq_ranges_and_times(log):
    bs = ckpt.committed_batches(log)
    assert [(b.id, b.start_seq, b.end_seq) for b in bs] == [(0, 0, 80), (1, 80, 200), (2, 200, 300)]
    assert bs[1].trigger_ts == 1005.0
    assert bs[1].planned_ts == pytest.approx(1005.1)
    assert bs[1].commit_ts == pytest.approx(1007.5)
    assert ckpt.committed_seq(log) == 300


def test_batch_of_seq_edges(log):
    bs = ckpt.committed_batches(log)
    assert ckpt.batch_of_seq(bs, 0).id == 0
    assert ckpt.batch_of_seq(bs, 79).id == 0
    assert ckpt.batch_of_seq(bs, 80).id == 1
    assert ckpt.batch_of_seq(bs, 299).id == 2
    assert ckpt.batch_of_seq(bs, 300) is None  # only in the uncommitted batch


def test_latency_is_scheduled_send_to_commit_of_the_writing_batch(log):
    bs = ckpt.committed_batches(log)
    seq_by_id = {10: 90, 11: 250, 12: 320, 13: 5}
    sched = {10: 1003.0, 11: 1008.25, 12: 1011.0, 14: 1000.0}
    lat = ckpt.latencies(bs, seq_by_id, sched)
    # 12 sits in the uncommitted batch, 14 never reached readings, 13 was
    # not scheduled (a warm-up message): none of them is a sample
    assert lat == pytest.approx({10: 4.5, 11: 3.75})


def test_missing_checkpoint_reads_as_nothing_committed(tmp_path):
    assert ckpt.committed_batches(str(tmp_path / "absent")) == []
    assert ckpt.committed_seq(str(tmp_path / "absent")) == 0
