"""Reading what a streaming query already persists in its checkpoint:
``offsets/<batch>`` (written when a micro-batch is planned, holding the
source's end offset and the batch's trigger timestamp) and
``commits/<batch>`` (written when the batch is done; its mtime is the
commit time).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass


@dataclass(frozen=True)
class Batch:
    id: int
    start_seq: int  # first reader seq in the batch
    end_seq: int  # one past the last
    trigger_ts: float  # epoch s, the batch's trigger time
    planned_ts: float  # epoch s, offsets log written
    commit_ts: float  # epoch s, commit log written


def _ids(d: str) -> list[int]:
    try:
        return sorted(int(n) for n in os.listdir(d) if n.isdigit())
    except FileNotFoundError:
        return []


def _read_offset(path: str) -> tuple[int, float]:
    """(end seq, trigger timestamp) from one offsets-log file."""
    with open(path, encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    meta = json.loads(lines[1])
    return int(json.loads(lines[2])["seq"]), meta["batchTimestampMs"] / 1000.0


def committed_batches(checkpoint: str) -> list[Batch]:
    """Every committed micro-batch, in order, with its reader-seq range."""
    offsets_dir = os.path.join(checkpoint, "offsets")
    commits_dir = os.path.join(checkpoint, "commits")
    commits = set(_ids(commits_dir))
    out, prev_end = [], 0
    for b in _ids(offsets_dir):
        opath = os.path.join(offsets_dir, str(b))
        end, trig = _read_offset(opath)
        if b in commits:
            out.append(Batch(b, prev_end, end, trig, os.path.getmtime(opath),
                             os.path.getmtime(os.path.join(commits_dir, str(b)))))
        prev_end = end
    return out


def committed_seq(checkpoint: str) -> int:
    """One past the highest reader seq in a committed batch (0 if none)."""
    bs = committed_batches(checkpoint)
    return bs[-1].end_seq if bs else 0


def batch_of_seq(batches: list[Batch], seq: int) -> Batch | None:
    lo, hi = 0, len(batches)
    while lo < hi:
        mid = (lo + hi) // 2
        if batches[mid].end_seq <= seq:
            lo = mid + 1
        else:
            hi = mid
    if lo < len(batches) and batches[lo].start_seq <= seq:
        return batches[lo]
    return None


def latencies(batches: list[Batch], seq_by_id: dict[int, int],
              sched_by_id: dict[int, float]) -> dict[int, float]:
    """Message id → seconds from its scheduled send time to the commit of
    the micro-batch that wrote it, for every scheduled message whose seq
    falls in a committed batch."""
    out = {}
    for mid, t in sched_by_id.items():
        seq = seq_by_id.get(mid)
        b = None if seq is None else batch_of_seq(batches, seq)
        if b is not None:
            out[mid] = b.commit_ts - t
    return out
