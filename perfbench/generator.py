"""The ``ingest_live`` load generator, run as its own process: it hosts a
loopback MQTT 3.1.1 broker and publishes the seed's message plan at
QoS 1 on a schedule that does not slow when the daemon slows.

    python3 perfbench/generator.py --seed N --seconds S \
        --checkpoint DIR --report FILE

Protocol with the parent: the first stdout line is ``port <n>``; once
every published message is committed (or the drain deadline passed)
the report is written and ``done`` printed (a report with ``error``
when the daemon fell behind a deadline); the broker stays up until
stdin closes, so the daemon can be stopped cleanly first.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tests")]

import checkpoint as ckpt  # noqa: E402
import messages  # noqa: E402
from mqtt_test_broker import MiniBroker  # noqa: E402

#: the daemon's default processing-time trigger; Spark aligns trigger
#: times to multiples of it since the epoch
TRIGGER_S = 5.0
#: the reader's fill deadline (1 s) plus slack
READ_WINDOW_S = 1.5
#: a generator that ran later than this on any message fails the run
LAG_BOUND_S = 0.5
SETUP_TIMEOUT_S = 60.0
DRAIN_TIMEOUT_S = 30.0


def _wait(pred, timeout: float, step: float = 0.02) -> bool:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        if pred():
            return True
        time.sleep(step)
    return pred()


def next_boundary(t: float, offset: float = 0.0) -> float:
    """First time of the form ``k * TRIGGER_S + offset`` not before ``t``."""
    return math.ceil((t - offset) / TRIGGER_S) * TRIGGER_S + offset


class Generator:
    def __init__(self, seed: int, seconds: int, checkpoint: str) -> None:
        self.plan = messages.plan(seed, seconds)
        self.checkpoint = checkpoint
        self.broker = MiniBroker()
        self.sent_at: dict[int, float] = {}
        self.sched_at: dict[int, float] = {}
        self.qos1_sends = 0
        self.backlog_max = 0
        self._stop = threading.Event()

    def _publish(self, m: messages.Message) -> None:
        self.qos1_sends += len(self.broker.publish(m.topic, m.payload, qos=1))
        self.sent_at[m.id] = time.time()

    def _sample_backlog(self) -> None:
        while not self._stop.wait(0.05):
            self.backlog_max = max(self.backlog_max,
                                   self.qos1_sends - len(self.broker.pubacks))

    def _committed(self, n: int) -> bool:
        return ckpt.committed_seq(self.checkpoint) >= n

    def run(self) -> dict:
        b = self.broker
        rep: dict = {"lag_bound_s": LAG_BOUND_S}
        if not _wait(lambda: b.sessions and b.sessions[0].subscriptions,
                     SETUP_TIMEOUT_S):
            raise RuntimeError("the daemon never subscribed")
        rep["subscribed_ts"] = time.time()
        sampler = threading.Thread(target=self._sample_backlog, daemon=True)
        sampler.start()

        warm = self.plan["warmup"]
        for m in warm:
            self._publish(m)
        rep["warm_published_ts"] = time.time()
        if not _wait(lambda: self._committed(len(warm)), SETUP_TIMEOUT_S, 0.01):
            raise RuntimeError("the warm-up messages were never committed")
        rep["warm_committed_ts"] = time.time()

        # backlog, published at once in the middle of a trigger interval.
        # A batch that outlasts the trigger is followed at once by an
        # unaligned poll, whose read window (up to READ_WINDOW_S) must be
        # over before the publish, or the phase would vary from run to run.
        backlog = self.plan["backlog"]
        t0 = next_boundary(time.time() + READ_WINDOW_S, TRIGGER_S / 2)
        time.sleep(max(0.0, t0 - time.time()))
        rep["backlog_start_ts"] = time.time()
        for m in backlog:
            self._publish(m)
        rep["backlog_published_ts"] = time.time()
        if not _wait(lambda: self._committed(len(warm) + len(backlog)),
                     DRAIN_TIMEOUT_S, 0.01):
            raise RuntimeError("the backlog never drained")

        # open loop, starting on a trigger boundary, timed from each
        # message's scheduled send time
        loop = self.plan["open_loop"]
        start = next_boundary(time.time() + READ_WINDOW_S)
        rep["open_loop_start_ts"] = start
        for i, m in enumerate(loop):
            due = start + i / messages.RATE_PER_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.sched_at[m.id] = due
            self._publish(m)
        lateness = [self.sent_at[m.id] - self.sched_at[m.id] for m in loop]

        total = len(warm) + len(loop) + len(backlog)
        if not _wait(lambda: self._committed(total), DRAIN_TIMEOUT_S, 0.05):
            raise RuntimeError("the open-loop messages were never all committed")
        self._stop.set()
        sampler.join(timeout=5)
        rep.update(
            published=total,
            qos1_sends=self.qos1_sends,
            pubacks=len(b.pubacks),
            backlog_max=self.backlog_max,
            sessions=[len(x.subscriptions) for x in b.sessions],
            lateness_max_s=max(lateness),
            lateness_mean_s=sum(lateness) / len(lateness),
            sched_ts={str(k): v for k, v in self.sched_at.items()},
        )
        return rep


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--report", required=True)
    a = ap.parse_args()
    gen = Generator(a.seed, a.seconds, a.checkpoint)
    print(f"port {gen.broker.port}", flush=True)
    try:
        rep = gen.run()
    except RuntimeError as exc:
        rep = {"error": str(exc)}
    with open(a.report, "w", encoding="utf-8") as fh:
        json.dump(rep, fh)
    print("done", flush=True)
    sys.stdin.read()  # keep the broker up until the parent closes stdin
    gen.broker.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
