"""``ingest_live``: the ingest daemon (``python -m mqtt2clickhouse_spark``,
default flags) as a subprocess, fed by the generator process over a
loopback MQTT broker.

Phases: warm-up (counted in ``setup_s``), a backlog of
``messages.BACKLOG`` messages published at once (the throughput sample),
then an open loop at ``messages.RATE_PER_S`` for ``--seconds`` seconds
(the latency sample).  Message → batch mapping uses only what the daemon
persists: the ``seq`` column in ``readings`` and the checkpoint's
offsets/commits logs.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time
from collections import Counter

import checkpoint as ckpt
import eventlog
import messages
from common import RssSampler, Tracer, dir_usage, geomean, percentile, tail_samples

HERE = os.path.dirname(os.path.abspath(__file__))
#: the latency limit on ``latency_p90_s``: two trigger intervals
LATENCY_LIMIT_S = 10.0
STOP_TIMEOUT_S = 60.0


def _stop_daemon(proc: subprocess.Popen, graceful: bool) -> None:
    """Kill the daemon's process group (JVM and Python workers included);
    with ``graceful``, first SIGTERM, the daemon's own clean shutdown,
    which a traced run needs to write its spans."""
    if graceful and proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _read_warehouse(warehouse: str):
    """(readings rows, dead-letter rows) as lists of dicts."""
    import pyarrow.dataset as ds

    def rows(sub: str, **kw) -> list[dict]:
        path = os.path.join(warehouse, sub)
        if not os.path.isdir(path):
            return []
        return ds.dataset(path, format="parquet", **kw).to_table().to_pylist()

    return rows("readings", partitioning="hive"), rows("_dead_letter")


def check(plan: dict, readings: list[dict], dead: list[dict]):
    """Compare the warehouse with the plan.  Returns (failed ids or
    unknown rows count, seq by message id)."""
    expect = {m.id: m.expect for phase in plan.values() for m in phase}
    seen: Counter = Counter()
    wrong: set[int] = set()
    unknown = 0
    seq_by_id: dict[int, int] = {}
    for r in readings:
        if r["value_type"] == "Float64":
            mid = int(r["value_num"])
            got = ("readings", r["table_name"], r["device"], "Float64", r["value_num"])
        else:
            mid = messages.message_id(r["value_str"] or "")
            got = ("readings", r["table_name"], r["device"], "String", r["value_str"])
        if mid not in expect:
            unknown += 1
            continue
        seen[mid] += 1
        seq_by_id[mid] = r["seq"]
        if got != expect[mid] or r["client"] != messages.CLIENT:
            wrong.add(mid)
    for r in dead:
        mid = messages.message_id(r["payload"])
        if mid not in expect:
            unknown += 1
            continue
        seen[mid] += 1
        if expect[mid] != ("dead", r["reject_reason"]):
            wrong.add(mid)
    failed = {mid for mid in expect if seen[mid] != 1} | wrong
    return len(failed) + unknown, seq_by_id


def run(ctx) -> dict:
    dirs = ctx.dirs
    env = dirs.env()
    plan = messages.plan(ctx.seed, ctx.seconds)
    checkpoint = os.path.join(dirs.warehouse, "_checkpoints")
    report_path = os.path.join(dirs.root, "generator.json")
    gen = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "generator.py"), "--seed", str(ctx.seed),
         "--seconds", str(ctx.seconds), "--checkpoint", checkpoint,
         "--report", report_path],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, env=env,
    )
    daemon = None
    try:
        port = int(gen.stdout.readline().split()[1])
        flags = ["--broker", "127.0.0.1", "--port", str(port), "--warehouse", dirs.warehouse]
        if ctx.trace:
            metrics_path = os.path.join(dirs.root, "metrics.jsonl")
            spans_path = os.path.join(dirs.root, "daemon-spans.json")
            cmd = [sys.executable, os.path.join(HERE, "traced_daemon.py"), spans_path,
                   *flags, "--metrics", metrics_path]
        else:
            cmd = [sys.executable, "-m", "mqtt2clickhouse_spark", *flags]
        with open(os.path.join(dirs.root, "daemon.log"), "w") as log:
            t_spawn = time.time()
            daemon = subprocess.Popen(cmd, env=env, cwd=dirs.repo, stdout=log,
                                      stderr=subprocess.STDOUT, start_new_session=True)
        # a daemon that dies takes the generator with it, so no deadline
        # of the generator's is waited out
        threading.Thread(target=lambda: (daemon.wait(), gen.kill()), daemon=True).start()
        rss = RssSampler(daemon.pid).start()
        if gen.stdout.readline().strip() != "done":
            raise RuntimeError("generator exited early")
        rep_ts = time.time()
        with open(report_path, encoding="utf-8") as fh:
            rep = json.load(fh)
        _stop_daemon(daemon, ctx.trace)
        t_stopped = time.time()
        peak_rss_mb = rss.stop()
    finally:
        if daemon is not None:
            _stop_daemon(daemon, graceful=False)
        gen.stdin.close()
        gen.wait()

    if "error" in rep:
        raise RuntimeError(f"generator: {rep['error']}")
    if rep["lateness_max_s"] > rep["lag_bound_s"]:
        raise RuntimeError(
            f"generator ran {rep['lateness_max_s']:.3f} s late "
            f"(bound {rep['lag_bound_s']} s)")

    batches = ckpt.committed_batches(checkpoint)
    readings, dead = _read_warehouse(dirs.warehouse)
    failed, seq_by_id = check(plan, readings, dead)

    sched = {int(k): v for k, v in rep["sched_ts"].items()}
    lat = sorted(ckpt.latencies(batches, seq_by_id, sched).values())
    n_warm = len(plan["warmup"])
    # spawn → subscribed, plus the batch holding the last warm-up message
    # from its trigger time (stamped after the source read) or, if later,
    # the warm-up's publish, to its commit.  A wait for a trigger on
    # Spark's epoch-aligned grid depends only on when set-up happened to
    # end, so it is left out.
    warm = ckpt.batch_of_seq(batches, n_warm - 1)
    warm_start = max(warm.trigger_ts, rep["warm_published_ts"])
    setup_s = (rep["subscribed_ts"] - t_spawn) + (warm.commit_ts - warm_start)
    last = ckpt.batch_of_seq(batches, n_warm + len(plan["backlog"]) - 1)
    drain_s = last.commit_ts - rep["backlog_start_ts"]
    out = {
        "attempted": rep["published"],
        "failed": failed,
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": len(plan["backlog"]) / drain_s,
            "latency_p50_s": percentile(lat, 50),
            "latency_p90_s": percentile(lat, 90),
            "latency_geomean_s": geomean(lat),
            "peak_rss_mb": peak_rss_mb,
        },
        "info": {
            "latency_samples": len(lat),
            "latency_beyond_p90": tail_samples(lat, 90),
            "latency_limit_s": LATENCY_LIMIT_S,
            "latency_p90_within_limit": percentile(lat, 90) <= LATENCY_LIMIT_S,
            "generator_lateness_max_s": rep["lateness_max_s"],
            "generator_lateness_mean_s": rep["lateness_mean_s"],
            "generator_lag_bound_s": rep["lag_bound_s"],
            "batches": [
                [b.id, b.end_seq - b.start_seq, round(b.trigger_ts - rep["open_loop_start_ts"], 3),
                 round(b.commit_ts - b.trigger_ts, 3)] for b in batches],
            "broker_sessions": rep["sessions"],
            "spawn_to_subscribe_s": rep["subscribed_ts"] - t_spawn,
            "warm_batch": warm.id,
            "warm_trigger_minus_publish_s": warm.trigger_ts - rep["warm_published_ts"],
            "spawn_to_warm_commit_s": warm.commit_ts - t_spawn,
            "open_loop_start_after_spawn_s": rep["open_loop_start_ts"] - t_spawn,
            "backlog_drain_s": drain_s,
            "daemon_stop_s": t_stopped - rep_ts,
        },
    }
    if ctx.trace:
        out["layers"] = layers(ctx, rep, plan, batches, readings, dead, metrics_path,
                               spans_path)
        probe, readback = read_back(ctx, readings)
        out["layers"].update(readback)
        out["conditions"] = {"spark_probe_s": probe}
    return out


def read_back(ctx, readings: list[dict]) -> tuple[float, dict]:
    """Traced runs only: ``DemuxSink.read_table`` on the hottest, the
    median and the coldest sensor of the run's warehouse, in a Spark
    session of the benchmark's own (the daemon has exited), plus the
    Spark calibration probe."""
    from common import spark_probe_s, stop_spark
    from mqtt2clickhouse_spark.ingest.sink import DemuxSink
    from mqtt2clickhouse_spark.session import get_spark

    by_rows = [t for t, _ in Counter(r["table_name"] for r in readings).most_common()]
    picks = [by_rows[0], by_rows[len(by_rows) // 2], by_rows[-1]]
    tracer = Tracer()
    spark = get_spark("perfbench-readback")
    try:
        spark.sparkContext.setJobGroup("readback", "read_table")
        sink = DemuxSink(spark, ctx.dirs.warehouse)
        for t in picks:
            with tracer.span("sink.read_table", table=t):
                sink.read_table(t).count()
        probe = spark_probe_s(spark)
    finally:
        stop_spark(spark)
    jobs = eventlog.load(ctx.dirs.events)
    spans = tracer.named("sink.read_table")
    n_jobs = sum(len(eventlog.in_window(jobs, s["start"], s["end"])) for s in spans)
    return probe, {
        "sink.read_table_s": sum(s["end"] - s["start"] for s in spans),
        # every read_table lists the table's partitions again; jobs beyond
        # the one count() each are listing or schema jobs
        "sink.readback_listing_jobs": n_jobs - len(spans),
    }


def _median(xs):
    return percentile(xs, 50) if xs else 0.0


def layers(ctx, rep, plan, batches, readings, dead, metrics_path, spans_path) -> dict:
    """Per-layer figures of a traced run."""
    n_warm = len(plan["warmup"])
    end_backlog = n_warm + len(plan["backlog"])
    measured = [b for b in batches if b.end_seq > n_warm]
    backlog_ids = {b.id for b in measured if b.start_seq < end_backlog}

    progress = {}
    with open(metrics_path, encoding="utf-8") as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("event") == "progress":
                progress[r["batchId"]] = r
    # the open-loop batches, which hold the latency sample; backlog batches
    # fill the reader's row cap at once and skip its fill deadline
    mp = [progress[b.id] for b in measured if b.id in progress and b.id not in backlog_ids]

    def dur(key):
        return _median([p["durationMs"].get(key, 0) for p in mp])

    with open(spans_path, encoding="utf-8") as fh:
        spans = json.load(fh)
    measured_ids = {b.id for b in measured}

    def named(name, measured_only=True):
        return [s for s in spans if s["name"] == name
                and (not measured_only or s["batch"] in measured_ids)]

    parse_spans = named("parse.parse_messages_single")
    write_spans = named("sink.write_batch")
    session = named("session.get_spark", measured_only=False)

    jobs = eventlog.load(ctx.dirs.events)
    daemon_jobs = [j for j in jobs if j.batch_id is not None]
    by_batch: dict[int, list] = {}
    for j in daemon_jobs:
        by_batch.setdefault(j.batch_id, []).append(j)
    per_batch = [by_batch.get(i, []) for i in sorted(measured_ids)]
    parse_jobs = [j for s in parse_spans for j in eventlog.in_window(jobs, s["start"], s["end"])]

    idle = [
        (nxt.planned_ts - cur.commit_ts) * 1000.0
        for cur, nxt in zip(measured, measured[1:])
    ]
    reasons = Counter(r["reject_reason"] for r in dead)
    n_rows = len(readings)
    nbytes, files, _ = dir_usage(os.path.join(ctx.dirs.warehouse, "readings"), ".parquet")
    _, dfiles, _ = dir_usage(os.path.join(ctx.dirs.warehouse, "_dead_letter"), ".parquet")
    data_batches = max(1, len(batches))
    out = {
        "session.start_s": session[0]["end"] - session[0]["start"],
        "mqtt_wire.puback_ratio": rep["pubacks"] / max(1, rep["qos1_sends"]),
        "generator.lag_s": rep["lateness_max_s"],
        "broker.backlog_max": rep["backlog_max"],
        "mqtt_source.rows_per_batch": _median(
            [progress[i]["numInputRows"] for i in backlog_ids if i in progress]),
        "mqtt_source.read_ms": dur("latestOffset"),
        "sink.add_batch_ms": dur("addBatch"),
        "pipeline.trigger_ms": dur("triggerExecution"),
        "pipeline.plan_ms": dur("queryPlanning"),
        "pipeline.log_ms": _median([p["durationMs"].get("walCommit", 0)
                                    + p["durationMs"].get("commitOffsets", 0) for p in mp]),
        "pipeline.idle_ms": _median(idle),
        "sink.jobs_per_batch": _median([len(js) for js in per_batch]),
        "sink.executor_run_ms_per_batch": _median(
            [sum(j.executor_run_s for j in js) * 1000.0 for js in per_batch]),
        "sink.shuffle_bytes": _median(
            [sum(j.shuffle_write_bytes for j in js) for js in per_batch]),
        "sink.write_batch_s": _median([s["end"] - s["start"] for s in write_spans]),
        "sink.files_per_batch": (files + dfiles) / data_batches,
        "sink.bytes_per_row": nbytes / max(1, n_rows),
        "sink.new_tables": sum(s["new_tables"] for s in named("sink.write_batch", False)),
        "sink.dead_letter_rows": len(dead),
        "parse.busy_s": sum(s["end"] - s["start"] for s in parse_spans),
        "parse.jobs": len(parse_jobs),
    }
    for reason in messages.REJECT_REASONS:
        out[f"parse.rows_rejected.{reason}"] = reasons.get(reason, 0)
    return out

