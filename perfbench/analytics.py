"""``analytics``: a fixed list of registered queries at the product's
default scale factor (sf0.1), each run once per run with every store of
``ops/store.py`` cold (the run's private temp dir starts empty), after
a warm-up set that shares no stores with the list.

The list is the ROADMAP's store-backed and job-count-bound targets;
each result is collected inside its timed window (all are small), so
the output check against the DuckDB oracle hashes needs no second
execution.
"""

from __future__ import annotations

import os
import time

import eventlog
import oracle
from common import (
    RssSampler,
    Tracer,
    dir_usage,
    geomean,
    interval_union,
    percentile,
    spark_probe_s,
    stop_spark,
)

#: warms the JVM's code generation and the scan path before the timed
#: list; it shares no store with the list
WARMUP = ["filter_project"]
QUERY_LIST = [
    "pagerank",
    "hits_ranking",
    "label_propagation",
    "triangle_count",
    "dedup_jaccard",
    "dedup_minhash_pairs",
    "negative_sampling",
    "similarity_ann_kmeans",
    "bpe_encode",
    "bucketed_join",
]


def _module(spec) -> str:
    return spec.spark_fn.__wrapped__.__module__.rsplit(".", 1)[-1]


def run(ctx) -> dict:
    from mqtt2clickhouse_spark.queries import QUERIES
    from mqtt2clickhouse_spark.session import get_spark
    from mqtt2clickhouse_spark.tables import DEFAULT_SF_DIR

    rss = RssSampler(os.getpid()).start()
    tracer = Tracer()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench-analytics")
    try:
        sc = spark.sparkContext
        warm_s = {}
        for name in WARMUP:
            sc.setJobGroup(f"warmup.{name}", name)
            t0 = time.time()
            QUERIES[name].spark_fn(spark, DEFAULT_SF_DIR).write.format("noop").mode(
                "overwrite").save()
            warm_s[name] = time.time() - t0
        setup_s = time.time() - ctx.process_start

        expected = oracle.load()
        walls, results, errors = {}, {}, {}
        t_pass = time.time()
        for name in QUERY_LIST:
            sc.setJobGroup(name, name)
            with tracer.span("queries." + name, module=_module(QUERIES[name])) as sp:
                try:
                    df = QUERIES[name].spark_fn(spark, DEFAULT_SF_DIR)
                    sp.rec["built"] = time.time()
                    results[name] = df.toPandas()
                except Exception as exc:  # noqa: BLE001 - a failing query is a counted failure
                    errors[name] = repr(exc)
            walls[name] = sp.rec["end"] - sp.rec["start"]
        pass_s = time.time() - t_pass
        sc.setJobGroup("probe", "calibration")
        store_bytes, _, store_dirs = dir_usage(os.environ["TMPDIR"])
        probe = spark_probe_s(spark)
    finally:
        peak_rss_mb = rss.stop()
        stop_spark(spark)

    mismatched = sorted(
        n for n, pdf in results.items() if oracle.digest(pdf) != expected[n]
    )
    lat = list(walls.values())
    out = {
        "attempted": len(QUERY_LIST),
        "failed": len(errors) + len(mismatched),
        "metrics": {
            "setup_s": setup_s,
            "throughput_per_s": len(QUERY_LIST) / pass_s,
            "latency_p50_s": percentile(lat, 50),
            "latency_p90_s": percentile(lat, 90),
            "latency_geomean_s": geomean(lat),
            "peak_rss_mb": peak_rss_mb,
        },
        "info": {
            "sf_dir": DEFAULT_SF_DIR,
            "query_s": walls,
            "warmup_s": warm_s,
            "timed_pass_s": pass_s,
            "errors": errors,
            "mismatched": mismatched,
        },
        "conditions": {"spark_probe_s": probe},
    }
    if ctx.trace:
        out["layers"] = layers(ctx, tracer, store_bytes, store_dirs)
    return out


def layers(ctx, tracer: Tracer, store_bytes: int, store_dirs: int) -> dict:
    jobs = eventlog.load(ctx.dirs.events)
    per: dict[str, dict] = {}
    for sp in tracer.spans:
        if not sp["name"].startswith("queries."):
            continue
        js = eventlog.in_window(jobs, sp["start"], sp["end"])
        covered = interval_union(
            (max(j.submit, sp["start"]), min(j.end or sp["end"], sp["end"])) for j in js
        )
        wall = sp["end"] - sp["start"]
        fig = {
            "jobs": len(js),
            "plan_build_s": sp.get("built", sp["end"]) - sp["start"],
            "driver_outside_jobs_s": wall - covered,
            "executor_run_s": sum(j.executor_run_s for j in js),
            "gc_s": sum(j.gc_s for j in js),
            "shuffle_bytes": sum(j.shuffle_write_bytes for j in js),
        }
        for key in ("mix", sp["module"]):
            acc = per.setdefault(key, dict.fromkeys(fig, 0))
            for k, v in fig.items():
                acc[k] += v
    out = {f"{m}.{k}": v for m, fig in per.items() for k, v in fig.items()}
    session = tracer.named("session.get_spark")[0]
    out["session.start_s"] = session["end"] - session["start"]
    out["ops.store_bytes"] = store_bytes
    out["ops.store_dirs"] = store_dirs
    return out
