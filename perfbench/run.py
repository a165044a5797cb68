"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_live,analytics} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Each run gets a private directory
tree under ``.perfbench-work/`` (temp dir, warehouse, Spark local dirs,
event log) that is removed afterwards.  The outputs are checked before
anything is reported; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``).
Lines before it stamp the run conditions and, for a traced run, the
tracing overhead against earlier untraced runs of the same code.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import common  # noqa: E402

WORKLOADS = ("ingest_live", "analytics")
HISTORY_KEEP = 50


class Context:
    def __init__(self, args, dirs) -> None:
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.dirs = dirs
        self.process_start = PROCESS_START


def _declared(section: str) -> dict[str, str]:
    """Metric name → unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _report(values: dict[str, float], section: str) -> dict:
    """Every metric of ``section`` with its unit.  A per-layer metric of a
    layer this workload does not exercise reads 0: no work, no time."""
    declared = _declared(section)
    unknown = sorted(set(values) - set(declared))
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json {section}: {unknown}")
    if section == "end_to_end" and set(values) != set(declared):
        raise KeyError(f"end-to-end metrics not measured: {sorted(set(declared) - set(values))}")
    return {n: {"value": values.get(n, 0), "unit": u} for n, u in declared.items()}


#: what a run's figures depend on: the product, the test broker the
#: generator hosts, and the benchmark itself
CODE_DIRS = ("mqtt2clickhouse_spark", "tests", "perfbench")


def code_digest(root: str = ROOT) -> str:
    """A hash of every file under ``CODE_DIRS``, so that untraced runs
    of one tree are never compared with traced runs of another."""
    h = hashlib.sha256()
    for top in CODE_DIRS:
        for dirpath, dirnames, filenames in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(filenames):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, root).encode() + b"\0")
                with open(path, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _history_path(workload: str) -> str:
    return os.path.join(ROOT, ".perfbench-work",
                        f"history-{workload}-{code_digest()}.jsonl")


def _overhead(workload: str, traced: dict) -> dict | None:
    """Traced minus the median of the untraced runs of the same code."""
    try:
        with open(_history_path(workload), encoding="utf-8") as fh:
            hist = [json.loads(line) for line in fh]
    except FileNotFoundError:
        return None
    out = {}
    for name, value in traced.items():
        vals = [h[name] for h in hist if name in h]
        if vals:
            base = common.percentile(vals, 50)
            out[name] = {"traced": value, "untraced_median": base,
                         "overhead": value - base, "runs": len(vals)}
    return out


def _remember(workload: str, metrics: dict) -> None:
    path = _history_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()[-(HISTORY_KEEP - 1):]
    except FileNotFoundError:
        lines = []
    lines.append(json.dumps(metrics))
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("mqtt2clickhouse_spark", "tests"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found next to perfbench/; "
                  "run from a full checkout", file=sys.stderr)
            return 2
    if args.seconds < 5 or args.seconds % 5:
        print("perfbench: --seconds must be a positive multiple of 5 "
              "(whole trigger intervals)", file=sys.stderr)
        return 2

    shared_tmp = tempfile.gettempdir()
    shared_before = set(os.listdir(shared_tmp))
    dirs = common.RunDirs(ROOT, args.workload, bool(args.trace))
    # everything below, this process's Spark and every child, uses the
    # private tree; tempfile caches its answer, so reset it
    os.environ.update(dirs.env())
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)

    conditions = {"loadavg_start": common.loadavg()}
    steal_start = common.cpu_steal_s()
    try:
        if args.workload == "ingest_live":
            import live as workload
        else:
            import analytics as workload
        res = workload.run(Context(args, dirs))
    finally:
        dirs.close()
    leaked = common.leaked_stores(shared_tmp, shared_before)
    if leaked:
        print(f"perfbench: run left stores in {shared_tmp}: {leaked}", file=sys.stderr)
        return 1

    conditions["loadavg_end"] = common.loadavg()
    conditions["cpu_steal_s"] = common.cpu_steal_s() - steal_start
    conditions["cpu_probe_s"] = common.cpu_probe_s()
    conditions.update(res.pop("conditions", {}))
    print("conditions " + json.dumps(conditions))
    print("info " + json.dumps(res.get("info", {})))
    if args.trace:
        overhead = _overhead(args.workload, res["metrics"])
        print("tracing_overhead " + json.dumps(
            overhead or "no untraced runs of this workload on this code yet"))
        layers = dict(res["layers"])
        layers.update({f"traced.{k}": v for k, v in res["metrics"].items()})
        metrics = _report(layers, "per_layer")
    else:
        _remember(args.workload, res["metrics"])
        metrics = _report(res["metrics"], "end_to_end")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
