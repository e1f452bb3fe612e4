"""Benchmark entry point.

    python3 perfbench/run.py --workload build_zipf --seed 1 --seconds 40 --trace 0

It may be started from any directory. Prints a human-readable report line and,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

# Workload names and the per-layer metrics (the order the traced run
# prints them; a layer a workload does not exercise reads 0 there).
with open(os.path.join(common.ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
WORKLOADS = [w["name"] for w in _SPEC["workloads"]]
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    common.pin_environment()
    if args.workload.startswith("build_"):
        from perfbench import builds as mod
    else:
        from perfbench import serve as mod
    res = mod.run(args.workload, args.seed, args.seconds, bool(args.trace))

    gates = res["gates"]
    # the untraced figures of the latest untraced run, with the seed and
    # source they were measured with; a traced run of the same seed and
    # source reports its own figures minus those (one run against one run)
    untraced_path = os.path.join(common.WORK, f"e2e_{args.workload}.json")
    key = {"seed": args.seed, "source": common.source_digest()}
    report = dict(res["report"])
    if args.trace:
        metrics = {k: common.metric(res["layer"].get(k, 0.0), u) for k, u in PER_LAYER.items()}
        base = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                base = json.load(f)
        if base is not None and base.get("key") == key:
            report["trace_overhead"] = {
                k: v["value"] - base["metrics"][k]["value"] for k, v in res["e2e"].items()
            }
        else:
            report["trace_overhead"] = "no untraced run of this seed and source"
    else:
        metrics = res["e2e"]
        with open(untraced_path, "w") as f:
            json.dump({"key": key, "metrics": metrics}, f)
    report["attempted"] = gates.attempted
    report["failed_ops_ratio"] = gates.failed / max(gates.attempted, 1)
    print("report " + json.dumps(report), flush=True)
    print(
        json.dumps(
            {
                "correct": gates.failed == 0,
                "attempted": gates.attempted,
                "failed": gates.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
