"""One benchmark run in a fresh driver process; started by ``run.py``,
which owns the scratch directory and the process group.

Prints a human-readable summary line, then (last) the result line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)  # the program, after perfbench/

from harness import Harness  # noqa: E402


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--start", type=float, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    steal0 = _steal_s()
    h = Harness(seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
                scratch=args.scratch, started=args.start)
    workload = importlib.import_module(args.workload).Workload(h)
    h.set_up(workload.generate, workload.warm_up)
    h.info["passes"] = h.run_passes(workload.one_pass, workload.MIN_PASSES)
    try:
        workload.check()
    except Exception:
        traceback.print_exc(file=sys.stderr)
        h.wrong("check", "the output checks raised")
    e2e = h.end_to_end()
    layers = h.per_layer(workload.stage_cache_events()) if h.trace else {}

    summary = {
        "workload": args.workload,
        **h.environment(),
        **h.info,
        "failed_frac": h.failed / max(h.attempted, 1),
        "cpu_steal_s": round(_steal_s() - steal0, 2),
        "problems": h.problems,
        "setup_rounds_s": [round(x, 4) for x in h.setup_rounds_s],
        "warmup_s": round(h.warmup_s, 4),
        "end_to_end": {k: round(v, 4) for k, v in e2e.items()},
        "legs_s": {leg: [round(s.seconds, 3) for s in h.pass_spans("bench", leg)]
                   for leg in ("ingest", "query")},
        "spans": h.span_table(),
    }
    print("perfbench summary " + json.dumps(summary), flush=True)
    named = {workload.LEG_NAMES.get(k.removesuffix("_s"), k): (v, units[k])
             for k, v in e2e.items()}
    named["failed_frac"] = (summary["failed_frac"], "ratio")
    print(f"perfbench {args.workload}: " + " ".join(
        f"{k}={v:.4f} {u}" for k, (v, u) in named.items()), flush=True)
    h.spark.stop()

    chosen = spec["per_layer"] if h.trace else spec["end_to_end"]
    values = layers if h.trace else e2e
    result = {
        "correct": not h.problems and h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in chosen},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
