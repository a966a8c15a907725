"""Measure a baseline: every workload untraced once per seed, plus one
traced run of the first seed, then one JSON document. The document holds
the per-metric median and spread, the BASELINE.md verdicts, the traced
run's per-layer self time, and the tracing overhead.

    python3 perfbench/baseline.py --seconds 4 --seeds 1 2 3 4 5 6 7 8 9 10 \\
        > perfbench/baseline_4core.json

Run from the repository root. It takes about one minute per run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}: {out.stderr[-2000:]}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(
        ROOT, ".perfbench_out", f"result-{workload}-{seed}-trace{trace}.json"
    )) as f:
        return {"line": line, "result": json.load(f)}


def _spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else None}


def _self_time_table(result: dict) -> dict:
    """Self time per layer and its share of the measured wall time."""
    own, wall = result["notes"]["self_time_s"], result["notes"]["measured_wall_s"]
    layers: dict[str, float] = {}
    for name, secs in own.items():
        layer = name.split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + secs
    return {
        "measured_wall_s": wall,
        "layers": {k: {"self_s": v, "share": v / wall} for k, v in
                   sorted(layers.items(), key=lambda kv: -kv[1])},
        "named_layer_share": result["layers"]["trace.span_coverage"],
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--workloads", nargs="+", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = args.workloads or [w["name"] for w in spec["workloads"]]

    doc = {"seconds": args.seconds, "seeds": args.seeds, "workloads": {}}
    for w in names:
        runs = [_run(w, s, args.seconds, 0) for s in args.seeds]
        traced = _run(w, args.seeds[0], args.seconds, 1)
        metrics = runs[0]["line"]["metrics"]
        first = runs[0]["result"]
        entry = {
            "correct": all(r["line"]["correct"] for r in runs + [traced]),
            "attempted": sum(r["line"]["attempted"] for r in runs),
            "failed": sum(r["line"]["failed"] for r in runs),
            "end_to_end": {
                m: {"unit": metrics[m]["unit"],
                    **_spread([r["line"]["metrics"][m]["value"] for r in runs]),
                    "values": [r["line"]["metrics"][m]["value"] for r in runs]}
                for m in metrics
            },
            "tracing_overhead": {
                m: traced["result"]["e2e"][m] - first["e2e"][m] for m in first["e2e"]
            },
            "per_layer_traced": traced["line"]["metrics"],
            "self_time": _self_time_table(traced["result"]),
            "notes_first_seed": first["notes"],
        }
        if "verdict" in first["notes"]:
            verdicts = [r["result"]["notes"]["verdict"] for r in runs]
            entry["verdict"] = {
                k: {"result": "pass" if all(v[k] == "pass" for v in verdicts) else "fail",
                    "runs_passing": sum(v[k] == "pass" for v in verdicts),
                    "runs": len(verdicts)}
                for k in verdicts[0]
            }
        doc["workloads"][w] = entry
        doc["machine"] = first["notes"]["machine"]
        doc["cores"] = first["notes"]["cores"]
        doc["git"] = first["notes"]["git"]
    json.dump(doc, sys.stdout, indent=1)
    print()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
