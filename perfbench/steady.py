"""Steadiness check: run one workload on several seeds and report, per
metric, the median and the quartile spread as a share of the median,
against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload extract_kg --seeds 1-10

Spread is ``(Q3 - Q1) / median`` over the per-run values, with the
quartiles of ``statistics.quantiles(values, n=4)``. The check passes
(exit 0) when every metric's spread is below its bound; whether it is
also below a third of the bound, the target for a comfortable margin, is
reported per metric. Results are also written to
``perfbench/out/steady-<workload>-<first>-<last>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import benchlib as B  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seeds = _seeds(args.seeds)
    runs, details = [], []
    for seed in seeds:
        cmd = spec["command"] + ["--workload", args.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]),
                                 "--trace", "0"]
        t = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True, timeout=600)
        took = time.monotonic() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        details.append(json.loads(lines[-2])["detail"])
        missing = sorted(set(bounds) - set(res["metrics"]))
        if missing or not res["correct"]:
            print(f"seed {seed}: correct={res['correct']} missing={missing}",
                  file=sys.stderr)
            return 1
        runs.append({k: v["value"] for k, v in res["metrics"].items()})
        print(f"seed {seed} ({took:.0f} s): " + " ".join(
            f"{k}={runs[-1][k]:.4g}" for k in bounds), flush=True)

    report = {}
    ok = True
    for name, bound in bounds.items():
        vals = [r[name] for r in runs]
        med = B.median(vals)
        spread = B.iqr_share(vals) if len(vals) > 1 and med else 0.0
        within = spread < bound
        ok &= within
        report[name] = {"median": med, "spread": spread, "bound": bound,
                        "within_bound": within, "within_third": spread < bound / 3,
                        "values": vals}
        print(f"{name:28s} median={med:<12.5g} spread={spread:.4f} "
              f"bound={bound} {'ok' if within else 'WIDE'}"
              f"{' (under a third)' if spread < bound / 3 else ''}")
    out = os.path.join(HERE, "out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"steady-{args.workload}-{seeds[0]}-{seeds[-1]}"
                                ".json"), "w") as f:
        json.dump({"metrics": report, "details": details}, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
