"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload>... [--seeds 1-10] [--trace 0]

Runs ``run.py`` once per seed for each workload, one run at a time,
with BENCHMARK.json's ``run_seconds``, and prints for each metric the
median, the quartiles and the quartile spread as a share of the
median (``statistics.quantiles(values, n=4)``), next to the metric's
bound. Each run's result line is appended to
``.perfbench_out/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench_out", "spread.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    for wl in args.workloads:
        values: dict[str, list[float]] = {}
        for seed in _seeds(args.seeds):
            cmd = spec["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]),
                "--trace", str(args.trace)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(log, "a") as fh:
                fh.write(json.dumps({"workload": wl, "seed": seed,
                                     **result}) + "\n")
            print(f"{wl} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} " +
                  " ".join(f"{k}={v['value']:.4g}"
                           for k, v in result["metrics"].items()), flush=True)
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"{wl} {k}: median {med:.4g} q1 {q1:.4g} q3 {q3:.4g} "
                  f"spread {(q3 - q1) / med:.3f} bound {bounds.get(k)} "
                  f"(n={len(vs)})", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
