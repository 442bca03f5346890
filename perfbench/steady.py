"""Run the benchmark on several seeds and report each metric's median and
quartile spread (IQR / median), the statistic BENCHMARK.json's bounds are
judged against.

    python3 perfbench/steady.py --workload neardup_index --seeds 101-110 [--trace 0]

Runs are sequential, one process each; every run counts (no retries, no
best-of). Results are appended as JSON lines to ``.perfbench/steady.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,9")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--seconds", type=int)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        diag = next((ln for ln in lines if ln.startswith("diag ")), "")
        runs.append(res)
        with open(os.path.join(ROOT, ".perfbench", "steady.jsonl"), "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                "wall_s": wall, "diag": diag, **res}) + "\n")
        vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
        print(f"seed {seed} wall {wall:.0f}s correct={res['correct']} {vals} | {diag}", flush=True)
    if len(runs) < 2:
        return 0
    print(f"{'metric':40s} {'median':>12s} {'IQR/med':>8s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        med, sp = spread([r["metrics"][name]["value"] for r in runs])
        b = bounds.get(name)
        flag = "" if b is None else ("ok" if sp < b / 3 else "WIDE")
        print(f"{name:40s} {med:12.6g} {sp:8.3f} {b if b is not None else '':>6} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
