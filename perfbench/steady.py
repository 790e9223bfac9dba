"""Steadiness check: run every workload on several seeds and report, per
end-to-end metric, the median and the spread (inter-quartile distance as
a share of the median, from ``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/set1.json
    python3 perfbench/steady.py --summarize perfbench/results/set1.json perfbench/results/set2.json

Run from the root of a checkout. Each run is a separate process, exactly
as ``BENCHMARK.json``'s command runs it.
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


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def measure(seeds: list[int], workloads: list[str] | None) -> dict:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = workloads or [w["name"] for w in bench["workloads"]]
    runs = []
    for wl in names:
        for seed in seeds:
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", "0",
            ]
            t0 = time.time()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
            runs.append({
                "workload": wl, "seed": seed, "rc": p.returncode,
                "wall_s": round(time.time() - t0, 2), "result": json.loads(last),
            })
            print(wl, seed, p.returncode, last, flush=True)
    return {"run_seconds": bench["run_seconds"], "runs": runs}


def spreads(data: dict) -> dict[str, dict[str, dict[str, float]]]:
    out: dict[str, dict[str, dict[str, float]]] = {}
    by_wl: dict[str, list[dict]] = {}
    for r in data["runs"]:
        by_wl.setdefault(r["workload"], []).append(r)
    for wl, runs in by_wl.items():
        values = [
            {**{m: v["value"] for m, v in r["result"]["metrics"].items()}, "wall_s": r["wall_s"]}
            for r in runs
        ]
        out[wl] = {}
        for m in values[0]:
            vals = [v[m] for v in values]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            out[wl][m] = {"median": med, "spread": (q3 - q1) / med if med else 0.0}
    return out


def summarize(paths: list[str]) -> str:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sets = [spreads(json.load(open(p))) for p in paths]
    lines = ["| workload | metric | bound | " + " | ".join(
        f"set {i + 1} median | set {i + 1} spread" for i in range(len(sets))
    ) + (" | median change |" if len(sets) == 2 else " |")]
    lines.append("|" + "---|" * (3 + 2 * len(sets) + (len(sets) == 2)))
    for wl in sets[0]:
        for m in sets[0][wl]:
            cells = []
            for s in sets:
                cells += [f"{s[wl][m]['median']:.4g}", f"{s[wl][m]['spread']:.3f}"]
            row = f"| {wl} | {m} | {bounds.get(m, '')} | " + " | ".join(cells)
            if len(sets) == 2:
                a, b = sets[0][wl][m]["median"], sets[1][wl][m]["median"]
                row += f" | {(b - a) / a:+.3f}" if a else " | "
            lines.append(row + " |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--out")
    ap.add_argument("--summarize", nargs="+")
    args = ap.parse_args()
    if args.summarize:
        print(summarize(args.summarize))
        return 0
    data = measure(_seeds(args.seeds), args.workload)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(data, f, indent=1)
    for wl, ms in spreads(data).items():
        for m, v in ms.items():
            print(f"{wl} {m}: median={v['median']:.6g} spread={v['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
