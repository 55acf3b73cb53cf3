#!/usr/bin/env python3
"""Steadiness check: run the benchmark once per seed and report, per
workload and end-to-end metric, the median, the quartiles and the spread
(interquartile distance over the median), against the bounds in
``BENCHMARK.json``.

    python3 cdcbench/steady.py --seeds 1-10 --out cdcbench/results/set_a.json
    python3 cdcbench/steady.py --compare cdcbench/results/set_a.json cdcbench/results/set_b.json

Run from the root of the repository. Runs are sequential, one process
each, exactly as ``BENCHMARK.json``'s command gives them.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from statistics import median, quantiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_set(workloads: list[str], seeds: list[int], seconds: int, trace: int) -> dict:
    bench = _bench()
    runs: dict[str, list[dict]] = {w: [] for w in workloads}
    for w in workloads:
        for seed in seeds:
            cmd = bench["command"] + ["--workload", w, "--seed", str(seed),
                                      "--seconds", str(seconds), "--trace", str(trace)]
            t0 = time.monotonic()
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                runs[w].append({"seed": seed, "wall_s": wall, "error": p.returncode})
                continue
            res = json.loads(lines[-1])
            res.update(seed=seed, wall_s=wall)
            if len(lines) > 1 and lines[-2].startswith('{"detail"'):
                res["detail"] = json.loads(lines[-2])["detail"]
            runs[w].append(res)
            print(f"{w} seed {seed}: {wall:.1f}s correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}", file=sys.stderr, flush=True)
    return {"seconds": seconds, "trace": trace, "seeds": seeds, "runs": runs}


def summarize(result: dict) -> dict:
    bounds = {m["name"]: m.get("bound") for m in _bench()["end_to_end"]}
    out: dict = {}
    for w, runs in result["runs"].items():
        ok = [r for r in runs if "metrics" in r]
        out[w] = {"runs": len(runs), "ok": len(ok),
                  "all_correct": all(r["correct"] for r in ok) and len(ok) == len(runs),
                  "max_wall_s": max(r["wall_s"] for r in runs), "metrics": {}}
        names = sorted({k for r in ok for k in r["metrics"]})
        for name in names:
            vals = [r["metrics"][name]["value"] for r in ok if name in r["metrics"]]
            med = median(vals)
            q1, _, q3 = quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            out[w]["metrics"][name] = {
                "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else float("inf"),
                "bound": bounds.get(name), "n": len(vals),
            }
    return out


def table(summary: dict) -> str:
    lines = ["| workload | metric | median | q1 | q3 | spread | bound |",
             "|---|---|---|---|---|---|---|"]
    for w, s in summary.items():
        for name, m in s["metrics"].items():
            lines.append(f"| {w} | {name} | {m['median']:.4g} | {m['q1']:.4g} | "
                         f"{m['q3']:.4g} | {m['spread']:.3f} | {m['bound']} |")
    return "\n".join(lines)


def compare(a: dict, b: dict) -> str:
    """Second set's median against the first's, as a share of the first,
    signed so that positive is worse."""
    better = {m["name"]: m["better"] for m in _bench()["end_to_end"]}
    lines = ["| workload | metric | median A | median B | worse by | bound |",
             "|---|---|---|---|---|---|"]
    sa, sb = summarize(a), summarize(b)
    for w in sa:
        for name, ma in sa[w]["metrics"].items():
            mb = sb.get(w, {}).get("metrics", {}).get(name)
            if mb is None:
                continue
            shift = (mb["median"] - ma["median"]) / ma["median"]
            if better.get(name) == "higher":
                shift = -shift
            lines.append(f"| {w} | {name} | {ma['median']:.4g} | {mb['median']:.4g} | "
                         f"{shift:+.3f} | {ma['bound']} |")
    return "\n".join(lines)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2)
    args = ap.parse_args()
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            print(compare(json.load(fa), json.load(fb)))
        return 0
    bench = _bench()
    workloads = [w for w in args.workloads.split(",") if w] or [w["name"] for w in bench["workloads"]]
    result = run_set(workloads, _seeds(args.seeds), args.seconds or bench["run_seconds"], args.trace)
    result["summary"] = summarize(result)
    if args.out:
        os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
        with open(args.out, "w") as f:
            json.dump(result, f, indent=1)
    print(table(result["summary"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
