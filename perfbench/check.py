"""The benchmark's own checks.

    python3 perfbench/check.py smoke
        one short untraced and one traced run per workload; asserts that
        every metric of BENCHMARK.json is in the result line with its
        unit, that the report above it prints those and every other
        end-to-end metric by name and unit, and that every output was
        correct.

    python3 perfbench/check.py repeat [--workloads W,..] [--seeds 1-10] [--sets 1]
        runs each workload once per seed (``--sets 2`` does the whole
        sweep twice) and prints, per end-to-end metric, the spread
        between the first and third quartile as a share of the median,
        against the metric's bound; with two sets, also how far the
        second median moved from the first. Exits 1 when a spread (other
        than setup_s's) or a median move exceeds its bound.

Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time

from run import E2E_UNITS

BENCH = "BENCHMARK.json"
#: end-to-end metrics only the export workload has
EXPORT_ONLY = ("docs_per_s", "bytes_out_per_doc")


def load_bench() -> dict:
    with open(BENCH) as fh:
        return json.load(fh)


def run_once(bench: dict, workload: str, seed: int, seconds, trace: int) -> tuple[dict, str, float]:
    cmd = [sys.executable, *bench["command"][1:], "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), "\n".join(lines[:-1]), time.time() - t


def smoke(bench: dict) -> int:
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res, text, elapsed = run_once(bench, w, 1, 1, trace)
            want = {m["name"]: m["unit"] for m in bench[key]}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w}/trace{trace}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed"):
                problems.append(f"{w}/trace{trace}: outputs not correct ({res.get('failed')} failed)")
            got = res.get("metrics", {})
            for name, unit in want.items():
                m = got.get(name)
                if m is None or m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
                    problems.append(f"{w}/trace{trace}: metric {name} [{unit}] missing or malformed: {m}")
            # the report prints every end-to-end metric, gated or not
            printed = dict(want)
            if trace == 0:
                printed.update({k: u for k, u in E2E_UNITS.items()
                                if w == "export" or k not in EXPORT_ONLY})
            for name, unit in printed.items():
                if not any(line.startswith(f"{name} = ") and line.split("  (")[0].endswith(f" {unit}")
                           for line in text.splitlines()):
                    problems.append(f"{w}/trace{trace}: report line for {name} [{unit}] missing")
            extra = set(got) - set(want)
            if extra:
                problems.append(f"{w}/trace{trace}: unexpected metrics {sorted(extra)}")
            print(f"smoke {w} trace={trace}: {len(got)} metrics, {res['attempted']} ops, "
                  f"{elapsed:.0f}s", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def repeat(bench: dict, workloads: list[str], seeds: list[int], sets: int) -> int:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    bad = 0
    for w in workloads:
        runs: list[list[dict]] = []
        elapsed = []
        for s in range(sets):
            runs.append([])
            for seed in seeds:
                res, _, took = run_once(bench, w, seed, bench["run_seconds"], 0)
                runs[-1].append(res)
                elapsed.append(took)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
                print(f"{w} set{s + 1} seed{seed}: {vals} correct={res['correct']} "
                      f"({took:.0f}s)", flush=True)
        for name, bound in bounds.items():
            cols = [[r["metrics"][name]["value"] for r in rs] for rs in runs]
            sp = [spread(c) for c in cols]
            meds = [statistics.median(c) for c in cols]
            line = (f"{w:10s} {name:12s} bound {bound:.3f}  spread "
                    + " ".join(f"{x:.3f}" for x in sp)
                    + f"  (bound/3 = {bound / 3:.3f})  median " + " ".join(f"{m:.4g}" for m in meds))
            fail = name != "setup_s" and any(x > bound for x in sp)
            if len(meds) == 2:
                move = (meds[1] - meds[0]) / meds[0]
                line += f"  second-vs-first {move:+.3f}"
                fail = fail or move > bound
            bad += fail
            print(("FAIL " if fail else "ok   ") + line, flush=True)
        print(f"{w}: run seconds median {statistics.median(elapsed):.1f} max {max(elapsed):.1f}")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=("smoke", "repeat"))
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seeds", default="1-10", help="range a-b or comma list")
    ap.add_argument("--sets", type=int, default=1)
    a = ap.parse_args()
    bench = load_bench()
    if a.mode == "smoke":
        return smoke(bench)
    if "-" in a.seeds:
        lo, hi = (int(x) for x in a.seeds.split("-"))
        seeds = list(range(lo, hi + 1))
    else:
        seeds = [int(x) for x in a.seeds.split(",")]
    ws = a.workloads.split(",") if a.workloads else [x["name"] for x in bench["workloads"]]
    return repeat(bench, ws, seeds, a.sets)


if __name__ == "__main__":
    sys.exit(main())
