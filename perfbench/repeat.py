"""Run the benchmark once per seed on each workload and report, per
end-to-end metric, the median and the quartile spread against its bound.

Run from the repository root::

    python3 perfbench/repeat.py --seeds 1-10 [--workloads build_distinct,query_mix] [--sets 2]

Runs one process at a time. With ``--sets 2`` it makes two sets of runs of
the same code, interleaved seed by seed (set 1 seed 1, set 2 seed 1, set 1
seed 2, ...), and also reports how much worse each later set's median is than
the first set's. Prints one line per run and a table per workload; exits 1
when a run fails, a spread exceeds its metric's bound, or a later set's
median is worse than the first set's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def _run_once(bench: dict, wl: str, seed: int) -> dict | None:
    t0 = time.perf_counter()
    p = subprocess.run(
        bench["command"] + ["--workload", wl, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
        capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    try:
        result = json.loads(p.stdout.strip().splitlines()[-1])
    except (IndexError, json.JSONDecodeError):
        print(f"{wl} seed {seed}: rc {p.returncode}, no result\n{p.stderr[-2000:]}")
        return None
    host = next((line.strip() for line in p.stdout.splitlines() if "host:" in line), "")
    row = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
    print(f"{wl} seed {seed}: wall {wall:.1f} s, correct {result['correct']}, "
          f"{result['attempted']} ops, {row} | {host}", flush=True)
    return result if p.returncode == 0 else None


def worse_by(first: float, later: float, better: str) -> float:
    """How much worse ``later`` is than ``first``, as a share of ``first``
    (negative when it is better)."""
    return (later - first) / first * (1 if better == "lower" else -1)


def main(argv=None) -> int:
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description="Repeat the benchmark over seeds.")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args(argv)

    ok = True
    for wl in args.workloads.split(","):
        values: list[dict[str, list[float]]] = [{} for _ in range(args.sets)]
        for seed in _seeds(args.seeds):
            for k in range(args.sets):
                result = _run_once(bench, wl, seed)
                if result is None or not result["correct"]:
                    ok = False
                if result is None:
                    continue
                for name, v in result["metrics"].items():
                    values[k].setdefault(name, []).append(v["value"])
        for m in bench["end_to_end"]:
            medians = []
            for k in range(args.sets):
                xs = values[k].get(m["name"], [])
                if len(xs) < 2:
                    continue
                spread = stats.quartile_spread(xs)
                medians.append(stats.median(xs))
                within = spread <= m["bound"]
                ok &= within
                print(f"{wl} set {k + 1} {m['name']}: median {medians[-1]:.4f} {m['unit']}, "
                      f"spread {spread:.4f} (bound {m['bound']}, a third {m['bound'] / 3:.4f})"
                      f"{'' if within else '  OVER BOUND'}", flush=True)
            for k, later in enumerate(medians[1:], start=2):
                drift = worse_by(medians[0], later, m["better"])
                within = drift <= m["bound"]
                ok &= within
                print(f"{wl} set {k} vs set 1 {m['name']}: worse by {drift:+.4f} "
                      f"(bound {m['bound']}){'' if within else '  OVER BOUND'}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
