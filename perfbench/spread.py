"""Steadiness and determinism checks for the benchmark.

    # one run per seed; per metric: median, quartiles, spread vs bound
    # (the workload's own figures in ``detail`` are listed without a bound)
    python3 perfbench/spread.py spread --workload cdc_ingest --seeds 1-10

    # two traced runs per seed: the seeded inputs' digest and every count
    # metric must repeat exactly
    python3 perfbench/spread.py determinism --workload cdc_ingest --seeds 1,2

Run from the repository root.  Runs are sequential; each one's host
steal share is printed beside its metrics, and the run itself is
appended to ``.bench_out/runs.jsonl`` by run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import quartile_spread  # noqa: E402

COUNT_UNITS = ("count", "B")


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(host line, result line) of one run.py run."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2].removeprefix("host: ")), json.loads(out[-1])


def spread(args, bench: dict) -> int:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        host, res = run_once(args.workload, seed, args.seconds, 0)
        line = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              f"steal={host['steal_pct']:.1f}% {line}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        for k, (v, _) in host["detail"].items():
            values.setdefault(f"detail.{k}", []).append(v)
    worst = 0.0
    for k, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        s = quartile_spread(vs)
        bound = bounds.get(k)
        verdict = "" if bound is None else ("ok" if s <= bound / 3 else
                                            "WITHIN BOUND" if s <= bound else "TOO NOISY")
        if bound is not None:
            worst = max(worst, s / bound)
        print(f"{k:20s} median={med:.4g} q1={q1:.4g} q3={q3:.4g} spread={s:.3f} "
              f"bound={bound} {verdict}")
    return 0 if worst <= 1 else 1


def determinism(args, bench: dict) -> int:
    drifted = 0
    for seed in args.seeds:
        runs = [run_once(args.workload, seed, args.seconds, 1) for _ in range(2)]
        bad = []
        digests = {h["info"]["inputs_sha256"] for h, _ in runs}
        if len(digests) != 1:
            bad.append(f"inputs differ: {digests}")
        counts = [{**{k: v["value"] for k, v in r["metrics"].items() if v["unit"] in COUNT_UNITS},
                   **{f"detail.{k}": v for k, (v, u) in h["detail"].items() if u in COUNT_UNITS}}
                  for h, r in runs]
        bad += [f"{k} drifts: {counts[0][k]} vs {counts[1].get(k)}"
                for k in sorted(counts[0]) if counts[0][k] != counts[1].get(k)]
        for line in bad:
            print(f"seed {seed}: {line}")
        print(f"seed {seed}: {len(counts[0])} count metrics {counts[0]}, input digest "
              f"{digests.pop()}: {'DRIFT' if bad else 'identical'}", flush=True)
        drifted += bool(bad)
    return 1 if drifted else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("spread", "determinism"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    args.seconds = args.seconds or bench["run_seconds"]
    return (spread if args.mode == "spread" else determinism)(args, bench)


if __name__ == "__main__":
    sys.exit(main())
