"""Run-to-run spread of the benchmark's metrics, and the tracing overhead.

Run from the repository root:

    python3 perfbench/spread.py --workload iterative --seeds 1-10 [--trace 0|1|both]

Runs `run.py` once per seed and trace mode, one run after another, and
prints for each metric the median of the runs and the distance between
their first and third quartiles as a share of the median: the figure
the benchmark's bounds are set against. The ungated wall times of the
run record (`first_pass_s`, `pass_s`, `first_pass_cpu_s`, `pass_cpu_s`) are listed
too. With `--trace both` it also prints the tracing overhead, the
traced runs' median `trace.pass_s` minus the untraced runs' median
`pass_s`.
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


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="a seed or a range, e.g. 1-10")
    p.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    modes = ("0", "1") if args.trace == "both" else (args.trace,)

    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        for trace in modes:
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                   "--seed", str(seed), "--seconds", str(seconds), "--trace", trace]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            if proc.returncode != 0:
                print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            record, result = (json.loads(line) for line in proc.stdout.strip().splitlines()[-2:])
            print(f"seed {seed} trace {trace}: correct={result['correct']} "
                  f"failed={result['failed']} run {wall:.1f} s "
                  f"steal {record['run']['box']['steal_pct']:.1f}% "
                  + " ".join(f"{k}={m['value']:.3f}" for k, m in result["metrics"].items()), flush=True)
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            if trace == "0":
                for name in ("first_pass_s", "pass_s", "first_pass_cpu_s", "pass_cpu_s"):
                    values.setdefault(f"{name} (ungated)", []).append(record["run"][name])

    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else 0.0
        print(f"{name:32s} median {med:12.4f}  iqr/median {spread:7.2%}  n={len(vs)}")
    if args.trace == "both":
        overhead = statistics.median(values["trace.pass_s"]) - statistics.median(values["pass_s (ungated)"])
        print(f"tracing overhead: {overhead:+.3f} s per pass")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
