"""Summarise benchmark runs, or run them first.

    python3 perfbench/report.py                 # summarise .perfbench_out/
    python3 perfbench/report.py --run 1,2,3     # run every workload untraced
                                                # and traced on these seeds, then summarise

Run from the root of a checkout. For each workload it prints every
end-to-end metric by name and unit (median over the untraced runs, with
the interquartile range as a share of the median), ``error_rate`` over
all runs, ``snapshot_mb`` for ``refresh``, each layer's self time from
the traced runs, and the tracing overhead: median traced ``wall_s``
minus median untraced ``wall_s``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import subprocess
import sys


def _spread(values: list[float]) -> float:
    if len(values) < 2:
        return 0.0
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def _runs(out_dir: str) -> dict[str, dict[int, list[dict]]]:
    by: dict[str, dict[int, list[dict]]] = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "run-*.json"))):
        with open(path) as f:
            a = json.load(f)
        by.setdefault(a["workload"], {}).setdefault(a["trace"], []).append(a)
    return by


def summarise(out_dir: str) -> None:
    for wl, modes in sorted(_runs(out_dir).items()):
        plain, traced = modes.get(0, []), modes.get(1, [])
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced runs")
        for name in ("wall_s", "setup_s", "snapshot_mb"):
            vals = [a["metrics"][name]["value"] for a in plain if name in a["metrics"]]
            if vals:
                unit = plain[0]["metrics"][name]["unit"]
                print(f"{wl} {name} {statistics.median(vals):.4f} {unit} "
                      f"(IQR/median {_spread(vals):.3f}, n={len(vals)})")
        runs = plain + traced
        rates = [a["metrics"]["error_rate"]["value"] for a in runs]
        if runs:
            print(f"{wl} error_rate {statistics.mean(rates):.4f} ratio (n={len(runs)})")
        if traced:
            names = set.intersection(*(set(a["per_layer"]) for a in traced))
            layer = {
                k: statistics.median(a["per_layer"][k]["value"] for a in traced)
                for k in sorted(names)
            }
            for k, v in layer.items():
                if k.startswith("self.") and v:
                    print(f"{wl} {k} {v:.4f} s")
            if plain:
                over = layer["trace.wall_s"] - statistics.median(
                    a["metrics"]["wall_s"]["value"] for a in plain
                )
                print(f"{wl} trace_overhead_s {over:.4f} s")
        hosts = {(a["host"]["master"], a["host"]["default_parallelism"], a["host"]["nproc"]) for a in runs}
        print(f"{wl} hosts (master, defaultParallelism, nproc): {sorted(hosts)}")


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--run", help="comma-separated seeds to run first")
    p.add_argument("--out", default=".perfbench_out")
    args = p.parse_args(argv)
    if args.run:
        with open("BENCHMARK.json") as f:
            spec = json.load(f)
        for seed in args.run.split(","):
            for wl in spec["workloads"]:
                for trace in ("0", "1"):
                    cmd = spec["command"] + [
                        "--workload", wl["name"], "--seed", seed,
                        "--seconds", str(spec["run_seconds"]), "--trace", trace,
                    ]
                    if subprocess.run(cmd).returncode != 0:
                        print(f"run failed: {' '.join(cmd)}", file=sys.stderr)
                        return 1
    summarise(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
