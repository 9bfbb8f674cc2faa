"""Fast self-test of the benchmark.

    python3 perfbench/selftest.py

Run from the root of a checkout. Runs every workload in BENCHMARK.json
once untraced and once traced, and checks that
each run exits 0, reports correct outputs, and prints every end-to-end
(untraced) or per-layer (traced) metric of BENCHMARK.json with its unit,
plus the ``error_rate`` line (and ``snapshot_mb`` for ``refresh``). It
also checks that the per-layer list in BENCHMARK.json is the one
``tracer.py`` measures, and that the benchmark refuses to run, without
printing a result, from a directory that holds only the benchmark.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def main() -> int:
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, root]
    import tracer

    problems = []
    measured = [{"name": n, "unit": u} for n, u in tracer.per_layer_metrics()]
    declared = [{"name": m["name"], "unit": m["unit"]} for m in spec["per_layer"]]
    if measured != declared:
        problems.append("BENCHMARK.json per_layer differs from tracer.per_layer_metrics()")

    for wl in (w["name"] for w in spec["workloads"]):
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            p = _run(root, wl, trace)
            lines = p.stdout.strip().splitlines()
            tag = f"{wl} --trace {trace}"
            if p.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            out = json.loads(lines[-1])
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(out)}")
            if not out.get("correct") or out.get("failed"):
                problems.append(f"{tag}: outputs failed their check: {lines[:-1]}")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            want = {m["name"]: m["unit"] for m in wanted}
            if got != want:
                problems.append(f"{tag}: metrics differ: {sorted(set(got.items()) ^ set(want.items()))}")
            printed = {ln.split()[1] for ln in lines[:-1] if ln.startswith(f"{wl} ")}
            extra = {"error_rate"} | ({"snapshot_mb"} if wl == "refresh" else set())
            if not extra <= printed:
                problems.append(f"{tag}: summary lacks {sorted(extra - printed)}")
            print(f"ok {tag}: {len(got)} metrics", flush=True)

    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(root, ".perfbench_work"))
    try:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, spec["workloads"][0]["name"], 0)
        if p.returncode == 0 or p.stdout.strip():
            problems.append("a directory without the engine did not fail cleanly")
        else:
            print("ok refuses to run without the engine", flush=True)
    finally:
        shutil.rmtree(bare)

    for msg in problems:
        print(f"FAIL {msg}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
