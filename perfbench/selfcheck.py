"""Self-check of the benchmark itself.

    python3 perfbench/selfcheck.py [--seed 7] [--workload W]

For each workload it makes two traced runs of one seed, one traced run
of the next seed and one untraced run, then checks that

- the same seed hands the program byte-identical inputs and the next
  seed does not (the runs' input fingerprints);
- every count metric (jobs, stages, tasks, py4j calls, bytes written,
  kept ratios, recall) repeats exactly across the two runs of one seed,
  and so do the kept document counts;
- the printed metric names and units are exactly BENCHMARK.json's
  ``end_to_end`` (untraced) and ``per_layer`` (traced) lists.

Exits 1 on any failed check.  Takes a few minutes per workload.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

#: Per-layer metrics that are counts, not times: they must repeat.
COUNTS = ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op",
          "spark.failed_tasks", "core.eager_jobs_per_build",
          "py4j.calls_per_op", "spark.jobs_per_batch",
          "spark.cached_frames_after_batch", "sources.bytes_written",
          "sources.write_amp", "ext.text.score.kept_ratio",
          "ext.dedup.exact_dedup.kept_ratio",
          "ext.dedup.cluster_near_dups.kept_ratio",
          "ext.dedup.near_groups_collapsed_ratio",
          "ext.similarity.recall_at_10")


def run(workload: str, seed: int, seconds: int,
        trace: int) -> tuple[dict, dict]:
    """(result, notes) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} trace {trace} exited "
                           f"{proc.returncode}:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["notes"]


def check_workload(workload: str, seed: int, seconds: int,
                   bench: dict) -> list[str]:
    failures = []
    a, na = run(workload, seed, seconds, 1)
    b, nb = run(workload, seed, seconds, 1)
    c, nc = run(workload, seed + 1, seconds, 1)
    d, _ = run(workload, seed, seconds, 0)
    if na["inputs_sha256"] != nb["inputs_sha256"]:
        failures.append("same seed, different inputs")
    if na["inputs_sha256"] == nc["inputs_sha256"]:
        failures.append("different seeds, identical inputs")
    for name in COUNTS:
        va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
        if va != vb:
            failures.append(f"{name} does not repeat: {va} vs {vb}")
    if na.get("kept") != nb.get("kept"):
        failures.append(f"kept counts differ: {na.get('kept')} vs "
                        f"{nb.get('kept')}")
    for result, key in ((d, "end_to_end"), (a, "per_layer")):
        want = [(m["name"], m["unit"]) for m in bench[key]]
        got = [(n, m["unit"]) for n, m in result["metrics"].items()]
        if sorted(got) != sorted(want):
            failures.append(f"{key} names/units differ from BENCHMARK.json:"
                            f" {sorted(set(got) ^ set(want))}")
    for r in (a, b, c, d):
        if not r["correct"]:
            failures.append("a run reported a wrong answer")
    return [f"{workload}: {f}" for f in failures]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args(argv)
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    failures = []
    for w in workloads:
        found = check_workload(w, args.seed, bench["run_seconds"], bench)
        print(f"{w}: {'ok' if not found else 'FAILED'}", flush=True)
        failures += found
    for f in failures:
        print(f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
