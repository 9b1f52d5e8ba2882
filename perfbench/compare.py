"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE HEAD

BASE and HEAD are each a directory of, or a list of, result files that
``run.py`` saves under ``.perfbench/results/`` (a comma-separated list
of paths also works).  For every workload x metric the report gives
each side's median and quartiles (``statistics.quantiles(n=4)``) and,
for the end-to-end metrics, a verdict against the metric's bound in
BENCHMARK.json:

- ``unresolved`` when either side's quartile spread, as a share of its
  median, is wider than the bound;
- ``worse`` / ``better`` when the medians differ by more than the bound;
- ``same`` otherwise.

Per-layer metrics have no bound and are listed without a verdict.
Where one side holds both traced and untraced runs of a workload, the
tracing overhead (traced minus untraced median op latency) is shown.
"""

from __future__ import annotations

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def load(spec: str) -> dict:
    """{(workload, trace): {metric: [values]}} from result files."""
    paths: list[Path] = []
    for part in spec.split(","):
        p = Path(part)
        paths += sorted(p.glob("*.json")) if p.is_dir() else [p]
    out: dict = defaultdict(lambda: defaultdict(list))
    for p in paths:
        try:
            doc = json.loads(p.read_text())
        except (OSError, json.JSONDecodeError):
            continue
        if not isinstance(doc, dict) or "result" not in doc:
            continue  # span dumps and foreign files
        info = doc["info"]
        key = (info["workload"], info["trace"])
        for name, m in doc["result"]["metrics"].items():
            out[key][name].append(m["value"])
    return out


def summary(values: list[float]) -> tuple[float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3


def spread(values: list[float]) -> float:
    med, q1, q3 = summary(values)
    return (q3 - q1) / abs(med) if med else 0.0


def verdict(base: list[float], head: list[float], spec: dict) -> str:
    bound = spec["bound"]
    if max(spread(base), spread(head)) > bound:
        return "unresolved"
    b, h = statistics.median(base), statistics.median(head)
    if not b:
        return "same" if not h else "changed"
    worse = (h - b) / abs(b) if spec["better"] == "lower" else (b - h) / abs(b)
    if worse > bound:
        return "worse"
    if worse < -bound:
        return "better"
    return "same"


def fmt(values: list[float]) -> str:
    med, q1, q3 = summary(values)
    return f"{med:.4g} [{q1:.4g}, {q3:.4g}] n={len(values)}"


def report(base: dict, head: dict, bench: dict) -> list[str]:
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    lines = []
    for key in sorted(set(base) | set(head)):
        workload, trace = key
        lines.append(f"== {workload} ({'traced' if trace else 'untraced'})")
        names = sorted(set(base.get(key, {})) | set(head.get(key, {})))
        for name in names:
            b = base.get(key, {}).get(name, [])
            h = head.get(key, {}).get(name, [])
            v = (verdict(b, h, e2e[name]) if name in e2e and b and h
                 else "")
            lines.append(f"{name:42s} base {fmt(b) if b else '-':34s} "
                         f"head {fmt(h) if h else '-':34s} {v}")
    for side, runs in (("base", base), ("head", head)):
        for workload in sorted({w for w, _ in runs}):
            plain = runs.get((workload, 0), {}).get("op_p50_ms")
            traced = runs.get((workload, 1), {}).get("trace.op_p50_ms")
            if plain and traced:
                extra = statistics.median(traced) - statistics.median(plain)
                lines.append(f"tracing overhead {side} {workload}: "
                             f"{extra:.1f} ms per op (median traced - "
                             "median untraced)")
    return lines


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    print("\n".join(report(load(argv[0]), load(argv[1]), bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
