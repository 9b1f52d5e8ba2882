"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive --seed 1 \
        --seconds 25 --trace 0

Run from the root of a checkout.  Prints a telemetry line and, as the
last line, ``{"correct", "attempted", "failed", "metrics"}``: every
end-to-end metric of BENCHMARK.json with ``--trace 0``, every per-layer
metric with ``--trace 1``.  Exits 1 when an answer is wrong and 2 when
the checkout holds no program to measure.
"""

from __future__ import annotations

import argparse
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("interactive", "curation")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pandas_alchemy_spark" / "__init__.py").is_file():
        print(f"no pandas_alchemy_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    # a terminated run still stops its JVM and deletes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    import harness
    import tracing

    run = harness.Run(ROOT, args.workload, args.seed, args.seconds,
                      bool(args.trace))
    try:
        probe = harness.HostProbe()
        tr = tracing.Tracer(run.trace)
        if args.workload == "interactive":
            from interactive import Interactive
            wl = Interactive(run, tr)
        else:
            from curation import Curation
            wl = Curation(run, tr)
        run.setup(wl.setup_body, getattr(wl, "setup_once", None))
        tr.hook_py4j(run.spark)
        counter = OpCounter(run, tr)
        rounds = wl.measure(counter)
        rss = harness.tree_peak_rss_mb()
        run.notes["peak_rss_mb_by_process"] = rss
        run.notes["cpu_s_by_process"] = harness.tree_cpu_s()
        peak_rss = sum(rss.values())
        if args.trace:
            metrics = layer_metrics(run, tr, wl, counter)
            tr.write(run.results / f"spans-{args.workload}-s{args.seed}"
                     f"-{time.strftime('%Y%m%dT%H%M%S')}.json")
        else:
            metrics = run.op_metrics(rounds, peak_rss)
        run.notes["inputs_sha256"] = wl.fingerprint.hexdigest()
        run.notes["passes_s"] = [sum(r) for r in rounds]
        if args.workload == "interactive":
            from interactive import per_kind_p50
            run.notes["p50_ms_by_kind"] = per_kind_p50(run.ops)
            run.notes["warm_rounds_s"] = wl.warm_s
            run.notes["recall_at_10"] = statistics.fmean(wl.recall or [0])
        else:
            run.notes["kept"] = [b.get("kept") for b in wl.batches]
            run.notes["write_amp"] = write_amp(wl)
            run.notes["near_groups_collapsed"] = near_collapsed(wl)
    finally:
        run.close()
    return run.emit(metrics, probe.finish())


class OpCounter:
    """After each op of a traced run, read its job groups' counts from
    the status tracker (py4j counting is off while it does)."""

    def __init__(self, run, tr):
        self.run = run
        self.tr = tr
        self.totals = {"jobs": 0, "stages": 0, "tasks": 0,
                       "failed_tasks": 0, "eager_jobs": 0}
        self.per_op_jobs: list[int] = []

    def __call__(self, n: int) -> None:
        if not self.tr.enabled:
            return
        import tracing
        spark = self.run.spark
        tracing.wait_listeners(spark)
        c = tracing.group_counts(spark, f"op{n}")
        b = tracing.group_counts(spark, f"op{n}.build")
        for k in ("jobs", "stages", "tasks", "failed_tasks"):
            self.totals[k] += c[k] + b[k]
        self.totals["eager_jobs"] += b["jobs"]
        self.per_op_jobs.append(c["jobs"] + b["jobs"])


# per-layer metrics ------------------------------------------------------

#: (name, unit) of every per-layer metric, in BENCHMARK.json order.  A
#: metric of a layer the workload never calls reads 0.
SPAN_MS = ("sources.read_parquet", "core.build", "base.align_build",
           "relational.build", "core.from_pandas", "core.to_pandas",
           "generic.len", "generic.head", "indexer.iat", "indexer.loc",
           "ext.similarity.build_ivf_index",
           "ext.similarity.search_ivf_index", "spark.plan",
           "ext.text.normalize", "ext.text.score", "ext.dedup.exact_dedup",
           "ext.dedup.cluster_near_dups", "ext.text.pack_sequences",
           "ext.pipeline.curate_corpus",
           "ext.pipeline.write_training_shards")
RATIOS = ("ext.text.score", "ext.dedup.exact_dedup",
          "ext.dedup.cluster_near_dups")
SELF_LAYERS = ("session", "sources", "core", "base", "relational",
               "generic", "indexer", "ext.similarity", "ext.text",
               "ext.dedup", "ext.pipeline", "spark", "bench")


def per_layer_names() -> list[tuple[str, str]]:
    names = [("session.init_db_s", "s")]
    names += [(f"{s}_ms", "ms") for s in SPAN_MS]
    names += [("ext.similarity.recall_at_10", "ratio")]
    names += [(f"{r}.kept_ratio", "ratio") for r in RATIOS]
    names += [("ext.dedup.near_groups_collapsed_ratio", "ratio")]
    names += [("spark.jobs_per_op", "count"),
              ("spark.stages_per_op", "count"),
              ("spark.tasks_per_op", "count"),
              ("spark.failed_tasks", "count"),
              ("core.eager_jobs_per_build", "count"),
              ("py4j.calls_per_op", "count"),
              ("spark.jobs_per_batch", "count"),
              ("spark.cached_frames_after_batch", "count"),
              ("sources.bytes_written", "B"), ("sources.write_amp", "ratio"),
              ("trace.op_p50_ms", "ms")]
    names += [(f"self.{layer}_ms", "ms") for layer in SELF_LAYERS]
    return names


def layer_metrics(run, tr, wl, counter) -> dict:
    import harness
    n_ops = max(len(run.ops), 1)
    dur = tr.durations()
    selfs = tr.self_times()
    t = counter.totals
    batches = getattr(wl, "batches", [])
    values = {
        "session.init_db_s": statistics.median(dur["session.init_db"]),
        "ext.similarity.recall_at_10":
            statistics.fmean(getattr(wl, "recall", []) or [0.0]),
        "spark.jobs_per_op": t["jobs"] / n_ops,
        "spark.stages_per_op": t["stages"] / n_ops,
        "spark.tasks_per_op": t["tasks"] / n_ops,
        "spark.failed_tasks": t["failed_tasks"],
        "core.eager_jobs_per_build": t["eager_jobs"] / n_ops,
        "py4j.calls_per_op": tr.py4j_calls / n_ops,
        "spark.jobs_per_batch": (statistics.fmean(counter.per_op_jobs)
                                 if batches else 0),
        "spark.cached_frames_after_batch":
            max(getattr(wl, "cached_after", []) or [0]),
        "sources.bytes_written": sum(b.get("bytes_written", 0)
                                     for b in batches),
        "sources.write_amp": write_amp(wl),
        "ext.dedup.near_groups_collapsed_ratio": near_collapsed(wl),
        "trace.op_p50_ms": harness.pct([o["ms"] for o in run.ops], 50),
    }
    for s in SPAN_MS:
        xs = dur.get(s, [])
        values[f"{s}_ms"] = statistics.fmean(xs) * 1000 if xs else 0.0
    ratios = getattr(wl, "ratios", {})
    for r in RATIOS:
        values[f"{r}.kept_ratio"] = statistics.fmean(ratios.get(r) or [0])
    for layer in SELF_LAYERS:
        values[f"self.{layer}_ms"] = selfs.get(layer, 0.0) * 1000 / n_ops
    return {n: (values[n], u) for n, u in per_layer_names()}


def write_amp(wl) -> float:
    batches = getattr(wl, "batches", [])
    raw = sum(b["raw_bytes"] for b in batches)
    written = sum(b.get("bytes_written", 0) for b in batches)
    return written / raw if raw else 0.0


def near_collapsed(wl) -> float:
    got = [b["near_collapsed"] for b in getattr(wl, "batches", [])
           if "near_collapsed" in b]
    return statistics.fmean(got) if got else 0.0


if __name__ == "__main__":
    sys.exit(main())
