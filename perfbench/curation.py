"""``curation``: successive raw batches go through ``curate_corpus`` and
``write_training_shards`` in one long-lived session, closed loop.

Each batch is drawn from the seed with planted exact duplicates
(case/whitespace variants), near duplicates (a few words replaced) and
junk documents.  The written shards are read back with pyarrow, outside
the timed region, and checked against invariants:

- every planted exact-duplicate group keeps exactly one copy;
- no two kept documents share a normalized text;
- each shard reads back in ``shard_pos`` order, 1..n;
- every unique document survives, junk never does, and each
  near-duplicate group keeps at least one member.

Near-duplicate detection is approximate (MinHash-LSH), so the share of
planted near-duplicate groups collapsed to exactly one document is
recorded as a quality ratio, not checked.  The kept count of a seed
must repeat exactly; ``selfcheck.py`` compares two runs.

A traced run wraps the pipeline's stage functions from outside the
program and materializes each stage's output inside its span, so a
stage's span holds its own execution.
"""

from __future__ import annotations

import time
from pathlib import Path

import pyarrow.parquet as pq

from harness import Run
import inputs
import tracing

N_SHARDS = 4
CAPACITY = 1024
MIN_QUALITY = 0.2
TRACE_BATCHES = 2
MIN_BATCHES = 3
#: Untimed batches after set-up: the first batch of a process compiles
#: the pipeline's code paths and takes two to three warm batches' time,
#: by a different amount in every process
WARM_BATCHES = 1

#: Stage functions wrapped in a traced run: (module, function, span).
STAGES = (("text", "normalize_text", "ext.text.normalize"),
          ("text", "quality_score", "ext.text.score"),
          ("dedup", "exact_dedup", "ext.dedup.exact_dedup"),
          ("dedup", "cluster_near_dups", "ext.dedup.cluster_near_dups"),
          ("text", "pack_sequences", "ext.text.pack_sequences"))


class Curation:
    def __init__(self, run: Run, tracer):
        self.run = run
        self.tr = tracer
        self.words = inputs.vocab(inputs.tpch(run.cache))
        self.raw = run.work / "raw"
        self.out = run.work / "shards"
        self.raw.mkdir()
        self.out.mkdir()
        self.batches: list[dict] = []       # measured
        self.warm_batches: list[dict] = []  # untimed, checked
        self.n_batches = 0
        self.ratios: dict[str, list[float]] = {}
        self.cached_after: list[int] = []
        self._persisted: list = []
        self.fingerprint = inputs.Fingerprint()

    def setup_body(self) -> None:
        import pandas_alchemy_spark as pas
        with self.tr.span("session.init_db"):
            self.run.init_db()
        with self.tr.span("bench.warm_up"):
            tpch = inputs.tpch(self.run.cache)
            if len(pas.read_parquet(str(tpch / "nation.parquet"))) != 25:
                raise RuntimeError("warm-up read the wrong nation table")

    # tracing ---------------------------------------------------------------

    def wrap_stages(self) -> None:
        from pandas_alchemy_spark.ext import dedup, text
        from pyspark.sql import functions as F
        mods = {"text": text, "dedup": dedup}
        tr = self.tr

        def wrapped(fn, span):
            def call(df, *args, **kwargs):
                with tr.span(span):
                    out = fn(df, *args, **kwargs).persist()
                    n_out = out.count()
                self._persisted.append(out)
                with tr.span("bench.kept_ratio"):
                    if span == "ext.text.score":
                        kept = out.filter(
                            F.col("q_score") >= MIN_QUALITY).count()
                        self._ratio(span, kept, n_out)
                    elif span == "ext.dedup.exact_dedup":
                        self._ratio(span, n_out, df.count())
                    elif span == "ext.dedup.cluster_near_dups":
                        self._ratio(span, out.filter("keep").count(),
                                    n_out)
                return out
            return call

        for mod, name, span in STAGES:
            setattr(mods[mod], name, wrapped(getattr(mods[mod], name),
                                             span))

    def _ratio(self, span: str, kept: int, total: int) -> None:
        self.ratios.setdefault(span, []).append(kept / max(total, 1))

    # one batch -------------------------------------------------------------

    def batch(self, k: int) -> dict:
        self.n_batches += 1
        frame, planted = inputs.corpus_batch(self.run.seed, k, self.words)
        self.fingerprint.update(frame)
        planted["src"] = self.raw / f"b{k}.parquet"
        frame.to_parquet(planted["src"], index=False)
        planted["path"] = self.out / f"b{k}"
        return planted

    def execute(self, planted: dict) -> None:
        from pandas_alchemy_spark.ext import pipeline
        spark = self.run.spark
        with self.tr.span("sources.read_parquet"):
            docs = spark.read.parquet(str(planted["src"]))
        with self.tr.span("ext.pipeline.curate_corpus"):
            cur = pipeline.curate_corpus(
                docs, min_quality=MIN_QUALITY, near_dup_threshold=0.6,
                capacity=CAPACITY, n_shards=N_SHARDS)
        with self.tr.span("ext.pipeline.write_training_shards"):
            pipeline.write_training_shards(cur, str(planted["path"]),
                                           n_shards=N_SHARDS)

    def check(self, planted: dict) -> bool:
        ids, texts = [], []
        ok = True
        for shard in sorted(Path(planted["path"]).glob("shard=*")):
            t = pq.ParquetDataset(str(shard)).read().to_pandas()
            ok &= list(t["shard_pos"]) == list(range(1, len(t) + 1))
            ids += list(t["doc_id"])
            texts += list(t["norm_text"])
        kept = set(ids)
        ok &= len(kept) == len(ids) and len(set(texts)) == len(texts)
        ok &= all(len(kept & set(g)) == 1 for g in planted["exact"])
        ok &= all(kept & set(g) for g in planted["near"])
        ok &= set(planted["unique"]) <= kept
        ok &= not kept & set(planted["junk"])
        planted["kept"] = len(kept)
        planted["near_collapsed"] = sum(
            len(kept & set(g)) == 1 for g in planted["near"]) / max(
                len(planted["near"]), 1)
        planted["bytes_written"] = sum(
            f.stat().st_size for f in Path(planted["path"]).rglob("*")
            if f.is_file())
        return bool(ok)

    # measurement -----------------------------------------------------------

    def measure(self, counts) -> list[list[float]]:
        """WARM_BATCHES untimed batches with tracing off, then a closed
        loop over successive batches; returns the measured batch times
        (s), one round of one op per batch."""
        run = self.run
        traced, self.tr.enabled = self.tr.enabled, False
        try:
            for _ in range(WARM_BATCHES):
                planted = self.batch(self.n_batches)
                self.warm_batches.append(planted)
                run.op(self.tr, counts, "batch",
                       lambda: self.execute(planted),
                       lambda _: self.check(planted), warm=True)
        finally:
            self.tr.enabled = traced
        if traced:
            self.wrap_stages()
        times: list[float] = []
        started = time.perf_counter()
        while run.more(times, started, MIN_BATCHES, TRACE_BATCHES):
            planted = self.batch(self.n_batches)
            self.batches.append(planted)
            times.append(run.op(self.tr, counts, "batch",
                                lambda: self.execute(planted),
                                lambda _: self.check(planted)))
            if traced:
                for df in self._persisted:
                    df.unpersist()
                self._persisted.clear()
                self.cached_after.append(tracing.cached_frames(run.spark))
        return [[t] for t in times]
