"""``interactive``: one analyst, closed loop, short requests against the
sf0.1 TPC-H tables.  Each request is a few lazy verbs and one
materializing call; a pandas oracle over the same files (and an exact
numpy search for ANN) checks every answer outside the timed region.

A round is one request of each kind, always in the order of KINDS,
with seeded parameters.  After set-up, WARM_ROUNDS rounds run untimed
(their answers are still checked); the run then measures whole rounds.
"""

from __future__ import annotations

import datetime as dt
import math
import time

import numpy as np
import pandas as pd

from harness import Run, pct
import inputs

KINDS = ("frame_query", "align_op", "count", "point_iat", "point_loc",
         "interop", "ann_search")
ANN_K = 10
ANN_NLIST = 8
ANN_NPROBE = 2
ANN_QUERIES = 4
TRACE_ROUNDS = 2
MIN_ROUNDS = 3
#: Untimed rounds after set-up: the JVM compiles the code paths of
#: every request kind in the first rounds, by a different amount in
#: every process, and that would otherwise set the tail
WARM_ROUNDS = 1
_DAY0 = dt.date(1992, 1, 1)


class Interactive:
    def __init__(self, run: Run, tracer):
        self.run = run
        self.tr = tracer
        self.tpch = inputs.tpch(run.cache)
        self.rng = np.random.default_rng([run.seed, 3])
        emb, self.queries = inputs.embeddings(
            run.seed, ANN_QUERIES * 64)
        self.emb_path = run.work / "embeddings.parquet"
        emb.to_parquet(self.emb_path)
        self.emb = np.stack(emb["embedding"].to_numpy())
        self.index_path = str(run.work / "ivf_index")
        self.fingerprint = inputs.Fingerprint()
        self.fingerprint.update(emb, self.queries, *sorted(
            self.tpch.glob("*.parquet")))
        t = self.tpch
        self.pd = {
            "lineitem": pd.read_parquet(t / "lineitem.parquet", columns=[
                "l_suppkey", "l_quantity", "l_extendedprice",
                "l_discount", "l_shipdate"]),
            "orders": pd.read_parquet(t / "orders.parquet"),
            "customer": pd.read_parquet(t / "customer.parquet"),
            "supplier": pd.read_parquet(t / "supplier.parquet"),
        }
        self.recall: list[float] = []
        self.warm_s: list[float] = []
        self.n_q = 0

    def path(self, table: str) -> str:
        return str(self.tpch / f"{table}.parquet")

    # set-up ----------------------------------------------------------------

    def setup_body(self) -> None:
        import pandas_alchemy_spark as pas
        with self.tr.span("session.init_db"):
            self.run.init_db()
        with self.tr.span("bench.warm_up"):
            if len(pas.read_parquet(self.path("nation"))) != 25:
                raise RuntimeError("warm-up read the wrong nation table")

    def setup_once(self) -> None:
        """The IVF index build: set-up work done once per session."""
        from pandas_alchemy_spark.ext import similarity
        spark = self.run.spark
        with self.tr.span("ext.similarity.build_ivf_index"):
            similarity.build_ivf_index(
                spark.read.parquet(str(self.emb_path)), self.index_path,
                dim=inputs.EMB_DIM, nlist=ANN_NLIST, refine_iters=0)

    # requests --------------------------------------------------------------

    def params(self, kind: str) -> dict:
        p = self._params(kind)
        self.fingerprint.update(kind, p)
        return p

    def _params(self, kind: str) -> dict:
        r = self.rng
        if kind == "frame_query":
            d1 = _DAY0 + dt.timedelta(days=int(r.integers(0, 2200)))
            return {"d1": d1, "d2": d1 + dt.timedelta(days=180),
                    "q": int(r.integers(15, 46))}
        if kind == "align_op":
            return {"m1": int(r.choice([2, 3, 5])),
                    "m2": int(r.choice([2, 3, 7])),
                    "k": int(r.integers(0, 25))}
        if kind == "count":
            d1 = _DAY0 + dt.timedelta(days=int(r.integers(0, 2300)))
            return {"d1": d1,
                    "d2": d1 + dt.timedelta(days=int(r.integers(30, 121)))}
        if kind == "point_iat":
            return {"i": int(r.integers(0, len(self.pd["orders"]))),
                    "j": int(r.choice([0, 1, 2, 3, 5, 6, 7]))}
        if kind == "point_loc":
            return {"key": int(r.integers(1, len(self.pd["customer"]) + 1))}
        if kind == "interop":
            n = 400
            z = r.normal(0, 1, n)
            z[r.random(n) < 0.1] = 0.0
            x = r.normal(0, 5, n)
            x[r.random(n) < 0.05] = 0.0
            return {"frame": pd.DataFrame({"x": x, "y": r.normal(0, 1, n),
                                           "z": z}),
                    "a": float(r.integers(2, 9))}
        if kind == "ann_search":
            rows = r.choice(len(self.queries), ANN_QUERIES, replace=False)
            self.n_q += 1
            return {"rows": rows, "ids": [-(self.n_q * 100 + i + 1)
                                          for i in range(ANN_QUERIES)]}
        raise ValueError(kind)

    def execute(self, kind: str, p: dict):
        import pandas_alchemy_spark as pas
        tr = self.tr
        if kind == "frame_query":
            with tr.span("sources.read_parquet"):
                li = pas.read_parquet(self.path("lineitem"))
                s = pas.read_parquet(self.path("supplier"))
            with tr.span("core.build"):
                f = li[(li.l_shipdate >= p["d1"].isoformat())
                       & (li.l_shipdate < p["d2"].isoformat())
                       & (li.l_quantity < p["q"])]
                f = f.assign(rev=f.l_extendedprice * (1 - f.l_discount))
            with tr.span("relational.build"):
                j = f.merge(s[["s_suppkey", "s_nationkey"]],
                            left_on="l_suppkey", right_on="s_suppkey",
                            how="inner", broadcast=True)
                g = j.groupby("s_nationkey").agg(
                    rev=("rev", "sum"), n=("l_quantity", "count"))
            self.force_plan(g)
            with tr.span("core.to_pandas"):
                return g.to_pandas()
        if kind == "align_op":
            with tr.span("sources.read_parquet"):
                c = pas.read_parquet(self.path("customer"))
            with tr.span("core.build"):
                a = c[c.c_custkey % p["m1"] == 0].set_index(
                    "c_custkey").c_acctbal
                b = c[c.c_custkey % p["m2"] == 0].set_index(
                    "c_custkey").c_nationkey - p["k"]
            with tr.span("base.align_build"):
                r = a / b
            with tr.span("generic.head"):
                h = r.sort_index().head(20)
            self.force_plan(h)
            with tr.span("core.to_pandas"):
                return h.to_pandas()
        if kind == "count":
            with tr.span("sources.read_parquet"):
                li = pas.read_parquet(self.path("lineitem"))
            with tr.span("core.build"):
                m = li[(li.l_shipdate >= p["d1"].isoformat())
                       & (li.l_shipdate < p["d2"].isoformat())]
            self.force_plan(m)
            with tr.span("generic.len"):
                return len(m)
        if kind == "point_iat":
            with tr.span("sources.read_parquet"):
                o = pas.read_parquet(self.path("orders"))
            with tr.span("indexer.iat"):
                return o.iat[p["i"], p["j"]]
        if kind == "point_loc":
            with tr.span("sources.read_parquet"):
                c = pas.read_parquet(self.path("customer"))
            with tr.span("core.build"):
                bal = c.set_index("c_custkey").c_acctbal
            with tr.span("indexer.loc"):
                row = bal.loc[p["key"]]
            with tr.span("core.to_pandas"):
                return row.to_pandas()
        if kind == "interop":
            with tr.span("core.from_pandas"):
                f = pas.DataFrame.from_pandas(p["frame"])
            with tr.span("core.build"):
                r = (f.x * p["a"] - f.y) / f.z
            self.force_plan(r)
            with tr.span("core.to_pandas"):
                return r.to_pandas()
        if kind == "ann_search":
            from pandas_alchemy_spark.ext import similarity
            spark = self.run.spark
            q = spark.createDataFrame(
                [(i, [float(v) for v in self.queries[row]])
                 for i, row in zip(p["ids"], p["rows"])],
                "vec_id long, embedding array<double>")
            with tr.span("ext.similarity.search_ivf_index"):
                res = similarity.search_ivf_index(
                    spark, self.index_path, q, k=ANN_K, nprobe=ANN_NPROBE)
                return res.toPandas()
        raise ValueError(kind)

    def force_plan(self, frame) -> None:
        """Traced runs only: force Catalyst planning of the frame about
        to be materialized, so planning time shows as its own span."""
        if self.tr.enabled:
            with self.tr.span("spark.plan"):
                frame.to_spark()._jdf.queryExecution().executedPlan()

    # oracle ----------------------------------------------------------------

    def check(self, kind: str, p: dict, out) -> bool:
        P = self.pd
        if kind == "frame_query":
            li = P["lineitem"]
            f = li[(li.l_shipdate >= p["d1"]) & (li.l_shipdate < p["d2"])
                   & (li.l_quantity < p["q"])]
            f = f.assign(rev=f.l_extendedprice * (1 - f.l_discount))
            j = f.merge(P["supplier"][["s_suppkey", "s_nationkey"]],
                        left_on="l_suppkey", right_on="s_suppkey")
            want = j.groupby("s_nationkey").agg(
                rev=("rev", "sum"), n=("l_quantity", "count"))
            got = out.sort_index()
            return (list(got.index) == list(want.index)
                    and np.allclose(got["rev"], want["rev"], rtol=1e-9)
                    and list(got["n"]) == list(want["n"]))
        if kind == "align_op":
            c = P["customer"]
            a = c[c.c_custkey % p["m1"] == 0].set_index(
                "c_custkey").c_acctbal
            b = c[c.c_custkey % p["m2"] == 0].set_index(
                "c_custkey").c_nationkey - p["k"]
            want = (a / b).sort_index().head(20)
            return (list(out.index) == list(want.index)
                    and _same_floats(out.to_numpy(), want.to_numpy()))
        if kind == "count":
            li = P["lineitem"]
            return out == int(((li.l_shipdate >= p["d1"])
                               & (li.l_shipdate < p["d2"])).sum())
        if kind == "point_iat":
            return out == P["orders"].iat[p["i"], p["j"]]
        if kind == "point_loc":
            want = P["customer"].set_index("c_custkey").c_acctbal.loc[
                p["key"]]
            return (list(out.index) == [p["key"]]
                    and math.isclose(out.iloc[0], want, rel_tol=1e-12))
        if kind == "interop":
            f = p["frame"]
            want = (f.x * p["a"] - f.y) / f.z
            got = out.sort_index()
            return (list(got.index) == list(want.index)
                    and _same_floats(got.to_numpy(), want.to_numpy()))
        if kind == "ann_search":
            return self.check_ann(p, out)
        raise ValueError(kind)

    def check_ann(self, p: dict, out: pd.DataFrame) -> bool:
        qs = self.queries[p["rows"]]
        exact = inputs.exact_topk(self.emb, qs, ANN_K)
        ok = True
        for qid, qv, truth in zip(p["ids"], qs, exact):
            got = out[out.query_id == qid].sort_values("rank")
            if list(got["rank"]) != list(range(1, ANN_K + 1)):
                return False
            ids = got["neighbor_id"].to_numpy()
            vecs = self.emb[ids]
            cos = vecs @ qv / (np.linalg.norm(vecs, axis=1)
                               * np.linalg.norm(qv))
            ok &= bool(np.allclose(cos, got["cosine"], rtol=0, atol=1e-9))
            ok &= bool(np.all(np.diff(got["cosine"].to_numpy()) <= 1e-12))
            self.recall.append(len(set(ids) & set(truth)) / ANN_K)
        return ok

    # measurement -----------------------------------------------------------

    def measure(self, counts) -> list[list[float]]:
        """Run WARM_ROUNDS untimed rounds with tracing off, then whole
        measured rounds; return each measured round's op latencies
        (s)."""
        run = self.run
        traced, self.tr.enabled = self.tr.enabled, False
        try:
            self.warm_s = [sum(self.round(counts, warm=True))
                           for _ in range(WARM_ROUNDS)]
        finally:
            self.tr.enabled = traced
        rounds: list[list[float]] = []
        started = time.perf_counter()
        while run.more([sum(r) for r in rounds], started, MIN_ROUNDS,
                       TRACE_ROUNDS):
            rounds.append(self.round(counts))
        return rounds

    def round(self, counts, warm: bool = False) -> list[float]:
        out = []
        for kind in KINDS:
            p = self.params(kind)
            out.append(self.run.op(self.tr, counts, kind,
                                   lambda: self.execute(kind, p),
                                   lambda out: self.check(kind, p, out),
                                   warm))
        return out


def _same_floats(a, b) -> bool:
    a = np.asarray(a, dtype=float)
    b = np.asarray(b, dtype=float)
    if a.shape != b.shape:
        return False
    if not np.array_equal(np.isnan(a), np.isnan(b)):
        return False
    m = ~np.isnan(a)
    return bool(np.allclose(a[m], b[m], rtol=1e-12, atol=0))


def per_kind_p50(ops: list[dict]) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o["kind"], []).append(o["ms"])
    return {k: pct(v, 50) for k, v in sorted(by.items())}
