"""Seeded inputs.  The program under test only ever sees these files.

- TPC-H tables at sf0.1, generated by DuckDB's ``dbgen`` (which is
  deterministic, so they are cached once per checkout); decimals are
  stored as doubles, dates as dates.
- ``embeddings``: clustered unit-free float vectors drawn from the seed.
- ``corpus`` batches: documents drawn from the seed out of the words of
  the TPC-H comment columns, with planted exact and near duplicates and
  a share of junk documents.

``fingerprint`` hashes every generated byte, so the self-check can show
that a seed reproduces its inputs exactly.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd

TPCH_SF = 0.1
TPCH_TABLES = ("lineitem", "orders", "customer", "part", "partsupp",
               "supplier", "nation", "region")

EMB_ROWS = 4_000
EMB_DIM = 32
EMB_CLUSTERS = 24

#: Per curation batch: unique docs, exact-duplicate groups x copies,
#: near-duplicate groups x copies, junk docs.
CORPUS_UNIQUE = 96
CORPUS_EXACT = (8, 3)
CORPUS_NEAR = (6, 3)
CORPUS_JUNK = 8
CORPUS_BATCH = (CORPUS_UNIQUE + CORPUS_EXACT[0] * CORPUS_EXACT[1]
                + CORPUS_NEAR[0] * CORPUS_NEAR[1] + CORPUS_JUNK)


def tpch(cache: Path) -> Path:
    """Directory of ``<table>.parquet`` files (built once per cache)."""
    out = cache / f"tpch-sf{TPCH_SF}"
    if (out / "_DONE").exists():
        return out
    import duckdb
    tmp = cache / f"tpch-sf{TPCH_SF}.partial"
    tmp.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar=false")
        con.execute("SET threads=2")
        con.execute(f"CALL dbgen(sf={TPCH_SF})")
        for t in TPCH_TABLES:
            cols = con.execute(f"DESCRIBE {t}").fetchall()
            sel = ", ".join(
                f"CAST({c} AS DOUBLE) AS {c}" if ty.startswith("DECIMAL")
                else c for c, ty, *_ in cols)
            con.execute(f"COPY (SELECT {sel} FROM {t} ORDER BY ALL) TO "
                        f"'{tmp / t}.parquet' (FORMAT parquet)")
        words = sorted({
            w for (txt,) in con.execute(
                "SELECT l_comment FROM lineitem LIMIT 200000").fetchall()
            for w in txt.replace(",", " ").replace(".", " ").split()[1:-1]
            if w.isalpha() and w.islower()})
    finally:
        con.close()
    (tmp / "vocab.txt").write_text("\n".join(words) + "\n")
    (tmp / "_DONE").write_text("ok\n")
    tmp.rename(out)
    return out


def vocab(tpch_dir: Path) -> list[str]:
    return (tpch_dir / "vocab.txt").read_text().split()


# -- embeddings ---------------------------------------------------------

def embeddings(seed: int, n_queries: int) -> tuple[pd.DataFrame, np.ndarray]:
    """(corpus frame with vec_id/embedding, query matrix).  Queries are
    fresh draws from the same clusters, so they are not in the corpus."""
    rng = np.random.default_rng([seed, 1])
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    assign = rng.integers(0, EMB_CLUSTERS, EMB_ROWS)
    vecs = centers[assign] + rng.normal(0.0, 0.6, (EMB_ROWS, EMB_DIM))
    q_assign = rng.integers(0, EMB_CLUSTERS, n_queries)
    queries = centers[q_assign] + rng.normal(0.0, 0.6, (n_queries, EMB_DIM))
    frame = pd.DataFrame({"vec_id": np.arange(EMB_ROWS, dtype=np.int64),
                          "embedding": list(vecs)})
    return frame, queries


def exact_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Exact cosine top-k ids per query (ties by lower id)."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = qn @ cn.T
    order = np.lexsort((np.broadcast_to(np.arange(len(corpus)), sims.shape),
                        -sims), axis=1)
    return order[:, :k]


# -- corpus -------------------------------------------------------------

def corpus_batch(seed: int, batch: int,
                 words: list[str]) -> tuple[pd.DataFrame, dict]:
    """One raw batch (doc_id, text) plus what was planted in it."""
    rng = np.random.default_rng([seed, 2, batch])
    w = np.asarray(words)

    def doc() -> list[str]:
        return list(w[rng.integers(0, len(w), rng.integers(60, 140))])

    texts: list[str] = []
    groups_exact: list[list[int]] = []
    groups_near: list[list[int]] = []
    for _ in range(CORPUS_UNIQUE):
        texts.append(" ".join(doc()))
    for _ in range(CORPUS_EXACT[0]):
        base = doc()
        members = []
        for c in range(CORPUS_EXACT[1]):
            toks = [t.upper() if c and rng.random() < 0.3 else t
                    for t in base]
            sep = "  " if c == 2 else " "
            members.append(len(texts))
            texts.append(sep.join(toks) + (" " * c))
        groups_exact.append(members)
    for _ in range(CORPUS_NEAR[0]):
        base = doc()
        members = [len(texts)]
        texts.append(" ".join(base))
        for _c in range(1, CORPUS_NEAR[1]):
            toks = list(base)
            for pos in rng.choice(len(toks), max(1, len(toks) // 40),
                                  replace=False):
                toks[pos] = w[rng.integers(0, len(w))]
            members.append(len(texts))
            texts.append(" ".join(toks))
        groups_near.append(members)
    junk = []
    for _ in range(CORPUS_JUNK):
        junk.append(len(texts))
        texts.append(" ".join(w[rng.integers(0, len(w), 3)]))
    # shuffled ids: a planted copy is not always the lowest id
    ids = rng.permutation(len(texts)).astype(np.int64) + batch * 1_000_000
    frame = pd.DataFrame({"doc_id": ids, "text": texts})
    planted = {"unique": [int(i) for i in ids[:CORPUS_UNIQUE]],
               "exact": [[int(ids[i]) for i in g] for g in groups_exact],
               "near": [[int(ids[i]) for i in g] for g in groups_near],
               "junk": [int(ids[i]) for i in junk],
               "raw_bytes": int(sum(len(t.encode()) for t in texts))}
    return frame, planted


class Fingerprint:
    """sha256 over every input a run hands the program, in order."""

    def __init__(self):
        self._h = hashlib.sha256()

    def update(self, *parts) -> None:
        for p in parts:
            if isinstance(p, dict):
                self.update(*sorted(p.items(), key=lambda kv: kv[0]))
            elif isinstance(p, (list, tuple)):
                self.update(*p)
            elif isinstance(p, pd.DataFrame):
                self._h.update(pd.util.hash_pandas_object(
                    p.map(lambda v: v.tobytes()
                          if isinstance(v, np.ndarray) else v),
                    index=True).values.tobytes())
            elif isinstance(p, np.ndarray):
                self._h.update(p.tobytes())
            elif isinstance(p, Path):
                self._h.update(p.read_bytes())
            else:
                self._h.update(repr(p).encode())

    def hexdigest(self) -> str:
        return self._h.hexdigest()
