"""GenericMixin — verbs shared by DataFrame and Series.

Mirrors reference pandas_alchemy/generic.py:7-96: len/shape/size/empty,
head/tail, isna/notna family, abs/round, pipe, bool, the index property,
plus the internal per-column appliers ``_app``/``_cast``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from . import internal as I
from .utils import copied


class GenericMixin:
    # -- cardinality (materializing) --------------------------------------

    def __len__(self) -> int:
        # SELECT count(*) (reference generic.py:8-10); Spark count() is
        # a distributed aggregate, no data to the driver.
        return self._sdf.count()

    @property
    def empty(self) -> bool:
        # reference generic.py:12-14; head(1) beats count() at scale.
        return len(self._sdf.take(1)) == 0

    @property
    def size(self) -> int:
        return len(self) * (self._n_cols() if self.ndim == 2 else 1)

    @property
    def shape(self) -> tuple:
        if self.ndim == 2:
            return (len(self), self._n_cols())
        return (len(self),)

    @property
    def index(self) -> pd.Index:
        """Materialize index values (reference generic.py:24-29)."""
        n = self._n_idx()
        pdf = self._sdf.select([I.idx_name(i) for i in range(n)]).toPandas()
        if n > 1:
            idx = pd.MultiIndex.from_frame(pdf)
            idx.names = list(self._index)
            return idx
        values = pdf.iloc[:, 0]
        if self._mid_index and not self._mid_dense:
            values = values.rank(method="first").astype("int64") - 1
        idx = pd.Index(values)
        idx.name = self._index[0]
        return idx

    def __bool__(self) -> bool:
        # 1x1 frame -> its scalar, must be bool (reference generic.py:35-44).
        if self.ndim == 2 and self._n_cols() != 1:
            raise ValueError(
                f"The truth value of a {type(self).__name__} is ambiguous. "
                "Use a.empty, a.bool(), a.item(), a.any() or a.all().")
        rows = self._sdf.take(2)
        if len(rows) != 1:
            raise ValueError(
                f"The truth value of a {type(self).__name__} is ambiguous. "
                "Use a.empty, a.bool(), a.item(), a.any() or a.all().")
        value = rows[0][I.col_name(0)]
        if not isinstance(value, bool):
            raise ValueError(
                f"bool cannot act on a non-boolean single element "
                f"{type(self).__name__}")
        return value

    def bool(self) -> bool:
        return self.__bool__()

    # -- limits ------------------------------------------------------------

    def _drop_lineage(self) -> None:
        if getattr(self, "_lineage", None) is not None:
            self._lineage = None

    @copied
    def head(self, n: int = 5) -> None:
        # LIMIT n (reference generic.py:46-48).  When the plan was
        # reordered under a positional index (window verbs, joins) the
        # limit must follow index order or head() returns different
        # rows than to_pandas()'s first rows — orderBy+limit compiles
        # to TakeOrderedAndProject, a one-pass top-k, never a full
        # sort.  The common scan path keeps the early-exit LIMIT.
        if self._positional_reordered():
            self._sdf = self._sdf.orderBy(
                F.col(I.idx_name(0)).asc()).limit(n)
        else:
            self._sdf = self._sdf.limit(n)
        self._drop_lineage()

    @copied
    def tail(self, n: int = 5) -> None:
        """Last n rows.  The reference does count() + LIMIT/OFFSET — two
        queries (generic.py:50-57).  Dense-mid frames (true file
        positions) do it in ONE pass: top-n by rowid descending
        compiles to TakeOrderedAndProject, and export re-sorts
        ascending client-side — no count job at all.  Other frames
        filter on the row position, whose pass also counts the rows."""
        if self._mid_dense and not self._explicit_order:
            self._sdf = self._sdf.orderBy(
                F.col(I.idx_name(0)).desc()).limit(n)
            self._rows_reordered = True  # plan is desc; export resorts
        else:
            pos, total = self._positioned()
            self._sdf = pos._sdf.filter(F.col(I.ROWID) >= total - n) \
                .drop(I.ROWID)
            self._derive_rows(pos)
        self._drop_lineage()

    # -- per-column appliers ----------------------------------------------

    @copied
    def _cast(self, new_type) -> None:
        # CAST every data column (reference generic.py:59-62).
        self._sdf = self._project(
            self._idx_cols(), [c.cast(new_type) for c in self._data_cols()])
        if getattr(self, "_lineage", None) is not None:
            root, expr = self._lineage
            self._lineage = (root, expr.cast(new_type))

    @copied
    def _app(self, func) -> None:
        # apply a scalar expression fn to every data column
        # (reference generic.py:64-67).
        self._sdf = self._project(
            self._idx_cols(), [func(c) for c in self._data_cols()])
        if getattr(self, "_lineage", None) is not None:
            root, expr = self._lineage
            self._lineage = (root, func(expr))

    # -- NA / scalar functions --------------------------------------------

    def isna(self):
        return self._app(lambda c: c.isNull())  # reference generic.py:69-71

    def notna(self):
        return self._app(lambda c: c.isNotNull())  # reference generic.py:73-75

    isnull = isna  # reference generic.py:92
    notnull = notna  # reference generic.py:93

    def abs(self):
        return self._app(F.abs)  # reference generic.py:77-79

    def round(self, decimals: int = 0):
        return self._app(lambda c: F.round(c, decimals))  # generic.py:81-83

    def swaplevel(self, i=-2, j=-1):
        """Swap two index levels (MultiIndex) — a projection reorder +
        metadata swap, no data movement."""
        pi, pj = self._level_of(i), self._level_of(j)
        names = list(self._index)
        names[pi], names[pj] = names[pj], names[pi]
        order = list(range(len(names)))
        order[pi], order[pj] = order[pj], order[pi]
        new = self._shallow_copy()
        sel = [new._idx_at(k).alias(I.idx_name(m))
               for m, k in enumerate(order)]
        sel += [new._col_at(c) .alias(I.col_name(c))
                for c in range(new._n_cols())]
        new._sdf = new._sdf.select(*sel)
        new._index = pd.Index(names)
        if hasattr(new, "_drop_lineage"):
            new._drop_lineage()
        return new

    def droplevel(self, level):
        """Drop one index level — projection + metadata removal."""
        p = self._level_of(level)
        if len(self._index) < 2:
            raise ValueError(
                "Cannot remove 1 levels from an index with 1 levels: "
                "at least one level must be left.")
        names = [n for k, n in enumerate(self._index) if k != p]
        new = self._shallow_copy()
        keep = [k for k in range(len(self._index)) if k != p]
        sel = [new._idx_at(k).alias(I.idx_name(m))
               for m, k in enumerate(keep)]
        sel += [new._col_at(c).alias(I.col_name(c))
                for c in range(new._n_cols())]
        new._sdf = new._sdf.select(*sel)
        new._index = pd.Index(names)
        if hasattr(new, "_drop_lineage"):
            new._drop_lineage()
        return new

    def replace(self, to_replace, value=None):
        """pandas replace with a scalar pair or dict mapping — a CASE
        ladder per column (codegen; applied to every data column)."""
        items = (list(to_replace.items()) if isinstance(to_replace, dict)
                 else [(to_replace, value)])

        def fn(c):
            out = c
            for k, v in items:
                out = F.when(c == F.lit(k), F.lit(v)).otherwise(out)
            return out
        return self._app(fn)

    # -- plumbing ----------------------------------------------------------

    def explain(self, mode: str = "formatted"):
        """Print the Spark plan for this frame (convenience passthrough
        — audit helpers live in :mod:`pandas_alchemy_spark.plans`)."""
        self._sdf.explain(mode=mode)

    def pipe(self, func, *args, **kwargs):
        # reference generic.py:85-90
        if isinstance(func, tuple):
            func, target = func
            if target in kwargs:
                raise ValueError(f"{target} is both the pipe target and a keyword argument")
            kwargs[target] = self
            return func(*args, **kwargs)
        return func(self, *args, **kwargs)
