"""DataFrame & Series — the pandas façade over PySpark.

Re-expresses reference pandas_alchemy/alchemy.py (the DataFrame/Series
classes, op factories and broadcast dispatch, alchemy.py:25-517) on the
Spark DataFrame model.  Every verb is a logical-plan rewrite; only
``to_pandas`` / ``__len__`` / iteration / ``.iat`` execute — the same
laziness contract the reference gets from its CTE representation.

Broadcast dispatch reproduces the reference's 9 rules exactly
(alchemy.py:165-236 for DataFrame, alchemy.py:385-447 for Series),
including exception-to-exception parity for the broadcast ``ValueError``
messages (alchemy.py:216-218,225-227,433-438) and the ``TypeError``
fallthrough (alchemy.py:235-236,446-447).  Two deliberate fixes of
reference bugs (both flagged in SURVEY.md §2.8):

- ``Series <op> DataFrame`` delegates to the *matching* reflected op,
  not unconditionally ``radd`` (reference bug at alchemy.py:419-424);
- ``fill_value`` follows pandas (fill each missing *input*, keep NULL
  when both missing), not the reference's coalesce-after-op
  (alchemy.py:179-181) which wrongly fills both-missing slots.
"""

from __future__ import annotations

import datetime as _dt
import collections

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import base, generic, internal as I, ops_mixin, utils
from .functions import coercion
from .indexer import (_AtIndexer, _iAtIndexer, _iLocIndexer,
                      _LocIndexer)
from .relational import (RelationalMixin, ReshapeMixin,
                         SeriesAggMixin, SeriesRelationalMixin)
from .session import get_session

_REPR_ROWS = 10


#: analyzed-plan nodes that PROPAGATE file metadata columns: Spark's
#: AddMetadataColumns rule resolves `_metadata` through these down to
#: the file relation (probed empirically — Project/Filter/alias over a
#: scan resolve; Aggregate, and therefore pivot, does not)
_METADATA_PASSTHROUGH = frozenset(
    {"Project", "Filter", "SubqueryAlias"})


def _metadata_resolvable(sdf) -> bool:
    """True when ``_metadata.row_index`` resolves on this frame: the
    analyzed plan is a file-source relation, possibly under metadata-
    propagating nodes only.  A plan WALK instead of try/except (r13;
    VERDICT r12 #5): attaching to a derived frame threw a caught-but-
    logged JVM AnalysisException per wrap plus a wasted analyzer pass.
    Best-effort False on Spark Connect (no ``_jdf``)."""
    try:
        plan = sdf._jdf.queryExecution().analyzed()
        for _ in range(64):
            name = plan.getClass().getSimpleName()
            if name in ("LogicalRelation", "DataSourceV2Relation"):
                # a file relation alone is not enough: only some
                # formats expose row_index in their _metadata struct
                # (parquet does; CSV/JSON expose file_path.. only —
                # attaching there throws FIELD_NOT_FOUND).  Ask the
                # relation's own metadataOutput.
                mo = plan.metadataOutput()
                for i in range(mo.size()):
                    attr = mo.apply(i)
                    if attr.name() == "_metadata":
                        fields = attr.dataType().fieldNames()
                        return any(fields[j] == "row_index"
                                   for j in range(len(fields)))
                return False
            if name not in _METADATA_PASSTHROUGH:
                return False
            plan = plan.child()
    except Exception:
        return False
    return False


def _is_bool_dtype(dt) -> bool:
    return isinstance(dt, T.BooleanType)


def _scalar_lit(value):
    """Literal column from a Python/NumPy scalar, NA -> NULL."""
    if value is None or value is pd.NA or (isinstance(value, float) and pd.isna(value)):
        return F.lit(None)
    if value is pd.NaT:
        return F.lit(None)
    if hasattr(value, "item") and not isinstance(value, (bytes, str)):
        try:
            value = value.item()
        except Exception:
            pass
    if isinstance(value, pd.Timestamp):
        value = value.to_pydatetime()
    return F.lit(value)


def _is_scalar(value) -> bool:
    return pd.api.types.is_scalar(value)


def _clip_col(c, lower, upper):
    """greatest/least clip that preserves NULL (Spark's greatest/least
    *skip* NULLs, pandas clip keeps NaN; reference alchemy.py:254-262
    relies on SQL greatest which is NULL-propagating on most dialects)."""
    out = c
    if lower is not None:
        out = F.greatest(out, _scalar_lit(lower))
    if upper is not None:
        out = F.least(out, _scalar_lit(upper))
    return F.when(c.isNull(), c).otherwise(out)


def dataframe_op(name):
    """Generate (op, rop) methods (reference dataframe_op, alchemy.py:25-49)."""

    def op_func(self, other, axis="columns", level=None, fill_value=None):
        return self._op(name, other, axis=axis, level=level, fill_value=fill_value)

    def rop_func(self, other, axis="columns", level=None, fill_value=None):
        return self._op(name, other, axis=axis, level=level,
                        fill_value=fill_value, reverse=True)

    op_func.__name__ = name
    rop_func.__name__ = "r" + name
    return op_func, rop_func


def dataframe_cmp(name):
    def cmp_func(self, other, axis="columns", level=None):
        return self._op(name, other, axis=axis, level=level)

    cmp_func.__name__ = name
    return cmp_func


def series_op(name):
    def op_func(self, other, level=None, fill_value=None, axis=0):
        return self._op(name, other, level=level, fill_value=fill_value, axis=axis)

    def rop_func(self, other, level=None, fill_value=None, axis=0):
        return self._op(name, other, level=level, fill_value=fill_value,
                        axis=axis, reverse=True)

    op_func.__name__ = name
    rop_func.__name__ = "r" + name
    return op_func, rop_func


def series_cmp(name):
    def cmp_func(self, other, level=None, axis=0):
        return self._op(name, other, level=level, axis=axis)

    cmp_func.__name__ = name
    return cmp_func


class DataFrame(base.BaseFrame, generic.GenericMixin, ops_mixin.OpsMixin,
                RelationalMixin, ReshapeMixin):
    """2-D labeled frame backed by a lazy Spark plan
    (reference DataFrame, alchemy.py:99-350)."""

    ndim = 2
    _AXIS_MAPPER = utils.merge({0: 0, "index": 0, "rows": 0}, {1: 1, "columns": 1})

    def _get_axis(self, axis):
        num = self._AXIS_MAPPER.get(axis)
        if num is None:
            raise ValueError(
                f"No axis named {axis} for object type {type(self).__name__}")
        return num

    # -- column access -----------------------------------------------------

    def __getattr__(self, name):
        # attribute access -> column Series (reference alchemy.py:106-111)
        try:
            col = self.__dict__["_columns"].get_loc(name)
            return self._seq_at(col)
        except KeyError:
            return self.__getattribute__(name)

    def _seq_at(self, i, name=None):
        """Column i as a Series — a projection keeping the index columns
        (reference alchemy.py:113-118)."""
        if name is None:
            name = self._columns[i]
        sdf = self._sdf.select(
            *[F.col(I.idx_name(k)) for k in range(self._n_idx())],
            self._col_at(i).alias(I.col_name(0)))
        s = Series(self._index, pd.Index([name]), sdf, name,
                   lineage=(self._sdf, self._col_at(i)))
        return s._derive_rows(self)

    def __getitem__(self, key):
        # label -> Series; list of labels -> projection; boolean Series
        # -> row filter.  Filtering is beyond the reference surface
        # (SURVEY.md §2.3) but required by the flagship queries.
        if isinstance(key, Series):
            return self._filter_mask(key)
        if isinstance(key, list):
            positions = [self._columns.get_loc(k) for k in key]
            sdf = self._sdf.select(
                *[F.col(I.idx_name(k)) for k in range(self._n_idx())],
                *[self._col_at(p).alias(I.col_name(j)) for j, p in enumerate(positions)])
            return DataFrame(self._index, pd.Index(key), sdf)._derive_rows(self)
        return self._seq_at(self._columns.get_loc(key))

    def __setitem__(self, key, value):
        # assignment of a computed Series sharing this frame's lineage,
        # or a scalar.  Beyond-reference convenience for query building.
        if isinstance(key, str) and isinstance(value, Series):
            new = self.assign(**{key: value})
        elif _is_scalar(value):
            new = self.assign(**{key: value})
        else:
            raise TypeError(f"Cannot assign value of type {type(value)}")
        self._sdf, self._columns = new._sdf, new._columns

    @property
    def columns(self):
        return self._columns  # reference alchemy.py:120-122

    # -- iteration (materializing, streamed) ------------------------------

    def iterrows(self):
        # reference alchemy.py:124-129; toLocalIterator streams
        # partition-at-a-time instead of a full collect.
        n = self._n_idx()
        for row in self._sdf.toLocalIterator():
            vals = list(row)
            idx = tuple(vals[:n]) if self._is_mindex else vals[0]
            yield idx, pd.Series(vals[n:], index=self._columns)

    def iteritems(self):
        for i, col in enumerate(self._columns):
            yield col, self._seq_at(i, name=col)

    items = iteritems

    def itertuples(self, index=True, name="Pandas"):
        # reference alchemy.py:133-144
        fields = list(self._columns)
        if index:
            fields.insert(0, "Index")
        named = collections.namedtuple(name, fields, rename=True)
        n = self._n_idx()
        for row in self._sdf.toLocalIterator():
            vals = list(row)
            if index:
                idx = tuple(vals[:n]) if self._is_mindex else vals[0]
                yield named(idx, *vals[n:])
            else:
                yield named(*vals[n:])

    # -- scalar access -----------------------------------------------------

    @property
    def at(self):
        return _AtIndexer(self)

    @property
    def iat(self):
        return _iAtIndexer(self)

    @property
    def iloc(self):
        return _iLocIndexer(self)

    @property
    def loc(self):
        return _LocIndexer(self)

    def _get_value(self, index, col, takeable=False):
        """Scalar at (row, col) (reference alchemy.py:146-163)."""
        if not takeable:
            raise NotImplementedError
        at = utils.wrap(col, self._n_cols())
        if at < 0 or at >= self._n_cols():
            # pandas 1.2.3 says axis 0 here; kept for exception parity
            # (reference alchemy.py:149-155).
            raise IndexError(f"index {col} is out of bounds for "
                             f"axis 0 with size {self._n_cols()}")
        return self._value_at(index, at)

    # -- the broadcast dispatch (9 rules) ---------------------------------

    @utils.copied
    def _op(self, op, other, axis="columns", level=None, fill_value=None,
            reverse=False):
        axis = 1 if axis is None else self._get_axis(axis)
        dtypes = self._dtypes()
        is_cmp = op in coercion.COMPARISONS

        def app_op(lhs, rhs, l_bool, r_bool):
            if fill_value is not None and not is_cmp:
                both_null = lhs.isNull() & rhs.isNull()
                fv = _scalar_lit(fill_value)
                lhs2, rhs2 = F.coalesce(lhs, fv), F.coalesce(rhs, fv)
                if reverse:
                    lhs2, rhs2 = rhs2, lhs2
                    l_bool, r_bool = r_bool, l_bool
                res = coercion.apply_op(op, lhs2, rhs2, l_bool=l_bool, r_bool=r_bool)
                return F.when(both_null, F.lit(None)).otherwise(res)
            if reverse:
                lhs, rhs = rhs, lhs
                l_bool, r_bool = r_bool, l_bool
            return coercion.apply_op(op, lhs, rhs, l_bool=l_bool, r_bool=r_bool)

        # rule 1: scalar -> every data column (reference alchemy.py:183-186)
        if _is_scalar(other):
            r_bool = isinstance(other, bool)
            cols = [app_op(self._col_at(i), _scalar_lit(other),
                           _is_bool_dtype(dtypes[i]), r_bool)
                    for i in range(self._n_cols())]
            self._sdf = self._project(self._idx_cols(), cols)
            return

        # rules 2-3: Series operand
        if isinstance(other, (Series, pd.Series)):
            if axis == 1:
                # rule 2: align Series index labels against our column
                # labels; the Series is materialized to literals — one
                # value per column, small by construction (reference
                # alchemy.py:187-196 does list(other)).
                pser = other.to_pandas() if isinstance(other, Series) else other
                joined, lpos, rpos = self._join_cols(self._columns, pser.index)
                values = list(pser)
                cols = []
                for i, j in zip(lpos, rpos):
                    rhs = F.lit(None) if j == -1 else _scalar_lit(values[j])
                    r_bool = j != -1 and isinstance(values[j], bool)
                    l_bool = i != -1 and _is_bool_dtype(dtypes[i])
                    cols.append(app_op(self._col_at(i), rhs, l_bool, r_bool))
                self._sdf = self._project(self._idx_cols(), cols)
                self._columns = joined
                return
            # rule 3: axis=0 -> full-outer index join, the Series column
            # against every data column (reference alchemy.py:197-199).
            if isinstance(other, pd.Series):
                other = Series.from_pandas(other)
            o_bool = _is_bool_dtype(other._dtypes()[0])
            other = self._align_mids_with(other)
            joined, lcol, rcol, idx, idx_names = self._join_idx(other)
            cols = [app_op(lcol(i), rcol(0), _is_bool_dtype(dtypes[i]), o_bool)
                    for i in range(self._n_cols())]
            self._sdf = base.BaseFrame(idx_names, self._columns, joined)._project(idx, cols)
            self._index = idx_names
            self._merge_rows(self, other)
            return

        # rule 4: DataFrame operand -> align columns and rows
        # (reference alchemy.py:200-211; self-join aliasing via the
        # l_/r_ renames in _join_idx).
        if isinstance(other, (DataFrame, pd.DataFrame)):
            if isinstance(other, pd.DataFrame):
                other = DataFrame.from_pandas(other)
            o_dtypes = other._dtypes()
            joined_labels, lpos, rpos = self._join_cols(self._columns, other._columns)
            other = self._align_mids_with(other)
            joined, lcol, rcol, idx, idx_names = self._join_idx(other)
            cols = []
            for i, j in zip(lpos, rpos):
                l_bool = i != -1 and _is_bool_dtype(dtypes[i])
                r_bool = j != -1 and _is_bool_dtype(o_dtypes[j])
                cols.append(app_op(lcol(i), rcol(j), l_bool, r_bool))
            self._sdf = base.BaseFrame(idx_names, joined_labels, joined)._project(idx, cols)
            self._index = idx_names
            self._columns = joined_labels
            self._merge_rows(self, other)
            return

        # rules 5-6: plain list-likes
        if pd.api.types.is_list_like(other):
            other = list(other)
            if axis == 1:
                # rule 5: element i applied to column i
                # (reference alchemy.py:212-223)
                num_cols = self._n_cols()
                if len(other) != num_cols:
                    raise ValueError(f"Unable to coerce to Series, length "
                                     f"must be {num_cols}: given {len(other)}")
                cols = [app_op(self._col_at(i), _scalar_lit(other[i]),
                               _is_bool_dtype(dtypes[i]), isinstance(other[i], bool))
                        for i in range(num_cols)]
                self._sdf = self._project(self._idx_cols(), cols)
                return
            # rule 6: positional paste-join (reference alchemy.py:224-234);
            # the row count for the error contract comes from the same
            # pass that numbers the rows
            this, num_rows = self._positioned()
            if len(other) != num_rows:
                raise ValueError(f"Unable to coerce to Series, length "
                                 f"must be {num_rows}: given {len(other)}")
            joined, lcol, rcol, idx = this._paste_join(
                _list_to_sdf(other), I.idx_name(0))
            cols = [app_op(lcol(i), rcol(0), _is_bool_dtype(dtypes[i]),
                           all(isinstance(v, bool) for v in other))
                    for i in range(self._n_cols())]
            self._sdf = base.BaseFrame(self._index, self._columns, joined)._project(idx, cols)
            self._merge_rows(this)
            return

        # rule 9 (reference alchemy.py:235-236)
        raise TypeError(f"Cannot broadcast np.ndarray with "
                        f"operand of type {type(other)}")

    add, radd = dataframe_op("add")
    sub, rsub = dataframe_op("sub")
    mul, rmul = dataframe_op("mul")
    div, rdiv = dataframe_op("div")
    truediv, rtruediv = dataframe_op("truediv")
    floordiv, rfloordiv = dataframe_op("floordiv")
    mod, rmod = dataframe_op("mod")
    pow, rpow = dataframe_op("pow")

    eq = dataframe_cmp("eq")
    ne = dataframe_cmp("ne")
    le = dataframe_cmp("le")
    lt = dataframe_cmp("lt")
    ge = dataframe_cmp("ge")
    gt = dataframe_cmp("gt")

    # -- clip / applymap ---------------------------------------------------

    @utils.copied
    def clip(self, lower=None, upper=None, axis=None, *args, **kwargs):
        # greatest(c, lower) then least(c, upper)
        # (reference alchemy.py:254-262)
        if axis is None:
            if not _is_scalar(lower) or not _is_scalar(upper):
                raise ValueError("Must specify axis=0 or 1")
        self._sdf = self._project(
            self._idx_cols(), [_clip_col(c, lower, upper) for c in self._data_cols()])

    @utils.copied
    def applymap(self, func, na_action=None):
        # func: Column -> Column expression, as the reference's funcs are
        # SQLAlchemy-expression-valued (alchemy.py:264-275).
        if na_action not in (None, "ignore"):
            raise ValueError(f"na_action must be 'ignore' or None. "
                             f"Got {repr(na_action)}")

        def app(c):
            if na_action is None:
                return func(c)
            return F.when(c.isNull(), c).otherwise(func(c))

        self._sdf = self._project(
            self._idx_cols(), [app(c) for c in self._data_cols()])

    def apply(self, func, axis=1, dtype: str = "double"):
        """pandas ``df.apply(func, axis=1)`` — the ROW-WISE escape
        hatch, as a ``mapInPandas`` pass (Arrow batches, executor-side;
        ``func`` sees each row as a pandas Series keyed by the column
        labels) returning a Series typed ``dtype``.

        COST WARNING: this runs ``func`` once per ROW in Python — the
        slowest path in the engine (~100x slower than a column
        expression and it defeats codegen, pushdown and pruning).
        Reach for column expressions / ``assign`` first and
        ``applymap`` for elementwise transforms; keep ``apply(axis=1)``
        for genuinely row-entangled logic you cannot express
        columnwise.  ``axis=0`` (column-wise reductions) is served by
        the dedicated reductions (sum/mean/...) — not implemented
        here."""
        if axis not in (1, "columns"):
            raise NotImplementedError(
                "apply(axis=0) — use the column reductions "
                "(sum/mean/min/max/...) instead; apply implements the "
                "row-wise axis=1 escape hatch only")
        n = self._n_idx()
        idx_names = [I.idx_name(i) for i in range(n)]
        labels = [str(c) for c in self._columns]
        named = self._sdf.select(
            *[F.col(nm) for nm in idx_names],
            *[self._col_at(i).alias(f"__d_{i}")
              for i in range(len(labels))])
        data_cols = [f"__d_{i}" for i in range(len(labels))]
        rename = dict(zip(data_cols, labels))
        idx_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in named.schema.fields[:n])
        out_schema = f"{idx_schema}, {I.col_name(0)} {dtype}"

        def run(it):
            for pdf in it:
                if len(pdf) == 0:
                    continue
                user = pdf[data_cols].rename(columns=rename)
                res = pdf[idx_names].copy()
                res[I.col_name(0)] = user.apply(func, axis=1)
                yield res

        body = named.mapInPandas(run, out_schema)
        return Series(self._index, None, body, None)._merge_rows(self)

    def interpolate(self, method: str = "linear", limit=None,
                    limit_direction=None):
        """pandas ``df.interpolate()``: linear interpolation of every
        NUMERIC column's null holes in index order; non-numeric
        columns pass through unchanged (pandas 2.x behavior).  All
        columns run in ONE fused segmented scan
        (segscan.interpolate_scan_multi) — one range shuffle and one
        pass regardless of column count; the carry is two (position,
        value) scalars per column per partition.  Numeric columns
        come back as double (pandas promotes)."""
        from .operators.analytic import _check_interp_args
        from .operators.segscan import interpolate_scan_multi
        ld = _check_interp_args(method, limit, limit_direction)
        num_types = ("bigint", "int", "smallint", "tinyint", "double",
                     "float")
        n = self._n_idx()
        idx_names = [I.idx_name(i) for i in range(n)]
        sel = [self._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        val_names = []
        for i, t in enumerate(self._dtypes()):
            sel.append(self._col_at(i).alias(I.col_name(i)))
            if t.simpleString() in num_types:
                val_names.append(I.col_name(i))
        tmp = self._sdf.select(*sel)
        out_names = {c: f"{c}__o" for c in val_names}
        scanned = interpolate_scan_multi(tmp, val_names, idx_names,
                                         ld, limit, out_names)
        final = scanned.select(
            *[F.col(nm) for nm in idx_names],
            *[F.col(out_names.get(I.col_name(i), I.col_name(i)))
              .alias(I.col_name(i))
              for i in range(self._n_cols())])
        return DataFrame(self._index, self._columns, final)._merge_rows(self)

    # -- frame-level global scans (one fused pass for all columns) ---------

    _NUM_TYPES = ("bigint", "int", "smallint", "tinyint", "double",
                  "float")

    def _named_with_idx(self):
        """(tmp_sdf, idx_names): every index level and data column
        aliased to its internal name — the layout the multi-column
        scans read."""
        n = self._n_idx()
        idx_names = [I.idx_name(i) for i in range(n)]
        sel = [self._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        sel += [self._col_at(i).alias(I.col_name(i))
                for i in range(self._n_cols())]
        return self._sdf.select(*sel), idx_names

    def _pack_scanned(self, scanned, idx_names, out_names):
        final = scanned.select(
            *[F.col(nm) for nm in idx_names],
            *[F.col(out_names.get(I.col_name(i), I.col_name(i)))
              .alias(I.col_name(i))
              for i in range(self._n_cols())])
        return DataFrame(self._index, self._columns, final)._merge_rows(self)

    def _require_numeric(self, verb):
        bad = [str(self._columns[i]) for i, t in enumerate(self._dtypes())
               if t.simpleString() not in self._NUM_TYPES]
        if bad:
            raise TypeError(
                f"DataFrame.{verb} is numeric-only; non-numeric "
                f"columns {bad} — select the numeric columns first")

    def _frame_cum(self, op):
        from .operators.segscan import cum_scan_multi
        self._require_numeric("cum" + op)
        tmp, idx_names = self._named_with_idx()
        vals = [I.col_name(i) for i in range(self._n_cols())]
        out_names = {c: f"{c}__o" for c in vals}
        scanned = cum_scan_multi(tmp, vals, idx_names, op,
                                 [out_names[c] for c in vals])
        return self._pack_scanned(scanned, idx_names, out_names)

    def cumsum(self):
        """pandas ``df.cumsum()``: every column's global running sum
        in ONE fused segmented scan (segscan.cum_scan_multi) — one
        range shuffle and one pass regardless of column count, no
        single-partition window."""
        return self._frame_cum("sum")

    def cumprod(self):
        return self._frame_cum("prod")

    def cummax(self):
        return self._frame_cum("max")

    def cummin(self):
        return self._frame_cum("min")

    def _frame_delta(self, kind, periods, fill_value=None, verb=""):
        from .operators.segscan import shift_delta_scan_multi
        if kind != "shift":
            self._require_numeric(verb)
        tmp, idx_names = self._named_with_idx()
        vals = [I.col_name(i) for i in range(self._n_cols())]
        out_names = {c: f"{c}__o" for c in vals}
        scanned = shift_delta_scan_multi(
            tmp, vals, idx_names, periods, kind, fill_value,
            [out_names[c] for c in vals])
        return self._pack_scanned(scanned, idx_names, out_names)

    def shift(self, periods: int = 1, fill_value=None):
        """pandas ``df.shift()``: every column (any dtype) lagged in
        index order — ONE fused border-exchange scan; the k border
        rows of all columns travel together."""
        return self._frame_delta("shift", periods, fill_value)

    def diff(self, periods: int = 1):
        return self._frame_delta("diff", periods, verb="diff")

    def pct_change(self, periods: int = 1):
        return self._frame_delta("pct", periods, verb="pct_change")

    def ffill(self, limit=None):
        """pandas ``df.ffill()``: every column's forward fill in ONE
        fused scan (segscan.fill_scan_multi — all columns' carries
        travel in a single partials row).  Fills in INDEX order (the
        engine's global-scan contract; sort_values affects export
        order only).  ``limit=`` rides a (value, age) carry, so a
        null run spanning partitions fills exactly its first
        ``limit`` positions."""
        return self._frame_fill("ffill", limit)

    def bfill(self, limit=None):
        return self._frame_fill("bfill", limit)

    def _frame_fill(self, direction, limit=None):
        from .operators.segscan import fill_scan_multi
        tmp, idx_names = self._named_with_idx()
        vals = [I.col_name(i) for i in range(self._n_cols())]
        out_names = {c: f"{c}__o" for c in vals}
        scanned = fill_scan_multi(tmp, vals, idx_names, direction,
                                  [out_names[c] for c in vals],
                                  limit=limit)
        return self._pack_scanned(scanned, idx_names, out_names)

    def asof(self, where):
        """pandas ``df.asof(where)``: the last row with NO missing
        values (null OR IEEE NaN) whose index label is <= each probe
        — every probe fused into one filtered max_by pass; returns a
        pandas Series (scalar probe) or DataFrame (list-like), like
        pandas.  Duplicate index labels at the cutoff: ANY fully-valid
        row with the max label (pandas picks the last by position —
        that order is what a sort costs at scale; same documented
        relaxation as idxmax)."""
        listlike = pd.api.types.is_list_like(where)
        probes = list(where) if listlike else [where]
        labels = [str(c) for c in self._columns]
        if not probes:
            return pd.DataFrame(columns=labels)
        idx0 = self._idx_at(0)

        def valid(i):
            c = self._col_at(i)
            v = c.isNotNull()
            if self._dtypes()[i].simpleString() in ("double",
                                                    "float"):
                v = v & ~F.isnan(c)
            return v

        ok = valid(0)
        for i in range(1, self._n_cols()):
            ok = ok & valid(i)
        aggs = []
        for j, p in enumerate(probes):
            gate = F.when(ok & (idx0 <= F.lit(p)), idx0)
            for i in range(self._n_cols()):
                aggs.append(F.max_by(self._col_at(i), gate)
                            .alias(f"__a{j}_{i}"))
        row = self._sdf.agg(*aggs).collect()[0]
        data = [[row[f"__a{j}_{i}"] for i in range(self._n_cols())]
                for j in range(len(probes))]
        out = pd.DataFrame(data, columns=labels,
                           index=pd.Index(probes))
        if not listlike:
            return out.iloc[0]
        return out

    @classmethod
    def from_dict(cls, data, orient="columns"):
        """Literal frame from a dict — pandas builds it, the engine
        ships it (Arrow createDataFrame)."""
        return cls.from_pandas(pd.DataFrame.from_dict(data,
                                                      orient=orient))

    @classmethod
    def from_records(cls, data, columns=None):
        return cls.from_pandas(pd.DataFrame.from_records(
            data, columns=columns))

    def to_json(self, path, mode: str = "overwrite"):
        from .sources.io import to_json
        return to_json(self, path, mode=mode)

    def to_orc(self, path, mode: str = "overwrite",
               partition_by=None):
        from .sources.io import to_orc
        return to_orc(self, path, mode=mode, partition_by=partition_by)

    def to_string(self, *args, **kwargs):
        """Materializer: collect and render via pandas."""
        return self.to_pandas().to_string(*args, **kwargs)

    def transform(self, func):
        """pandas ``df.transform(func)``: ``func`` applied to every
        column as an ENGINE Series (compose engine expressions — the
        result stays ONE projection; arbitrary elementwise Python
        belongs in applymap)."""
        cols = []
        for lab in self._columns:
            res = func(self[lab])
            if (not hasattr(res, "_lineage_root")
                    or res._lineage_root is not self._sdf):
                raise ValueError(
                    "transform func must return an expression over "
                    "its input column (engine Series ops); for "
                    "elementwise Python use applymap")
            cols.append(res._lineage_expr)
        idx = [self._idx_at(i) for i in range(self._n_idx())]
        out = self._shallow_copy()
        out._sdf = self._project(idx, cols)
        if hasattr(out, "_drop_lineage"):
            out._drop_lineage()
        return out

    def rolling(self, window: int, min_periods: int | None = None):
        """pandas ``df.rolling(n)`` over the NUMERIC columns: every
        column's windows in ONE fused border-exchange scan
        (segscan.rolling_scan_multi — all columns' n-1 border rows
        travel together, one range shuffle).  Count-based windows;
        for time offsets or other dtypes use the per-column Series
        form."""
        if isinstance(window, str):
            raise NotImplementedError(
                "frame-level rolling takes a row count; time-offset "
                "windows: use the per-column series.rolling('7D')")
        return _FrameRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """pandas ``df.expanding()`` over the numeric columns — the
        rolling machinery is window-bounded, so this raises toward
        the per-column form (prefix carries differ per aggregate)."""
        raise NotImplementedError(
            "frame-level expanding is not supported; use the "
            "per-column series.expanding() (distributed prefix "
            "scans) or groupby(...).expanding()")

    def ewm(self, alpha: float):
        """pandas ``df.ewm(alpha)`` (mean only) over the numeric
        columns: every column's exact recurrence in ONE fused
        segmented scan (scan.ewm_mean_multi — one carry row per
        partition holding all columns' weighted tails)."""
        return _FrameEwm(self, alpha)

    def rank(self, method: str = "min", ascending: bool = True,
             pct: bool = False):
        """pandas ``df.rank()``: each numeric column ranked globally.
        Ranks of different columns need DIFFERENT value orders, so the
        fused one-shuffle form cannot exist; this chains one
        distributed rank scan per column (k columns -> k range
        shuffles, no single-partition window, no joins — each scan
        carries the other columns through)."""
        from .operators.segscan import rank_scan
        self._require_numeric("rank")
        tmp, idx_names = self._named_with_idx()
        out_names = {}
        cur = tmp
        for i in range(self._n_cols()):
            c = I.col_name(i)
            out_names[c] = f"{c}__o"
            cur = rank_scan(cur, c, idx_names, method, ascending,
                            out_col=f"{c}__o", pct=pct)
        return self._pack_scanned(cur, idx_names, out_names)

    # -- relabeling (metadata-only; reference alchemy.py:277-285) ----------

    @utils.copied
    def add_prefix(self, prefix):
        self._columns = pd.Index([prefix + str(c) for c in self._columns])

    @utils.copied
    def add_suffix(self, suffix):
        self._columns = pd.Index([str(c) + suffix for c in self._columns])

    # -- filtering / assignment (beyond reference, SURVEY.md §2.3) ---------

    def _filter_mask(self, mask: "Series") -> "DataFrame":
        """Boolean-mask row filter.  Fast path: a mask derived from this
        frame's own lineage filters in-plan (no join, predicate pushes
        down to the scan); otherwise align by index join."""
        root = mask._lineage_root
        if root is not None and root is self._sdf:
            cond = mask._lineage_expr
            out = DataFrame(self._index, self._columns,
                            self._sdf.filter(cond))._derive_rows(self)
            # a window-backed mask expression evaluates the window in
            # this plan -> rows come out in window order
            out._rows_reordered = (self._rows_reordered
                                   or mask._rows_reordered)
            return out
        # general path: inner join on index equality over ALL levels —
        # level-0-only equality would mis-align MultiIndex frames
        # (duplicate level-0 values multiply rows).  Null-safe so NULL
        # index labels still align, like pandas.
        if mask._n_idx() != self._n_idx():
            raise ValueError(
                "cannot align boolean mask: index has "
                f"{self._n_idx()} level(s), mask has {mask._n_idx()}")
        this, mask = self._mids_aligned(mask)
        m = this._rename_all(mask._sdf, "m_")
        cond = None
        for i in range(this._n_idx()):
            c = this._sdf[I.idx_name(i)].eqNullSafe(m[f"m_{I.idx_name(i)}"])
            cond = c if cond is None else (cond & c)
        joined = this._sdf.join(m, cond, "inner").filter(
            F.col(f"m_{I.col_name(0)}"))
        out = DataFrame(this._index, this._columns,
                        joined.select(this._sdf.columns))
        return out._merge_rows(this, mask)

    def assign(self, **kwargs) -> "DataFrame":
        """Append computed columns (beyond reference; standard pandas
        verb needed by the flagship queries)."""
        labels = list(self._columns)
        exprs = list(self._data_cols())
        for name, value in kwargs.items():
            if isinstance(value, Series):
                root = value._lineage_root
                if root is None or root is not self._sdf:
                    # Series from ANOTHER frame: align on the index
                    # (left join, pandas assign semantics) and retry
                    # the remaining assignments on the joined frame
                    out = self._assign_aligned(name, value)
                    rest = {k: v for k, v in kwargs.items() if k != name}
                    return out.assign(**rest) if rest else out
                expr = value._lineage_expr
            elif callable(value):
                expr = value(self)
                if isinstance(expr, Series):
                    expr = expr._lineage_expr
            else:
                expr = _scalar_lit(value)
            if name in labels:
                exprs[labels.index(name)] = expr
            else:
                labels.append(name)
                exprs.append(expr)
        sdf = self._project(self._idx_cols(), exprs)
        out = DataFrame(self._index, pd.Index(labels), sdf)._derive_rows(self)
        # a window-backed Series value (rank/cumsum/...) makes the
        # projected plan evaluate that window -> rows come out in
        # window order, not index order
        out._rows_reordered = self._rows_reordered or any(
            isinstance(v, Series) and v._rows_reordered
            for v in kwargs.values())
        return out

    def _assign_aligned(self, name, value: "Series") -> "DataFrame":
        """Append a Series from ANOTHER frame: LEFT join on index
        equality (pandas assign alignment — self keeps all its rows,
        unmatched get NULL).  Null-safe equality so NULL labels align.
        A value Series with duplicate index labels multiplies rows
        (pandas raises there; we document instead of pre-counting)."""
        this, val = self._mids_aligned(value)
        if val._n_idx() != this._n_idx():
            raise ValueError(
                "cannot align assigned Series: index has "
                f"{this._n_idx()} level(s), value has {val._n_idx()}")
        m = this._rename_all(val._sdf, "m_")
        cond = None
        for i in range(this._n_idx()):
            c = this._sdf[I.idx_name(i)].eqNullSafe(m[f"m_{I.idx_name(i)}"])
            cond = c if cond is None else (cond & c)
        joined = this._sdf.join(m, cond, "left")
        labels = list(this._columns)
        exprs = [joined[I.col_name(i)] for i in range(len(labels))]
        new_col = joined[f"m_{I.col_name(0)}"]
        if name in labels:
            exprs[labels.index(name)] = new_col
        else:
            labels.append(name)
            exprs.append(new_col)
        sel = [joined[I.idx_name(i)].alias(I.idx_name(i))
               for i in range(this._n_idx())]
        sel += [e.alias(I.col_name(j)) for j, e in enumerate(exprs)]
        out = DataFrame(this._index, pd.Index(labels), joined.select(*sel))
        return out._merge_rows(this, val)

    # -- materialization ---------------------------------------------------

    def to_pandas(self) -> pd.DataFrame:
        # reference alchemy.py:287-299, Arrow path instead of row loops.
        index, data = self._fetch_pandas()
        data.columns = list(self._columns)
        return data.set_index(index)

    def __repr__(self):
        # limit-fetch repr (SURVEY.md Phase 3: unlike the reference's
        # full-fetch monkeypatch, __init__.py:5-18)
        head = self.head(_REPR_ROWS + 1).to_pandas()
        truncated = len(head) > _REPR_ROWS
        body = repr(head.iloc[:_REPR_ROWS])
        return body + ("\n..." if truncated else "")

    # -- constructors ------------------------------------------------------

    @staticmethod
    def from_pandas(df: pd.DataFrame, optional: bool = False):
        """Ingest a literal pandas frame (reference alchemy.py:301-311).

        The reference builds one SELECT-literal per row UNION ALL-ed —
        O(rows) SQL text; we go through Arrow ``createDataFrame``.
        NaN/NaT normalize to NULL on ingest, matching the reference's
        NA adapters (dialect.py:167-182)."""
        if not isinstance(df, pd.DataFrame):
            if optional:
                return df
            raise TypeError("Must be a pandas DataFrame")
        spark = get_session()
        index = pd.Index(df.index.names)
        flat = df.reset_index()
        n_idx = df.index.nlevels
        names = I.idx_names(n_idx) + I.col_names(len(df.columns))
        flat.columns = names
        sdf = spark.createDataFrame(flat)
        sdf = _nan_to_null(sdf)
        out = DataFrame(index, df.columns, sdf)
        # a non-default index means "row order is NOT index order";
        # export must then follow plan order (base._explicit_order)
        default_idx = (n_idx == 1 and df.index.name is None
                       and df.index.equals(pd.RangeIndex(len(df))))
        out._explicit_order = not default_idx
        return out

    @staticmethod
    def from_table(table, schema=None, columns=None, index=None):
        """Scan a table/path as a DataFrame (reference alchemy.py:313-350).

        ``table`` is a Spark table name or a parquet path/glob.  Schema
        comes from the catalog / parquet footers (the analogue of
        SQLAlchemy reflection).  ``columns`` projects (column-pruned at
        the scan), ``index`` promotes named columns to index levels;
        with no index a 0-based rowid is synthesized via the scalable
        partition-offset pass (operators/rowid.py), not a global window.
        """
        spark = get_session()
        if isinstance(table, str) and (
                "/" in table or table.endswith(".parquet")):
            sdf = spark.read.parquet(table)
        else:
            sdf = spark.read.table(table if schema is None else f"{schema}.{table}")
        return DataFrame._from_spark_scan(sdf, columns=columns, index=index)

    @staticmethod
    def from_spark(sdf, columns=None, index=None):
        """Wrap an EXISTING Spark DataFrame as an engine frame — the
        interop bridge for pipelines that start in raw Spark (or
        Structured Streaming foreachBatch) and want the pandas verbs
        from there.  Same positional-layout rules as from_table."""
        return DataFrame._from_spark_scan(sdf, columns=columns,
                                          index=index)

    @staticmethod
    def _from_spark_scan(sdf, columns=None, index=None):
        """Wrap an arbitrary Spark scan in the positional layout
        (shared by from_table and the sources.io readers)."""
        cols = list(sdf.columns)
        mid = dense = False
        origin = None
        if index is None:
            # provisional rowid, densified to the reference's 0-based
            # contiguous form only when index values become observable
            # (base.BaseFrame._mid_index).  Single-file scans use the
            # parquet reader's _metadata.row_index: it is the TRUE file
            # position (so the provisional index is already the pandas
            # RangeIndex — no densify pass ever needed) and, unlike
            # monotonically_increasing_id, it is DETERMINISTIC.  That
            # determinism is what keeps predicate pushdown alive:
            # Catalyst refuses to move filters below a projection
            # containing a nondeterministic expression, so a monotonic
            # rowid silently pins every downstream mask filter ABOVE
            # the scan (no PushedFilters).  Multi-file scans fall back
            # to the monotonic id (row_index repeats per file); their
            # masks should be applied before wrapping when pushdown
            # matters.
            try:
                files = sorted(sdf.inputFiles())
            except Exception:
                files = []
            if len(files) == 1 and _metadata_resolvable(sdf):
                # parquet only — CSV/JSON metadata has no row_index.
                # The resolvability check is a PLAN walk, not a
                # try/except (r13; VERDICT r12 #5): a DERIVED frame
                # that still reports one input file (e.g. post-pivot)
                # made the attach throw a full JVM AnalysisException
                # per wrap — caught, but each one emitted an
                # ERROR-level DataFrameQueryContextLogger block and
                # paid a wasted analyzer pass.
                sdf = sdf.withColumn(
                    I.ROWID, F.col("_metadata.row_index"))
                dense = True
            else:
                sdf = sdf.withColumn(
                    I.ROWID, F.monotonically_increasing_id())
            idx_exprs = [F.col(I.ROWID)]
            index = pd.Index((None,))
            mid = True
            # monotonic mids are comparable between frames of the same
            # file set (deterministic scan partitioning within a
            # session); unknown inputs get a fresh token, so only
            # frames DERIVED from this one join on raw mids
            origin = ("scan",) + tuple(files) if files else None
        else:
            if not pd.api.types.is_list_like(index):
                index = (index,)
            index = pd.Index(index)
            for i in index:
                cols.pop(cols.index(i))
            idx_exprs = [F.col(i) for i in index]
        if columns is None:
            columns = pd.Index(cols)
        else:
            columns = pd.Index(columns)
            for c in columns:
                cols.index(c)  # raises ValueError on unknown, as reference
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx_exprs)]
        sel += [F.col(c).alias(I.col_name(i)) for i, c in enumerate(columns)]
        out = DataFrame(index, columns, sdf.select(*sel))
        return out._mint_rows(dense, origin) if mid else out


def _concat_columns(objs):
    """concat(axis=1): column-wise paste with full-outer index
    alignment, pairwise (the same join the binary ops use)."""
    out = objs[0]
    if isinstance(out, Series):
        out = out.to_frame()
    for o in objs[1:]:
        if isinstance(o, Series):
            o = o.to_frame()
        this, o = out._mids_aligned(o)
        joined, lcol, rcol, idx, idx_names = this._join_idx(o)
        labels = list(this._columns) + list(o._columns)
        exprs = [lcol(i) for i in range(len(this._columns))]
        exprs += [rcol(i) for i in range(len(o._columns))]
        sdf = base.BaseFrame(idx_names, None, joined)._project(idx, exprs)
        out = DataFrame(this._index, pd.Index(labels), sdf)._merge_rows(this, o)
    return out


def concat(objs, axis=0, ignore_index: bool = False):
    """Row-wise concatenation (beyond-reference set op, SURVEY.md §2.7
    lists UNION ALL as internal-only in the reference).

    Columns are aligned by label (outer, first-appearance order —
    pandas sort=False); missing labels become NULL.  Spark's unionAll
    is a zero-shuffle plan node: partitions of the inputs are simply
    concatenated, so this scales as a metadata op.  ``ignore_index``
    re-synthesizes a 0-based rowid lazily (provisional mid-index; no
    count pass until index values are observed)."""
    objs = list(objs)
    if not objs:
        raise ValueError("No objects to concatenate")
    if axis in (1, "columns"):
        return _concat_columns(objs)
    n_idx = objs[0]._n_idx()
    for o in objs[1:]:
        if o._n_idx() != n_idx:
            raise ValueError("cannot concat frames with different "
                             "numbers of index levels")
    labels: list = []
    for o in objs:
        for lab in o._columns:
            if lab not in labels:
                labels.append(lab)
    any_mid = any(o._mid_index for o in objs)
    if any_mid and not ignore_index:
        # pandas keeps each part's own labels (0..n-1, 0..m-1, ...) in
        # part order.  Materialize them per part BEFORE the union
        # (metadata flip for dense mids, one count pass for monotonic
        # ones): per-part positions repeat across parts, so the result
        # can NOT be a mid-index — a mid claims "index order == row
        # order" and export would re-sort, interleaving the parts —
        # nor are the duplicated values usable by the dense tail()/
        # iloc fast paths.
        objs = [o._densified() for o in objs]
    parts = []
    for o in objs:
        sel = [o._idx_at(i).alias(I.idx_name(i)) for i in range(n_idx)]
        for j, lab in enumerate(labels):
            if lab in o._columns:
                e = o._col_at(o._columns.get_loc(lab))
            else:
                e = F.lit(None).cast("double")
            sel.append(e.alias(I.col_name(j)))
        parts.append(o._sdf.select(*sel))
    sdf = parts[0]
    for p in parts[1:]:
        sdf = sdf.unionAll(p)
    out = DataFrame(objs[0]._index, pd.Index(labels), sdf)
    if ignore_index:
        body = sdf.drop(*[I.idx_name(i) for i in range(n_idx)])
        body = body.select(
            F.monotonically_increasing_id().alias(I.idx_name(0)),
            *[I.col_name(j) for j in range(len(labels))])
        out = DataFrame(pd.Index((None,)), pd.Index(labels), body)._mint_rows()
    elif any_mid:
        # parts were densified above: index values are true per-part
        # positions (duplicated across parts), and pandas row order is
        # part-major — which IS the plan order (unionAll concatenates
        # children's partitions, a narrow op).  Export must follow
        # plan order, not re-sort by the duplicated positional index.
        out._explicit_order = True
    return out


class Series(base.BaseFrame, generic.GenericMixin, ops_mixin.OpsMixin,
             SeriesAggMixin, SeriesRelationalMixin):
    """1-D labeled array backed by a lazy Spark plan
    (reference Series, alchemy.py:353-517)."""

    ndim = 1
    name = None  # class default; __init__ sets the instance value
    _AXIS_MAPPER = {0: 0, "index": 0, "rows": 0}

    def __init__(self, index, columns, sdf, name, lineage=None):
        super().__init__(index, columns, sdf)
        self.name = name
        # (root_sdf, Column) when this Series is a projection/expression
        # over a parent frame's plan — enables in-plan filter/assign
        # without a self-join.
        self._lineage = lineage

    @property
    def _lineage_root(self):
        return self._lineage[0] if self._lineage else None

    @property
    def _lineage_expr(self):
        return self._lineage[1] if self._lineage else None

    def _get_axis(self, axis):
        num = self._AXIS_MAPPER.get(axis)
        if num is None:
            raise ValueError(
                f"No axis named {axis} for object type {type(self).__name__}")
        return num

    @property
    def _the_col(self):
        return self._col_at(0)  # reference alchemy.py:365-368

    def map(self, arg, na_action=None):
        """pandas Series.map: dict mapping (unmatched -> NULL, like
        pandas NaN) or an expression-returning callable.  Dict maps
        compile to a CASE ladder; at large domains prefer a broadcast
        join via merge."""
        if isinstance(arg, dict):
            def fn(c):
                out = F.lit(None)
                for k, v in arg.items():
                    out = F.when(c == _scalar_lit(k),
                                 _scalar_lit(v)).otherwise(out)
                if na_action == "ignore":
                    out = F.when(c.isNull(), F.lit(None)).otherwise(out)
                return out
            return self._app(fn)
        if callable(arg):
            return self._app(lambda c: arg(c))
        raise TypeError(f"unsupported map argument: {type(arg)}")

    def to_frame(self, name=None):
        """1-column DataFrame from this Series (plan unchanged)."""
        label = name if name is not None else (self.name or 0)
        return DataFrame(self._index, pd.Index([label]), self._sdf)._derive_rows(self)

    def _zip_with(self, other, fn):
        """Align with another Series and apply a binary column
        function: lineage fast path (both project the same parent plan
        — zero joins) else full-outer index join, the same two paths
        the arithmetic ``_op`` uses."""
        new = self._shallow_copy()
        if isinstance(other, pd.Series):
            other = Series.from_pandas(other)
        if (new._lineage is not None and other._lineage is not None
                and new._lineage_root is other._lineage_root):
            root = new._lineage_root
            expr = fn(new._lineage_expr, other._lineage_expr)
            new._sdf = root.select(
                *[root[I.idx_name(k)] for k in range(new._n_idx())],
                expr.alias(I.col_name(0)))
            new._lineage = (root, expr)
            return new
        this, other = new._mids_aligned(other)
        joined, lcol, rcol, idx, idx_names = this._join_idx(other)
        new._sdf = base.BaseFrame(idx_names, None, joined)._project(
            idx, [fn(lcol(0), rcol(0))])
        new._lineage = None
        return new._merge_rows(this, other)

    def where(self, cond, other=None):
        """pandas Series.where: keep values where ``cond`` is True,
        replace elsewhere (NULL cond counts as False, like pandas NA).
        ``other`` may be a scalar, or a Series sharing this series'
        plan (lineage fast path — one three-way CASE projection)."""
        if isinstance(other, Series):
            return self._three_way(cond, other, keep_on_true=True)
        o = _scalar_lit(other)
        return self._zip_with(cond, lambda c, m: F.when(m, c).otherwise(o))

    def mask(self, cond, other=None):
        """pandas Series.mask: replace values where ``cond`` is True."""
        if isinstance(other, Series):
            return self._three_way(cond, other, keep_on_true=False)
        o = _scalar_lit(other)
        return self._zip_with(cond, lambda c, m: F.when(m, o).otherwise(c))

    def _three_way(self, cond, other, keep_on_true: bool):
        """where/mask with a SERIES replacement: all three operands
        must share one lineage root (columns of the same frame) — the
        result is one CASE projection, no joins."""
        root = self._lineage_root
        if (root is None
                or getattr(cond, "_lineage_root", None) is not root
                or other._lineage_root is not root):
            raise NotImplementedError(
                "where/mask with a Series replacement needs all three "
                "operands on one parent frame; align them into one "
                "frame first (assign)")
        c, m, o = (self._lineage_expr, cond._lineage_expr,
                   other._lineage_expr)
        expr = (F.when(m, c).otherwise(o) if keep_on_true
                else F.when(m, o).otherwise(c))
        n = self._n_idx()
        body = root.select(
            *[F.col(I.idx_name(i)) for i in range(n)],
            expr.alias(I.col_name(0)))
        out = Series(self._index, None, body, self.name,
                     lineage=(root, expr))
        return out._derive_rows(self)

    def combine_first(self, other):
        """pandas combine_first: self's values, with holes filled from
        ``other`` after index alignment (coalesce over the outer join)."""
        return self._zip_with(other, F.coalesce)

    def explode(self):
        """pandas Series.explode: one row per array element, index
        values repeated; empty/NULL arrays yield a NULL row
        (``explode_outer``).  A generator, not a join — stays in one
        stage, no shuffle."""
        new = self._shallow_copy()
        idx = [new._idx_at(i) for i in range(new._n_idx())]
        new._sdf = new._project(idx, [F.explode_outer(new._the_col)])
        new._drop_lineage()
        return new

    # -- accessor namespaces (beyond-reference; SURVEY.md §2.9) ------------

    @property
    def str(self):
        from .accessors import StringMethods
        return StringMethods(self)

    @property
    def dt(self):
        from .accessors import DatetimeProperties
        return DatetimeProperties(self)

    @property
    def arr(self):
        from .accessors import ArrayMethods
        return ArrayMethods(self)

    @property
    def cat(self):
        # the tag is pinned to the exact plan object (set by
        # astype("category")); any verb that rewrote _sdf invalidated it
        meta = getattr(self, "_cat_meta", None)
        if meta is None or meta[0] is not self._sdf:
            raise AttributeError(
                "Can only use .cat accessor with a 'category' dtype")
        from .accessors import CategoricalMethods
        return CategoricalMethods(self, meta[1], meta[2])

    # -- analytic window verbs (beyond-reference; SURVEY.md §2.6) ----------

    def _win(self):
        # a provisional mid-index orders identically to the dense rowid
        # (monotonic ids are order-correlated), so no densify pass
        from .operators.analytic import SeriesWindow
        return SeriesWindow(self)

    def shift(self, periods: int = 1, fill_value=None):
        return self._win().shift(periods, fill_value)

    def diff(self, periods: int = 1):
        return self._win().diff(periods)

    def ffill(self, limit=None):
        """Forward-fill nulls from the last preceding non-null value
        (index order) — a one-scalar-carry segmented scan, no
        single-partition window.  Grouped flavor:
        ``df.groupby(k)[c].ffill()`` (which also supports limit=)."""
        return self._win().ffill(limit)

    def bfill(self, limit=None):
        """Backward-fill nulls from the next following non-null."""
        return self._win().bfill(limit)

    def interpolate(self, method: str = "linear", limit=None,
                    limit_direction=None):
        """Linear interpolation of null holes (pandas
        ``Series.interpolate()``): interior holes get the straight
        line between their non-null neighbors, edge holes the nearest
        value constant, gated by ``limit_direction``
        ('forward'/'backward'/'both') and ``limit``.  Distributed as a
        two-(position,value)-scalar-carry segmented scan
        (operators/segscan.interpolate_scan) — no single-partition
        window.  Grouped flavor: ``df.groupby(k)[c].interpolate()``
        (one shuffle, pure JVM windows)."""
        return self._win().interpolate(method, limit, limit_direction)

    def cumsum(self):
        return self._win().cumsum()

    def cummax(self):
        return self._win().cummax()

    def cummin(self):
        return self._win().cummin()

    def cumprod(self):
        return self._win().cumprod()

    def pct_change(self, periods: int = 1):
        return self._win().pct_change(periods)

    def autocorr(self, lag: int = 1):
        """Lag-N autocorrelation (pandas: Pearson corr of the series
        with itself shifted) — composes the border-exchange shift with
        the bivariate corr aggregate; returns a scalar."""
        return self.corr(self.shift(lag))

    @property
    def is_monotonic_increasing(self):
        """True when the series is non-decreasing in index order.
        Distributed check: ``diff().min() >= 0`` — per-partition
        sortedness plus the one-row border compare, exactly the state
        the diff scan already exchanges.  Any null → False (pandas)."""
        return self._is_monotonic(increasing=True)

    @property
    def is_monotonic_decreasing(self):
        return self._is_monotonic(increasing=False)

    def _is_monotonic(self, increasing: bool):
        row = self._sdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(self._the_col).alias("nn")).collect()[0]
        if row["n"] != row["nn"]:
            return False  # pandas: any NaN breaks monotonicity
        if row["n"] <= 1:
            return True
        d = self.diff()
        ext = d._reduce(F.min if increasing else F.max)
        if ext is None:
            return True
        return ext >= 0 if increasing else ext <= 0

    def rank(self, method: str = "min", ascending: bool = True,
             pct: bool = False):
        """Value ranks (pandas semantics; all five methods).
        ``pct=True`` scales by the non-null count — distinct count for
        ``dense`` — matching pandas' percentile ranks."""
        return self._win().rank(method, ascending, pct)

    def rolling(self, window: "int | str",
                min_periods: int | None = None):
        """Count-based (``rolling(3)``) or time-offset
        (``rolling('7D')`` over a datetime index) window handle."""
        from .operators.analytic import Rolling
        return Rolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        from .operators.analytic import Expanding
        return Expanding(self, min_periods)

    def ewm(self, alpha: float):
        from .operators.analytic import Ewm
        return Ewm(self, alpha)

    # -- membership / range predicates (beyond-reference) ------------------

    def fillna(self, value):
        """Fill NULLs with a scalar — a coalesce projection that stays
        in-plan (and in-lineage, so masks/assigns on the parent frame
        keep composing)."""
        return self._app(lambda c: F.coalesce(c, F.lit(value)))

    def isin(self, values):
        """pandas isin: NULL -> False (not NULL).  `IN (...) AND NOT
        NULL` keeps the predicate parquet-pushdown-eligible."""
        vals = list(values)
        return self._app(lambda c: c.isin(vals) & c.isNotNull())

    def between(self, left, right, inclusive: str = "both"):
        lo = self.ge(left) if inclusive in ("both", "left") else self.gt(left)
        hi = self.le(right) if inclusive in ("both", "right") else self.lt(right)
        return lo & hi

    # -- iteration ---------------------------------------------------------

    def __iter__(self):
        for row in self._sdf.toLocalIterator():
            yield row[self._n_idx()]

    def iteritems(self):
        n = self._n_idx()
        for row in self._sdf.toLocalIterator():
            vals = list(row)
            idx = tuple(vals[:n]) if self._is_mindex else vals[0]
            yield idx, vals[n]

    items = iteritems

    # -- scalar access -----------------------------------------------------

    @property
    def at(self):
        return _AtIndexer(self)

    @property
    def iat(self):
        return _iAtIndexer(self)

    @property
    def iloc(self):
        return _iLocIndexer(self)

    @property
    def loc(self):
        return _LocIndexer(self)

    def _get_value(self, label, takeable=False):
        # reference alchemy.py:374-383
        if not takeable:
            raise NotImplementedError
        return self._value_at(label, 0)

    # -- broadcast dispatch ------------------------------------------------

    @utils.copied
    def _op(self, op, other, level=None, fill_value=None, axis=0,
            reverse=False, lax=True):
        if axis is not None:
            self._get_axis(axis)  # validation only (reference alchemy.py:395-398)
        my_bool = _is_bool_dtype(self._dtypes()[0])
        is_cmp = op in coercion.COMPARISONS

        def app_op(lhs, rhs, l_bool, r_bool):
            if fill_value is not None and not is_cmp:
                both_null = lhs.isNull() & rhs.isNull()
                fv = _scalar_lit(fill_value)
                lhs2, rhs2 = F.coalesce(lhs, fv), F.coalesce(rhs, fv)
                if reverse:
                    lhs2, rhs2 = rhs2, lhs2
                    l_bool, r_bool = r_bool, l_bool
                res = coercion.apply_op(op, lhs2, rhs2, l_bool=l_bool, r_bool=r_bool)
                return F.when(both_null, F.lit(None)).otherwise(res)
            if reverse:
                lhs, rhs = rhs, lhs
                l_bool, r_bool = r_bool, l_bool
            return coercion.apply_op(op, lhs, rhs, l_bool=l_bool, r_bool=r_bool)

        # rule 1: scalar (reference alchemy.py:407-410)
        if _is_scalar(other):
            col = app_op(self._the_col, _scalar_lit(other), my_bool,
                         isinstance(other, bool))
            new_lineage = None
            if self._lineage is not None:
                # keep lineage so masks like (s != 0) stay in-plan
                root, expr = self._lineage
                new_lineage = (root, app_op(expr, _scalar_lit(other), my_bool,
                                            isinstance(other, bool)))
            self._sdf = self._project(self._idx_cols(), [col])
            self._lineage = new_lineage
            return

        # rule 7: Series × Series -> full-outer index join
        # (reference alchemy.py:411-418)
        if isinstance(other, (Series, pd.Series)):
            if isinstance(other, pd.Series):
                other = Series.from_pandas(other)
            # lineage fast path: both sides projections of the same
            # parent plan -> no join at all (the reference cannot do
            # this; it always full-outer-joins, SURVEY.md §4.1)
            if (self._lineage is not None and other._lineage is not None
                    and self._lineage_root is other._lineage_root):
                o_bool = _is_bool_dtype(other._dtypes()[0])
                expr = app_op(self._lineage_expr, other._lineage_expr,
                              my_bool, o_bool)
                root = self._lineage_root
                idx_exprs = [root[I.idx_name(k)] for k in range(self._n_idx())]
                self._sdf = root.select(
                    *[e.alias(I.idx_name(k)) for k, e in enumerate(idx_exprs)],
                    expr.alias(I.col_name(0)))
                self._lineage = (root, expr)
                self.name = self.name if self.name == other.name else None
                return
            o_bool = _is_bool_dtype(other._dtypes()[0])
            other = self._align_mids_with(other)
            joined, lcol, rcol, idx, idx_names = self._join_idx(other)
            col = app_op(lcol(0), rcol(0), my_bool, o_bool)
            self._sdf = base.BaseFrame(idx_names, None, joined)._project(idx, [col])
            self._index = idx_names
            self._lineage = None
            self._merge_rows(self, other)
            self.name = self.name if self.name == other.name else None
            return

        # rule 8: Series × DataFrame -> delegate to the matching
        # reflected DataFrame op (fixing reference bug alchemy.py:419-424
        # which always called radd).  pandas aligns the Series' labels
        # on the DataFrame's *columns* (axis=1), so delegate with the
        # DataFrame default axis, materializing this Series to literals.
        if isinstance(other, (DataFrame, pd.DataFrame)):
            if isinstance(other, pd.DataFrame):
                other = DataFrame.from_pandas(other)
            return other._op(op, self, axis=1, level=level,
                             fill_value=fill_value, reverse=not reverse)

        # rules 5'/6': list-likes (reference alchemy.py:425-445)
        if pd.api.types.is_list_like(other):
            other = list(other)
            if lax and len(other) == 1:
                return self._op(op, other[0], level=level,
                                fill_value=fill_value, axis=axis,
                                reverse=reverse, lax=lax)
            this, row_count = self._positioned()
            if len(other) != row_count:
                if reverse:
                    lhs, rhs = len(other), row_count
                else:
                    lhs, rhs = row_count, len(other)
                raise ValueError(f"operands could not be broadcast together "
                                 f"with shapes ({lhs},) ({rhs},)")
            joined, lcol, rcol, idx = this._paste_join(
                _list_to_sdf(other), I.idx_name(0))
            col = app_op(lcol(0), rcol(0), my_bool,
                         all(isinstance(v, bool) for v in other))
            self._sdf = base.BaseFrame(self._index, None, joined)._project(idx, [col])
            self._lineage = None
            self._merge_rows(this)
            return

        raise TypeError(f"Cannot broadcast np.ndarray with "
                        f"operand of type {type(other)}")

    add, radd = series_op("add")
    sub, rsub = series_op("sub")
    mul, rmul = series_op("mul")
    div, rdiv = series_op("div")
    truediv, rtruediv = series_op("truediv")
    floordiv, rfloordiv = series_op("floordiv")
    mod, rmod = series_op("mod")
    pow, rpow = series_op("pow")

    eq = series_cmp("eq")
    ne = series_cmp("ne")
    le = series_cmp("le")
    lt = series_cmp("lt")
    ge = series_cmp("ge")
    gt = series_cmp("gt")

    # -- clip --------------------------------------------------------------

    @utils.copied
    def clip(self, lower=None, upper=None, axis=None, *args, **kwargs):
        # reference alchemy.py:465-468
        self._sdf = self._project(self._idx_cols(),
                                  [_clip_col(self._the_col, lower, upper)])
        if self._lineage is not None:
            root, expr = self._lineage
            self._lineage = (root, _clip_col(expr, lower, upper))

    # -- prefix/suffix: concat onto *index values* (query rewrite,
    #    reference alchemy.py:470-478 — intended semantics; the
    #    reference's own code path has a latent TypeError, SURVEY §2.2) -

    @utils.copied
    def add_prefix(self, prefix):
        idx = [F.concat(F.lit(str(prefix)), self._idx_at(0).cast("string"))]
        self._sdf = self._project(idx, [self._the_col])
        self._lineage = None

    @utils.copied
    def add_suffix(self, suffix):
        idx = [F.concat(self._idx_at(0).cast("string"), F.lit(str(suffix)))]
        self._sdf = self._project(idx, [self._the_col])
        self._lineage = None

    # -- materialization ---------------------------------------------------

    def to_pandas(self) -> pd.Series:
        # reference alchemy.py:480-491
        index, data = self._fetch_pandas()
        ser = data.iloc[:, 0]
        ser.name = self.name
        ser.index = index
        return ser

    def __repr__(self):
        head = self.head(_REPR_ROWS + 1).to_pandas()
        truncated = len(head) > _REPR_ROWS
        body = repr(head.iloc[:_REPR_ROWS])
        return body + ("\n..." if truncated else "")

    # -- constructors ------------------------------------------------------

    @staticmethod
    def from_pandas(seq: pd.Series, name=None, optional: bool = False):
        # reference alchemy.py:493-506
        if not isinstance(seq, pd.Series):
            if optional:
                return seq
            raise TypeError("Must be a pandas Series")
        if name is None:
            name = seq.name
        spark = get_session()
        index = pd.Index(seq.index.names)
        flat = seq.reset_index()
        flat.columns = I.idx_names(seq.index.nlevels) + [I.col_name(0)]
        sdf = _nan_to_null(spark.createDataFrame(flat))
        out = Series(index, pd.Index([name]), sdf, name)
        default_idx = (seq.index.nlevels == 1 and seq.index.name is None
                       and seq.index.equals(pd.RangeIndex(len(seq))))
        out._explicit_order = not default_idx
        return out

    @staticmethod
    def from_list(values, name=None):
        # reference alchemy.py:508-517; rowid index comes free from
        # enumerate instead of per-row UNION ALL.
        return Series.from_pandas(pd.Series(values), name=name)


def _list_to_sdf(values):
    """(rowid, value) frame from a Python list (reference from_list,
    alchemy.py:508-517)."""
    spark = get_session()
    pdf = pd.DataFrame({I.idx_name(0): range(len(values)),
                        I.col_name(0): values})
    return _nan_to_null(spark.createDataFrame(pdf))


def _nan_to_null(sdf):
    """NaN -> NULL for float columns on ingest: the engine's NA model is
    NULL-as-NA uniformly (reference adapts pd.NA/NaT to NULL on write,
    dialect.py:167-182; SURVEY.md hard-part 1)."""
    exprs = []
    for f in sdf.schema.fields:
        c = F.col(f.name)
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.when(F.isnan(c), F.lit(None)).otherwise(c).alias(f.name)
        exprs.append(c)
    return sdf.select(*exprs)


class _FrameRolling:
    """``df.rolling(n)`` handle: each aggregate runs ONE fused
    multi-column border-exchange scan over the numeric columns."""

    _AGGS = ("sum", "mean", "min", "max", "count", "std", "var",
             "median")

    def __init__(self, df, window, min_periods):
        df._require_numeric("rolling")
        self._df = df
        self._window = int(window)
        self._mp = min_periods

    def _agg(self, name):
        from .operators.segscan import rolling_scan_multi
        df = self._df
        tmp, idx_names = df._named_with_idx()
        vals = [I.col_name(i) for i in range(df._n_cols())]
        out_names = {c: f"{c}__o" for c in vals}
        scanned = rolling_scan_multi(
            tmp, vals, idx_names, self._window, name, self._mp,
            [out_names[c] for c in vals])
        return df._pack_scanned(scanned, idx_names, out_names)

    def __getattr__(self, name):
        if name in self._AGGS:
            return lambda: self._agg(name)
        raise AttributeError(name)


class _FrameEwm:
    """``df.ewm(alpha)`` handle (mean only) — one fused multi-column
    exact scan."""

    def __init__(self, df, alpha):
        from .operators.scan import _check_alpha
        _check_alpha(float(alpha))
        df._require_numeric("ewm")
        self._df = df
        self._alpha = float(alpha)

    def mean(self):
        from .operators.scan import ewm_mean_multi
        df = self._df
        tmp, idx_names = df._named_with_idx()
        vals = [I.col_name(i) for i in range(df._n_cols())]
        out_names = {c: f"{c}__o" for c in vals}
        scanned = ewm_mean_multi(tmp, vals, idx_names, self._alpha,
                                 [out_names[c] for c in vals])
        return df._pack_scanned(scanned, idx_names, out_names)
