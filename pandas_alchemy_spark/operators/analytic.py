"""Analytic window verbs: shift/diff/cumsum/cummax/cummin/rank and
rolling aggregates.

Beyond-reference (SURVEY.md §2.6: "ranking / analytic windows ...
absent ... Window/orderBy when we extend").  Two flavors with very
different scale profiles:

- **Grouped** (``df.groupby(k)[col].shift()`` etc.): the window is
  ``partitionBy(keys)`` — shuffles once on the keys and parallelizes
  per group.  This is the 100 TB path; per-key cardinality bounds the
  partition size.
- **Global** (``series.shift()`` etc.): pandas semantics need a total
  row order, which in Spark is a single-partition window — fine for
  small/aggregated frames, a deliberate bottleneck on raw 100 TB input
  (use the grouped flavor there).  We still provide it for parity; the
  plan warns via Spark's own WindowExec single-partition warning.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import internal as I

_RANK_METHODS = {
    "first": F.row_number,
    "min": F.rank,
    "dense": F.dense_rank,
}

_ROLL_FNS = {
    "sum": F.sum,
    "mean": F.mean,
    "max": F.max,
    "min": F.min,
    "std": F.stddev_samp,
    "var": F.var_samp,
    "median": F.median,
    "count": F.count,
}


def _order_cols(frame):
    return [frame._sdf[I.idx_name(i)] for i in range(frame._n_idx())]


def safe_corr(x, y, w=None):
    """Pearson correlation as a zero-variance-gated expression:
    Spark 4's ANSI mode makes the builtin ``corr`` RAISE
    DIVIDE_BY_ZERO on a constant window/group; the CASE gate keeps
    the division unevaluated there and yields NULL (= DuckDB's corr,
    = pandas' NaN after export).  All three aggregates run over
    PAIRWISE-COMPLETE observations (pandas deletion rule — stddev
    over all non-null x with covar over pairs can produce |corr|>1).
    Pass ``w`` to evaluate over a window frame."""
    def o(e):
        return e.over(w) if w is not None else e

    both = x.isNotNull() & y.isNotNull()
    xp = F.when(both, x)
    yp = F.when(both, y)
    sx = o(F.stddev_samp(xp))
    sy = o(F.stddev_samp(yp))
    return F.when((sx > 0) & (sy > 0),
                  o(F.covar_samp(xp, yp)) / (sx * sy))


def _check_interp_args(method, limit, limit_direction) -> str:
    """Validate the pandas interpolate contract; returns the resolved
    limit_direction."""
    if method != "linear":
        raise NotImplementedError(
            f"interpolate method {method!r} is not supported; only "
            "'linear' (pandas' default equally-spaced interpolation)")
    ld = limit_direction if limit_direction is not None else "forward"
    if ld not in ("forward", "backward", "both"):
        raise ValueError(
            "limit_direction must be 'forward', 'backward' or 'both', "
            f"got {limit_direction!r}")
    if limit is not None and (not isinstance(limit, int)
                              or isinstance(limit, bool) or limit < 1):
        raise ValueError(f"limit must be a positive integer, "
                         f"got {limit!r}")
    return ld


class _WindowVerbs:
    """Shared implementations; subclasses provide ``_window()`` (the
    partitioning) and ``_wrap(expr)`` (packaging into a Series)."""

    def shift(self, periods: int = 1, fill_value=None):
        def fn(c):
            e = F.lag(c, periods).over(self._window())
            if fill_value is not None:
                # fill ONLY the shifted-in edge slots: coalesce would
                # also fabricate values where a pre-existing null was
                # lagged into place (pandas keeps those missing)
                rn = F.row_number().over(self._window())
                if periods >= 0:
                    edge = rn <= periods
                else:
                    wg = self._window().rowsBetween(
                        Window.unboundedPreceding,
                        Window.unboundedFollowing)
                    edge = rn > F.count(F.lit(1)).over(wg) + periods
                e = F.when(edge, F.lit(fill_value)).otherwise(e)
            return e
        return self._wrap(fn)

    def diff(self, periods: int = 1):
        if self._col_dtype() == "boolean":
            # pandas GroupBy.diff on booleans subtracts as ints
            # (-1/0/1) — Series.diff XORs, GroupBy.diff casts; match
            # each flavor's own pandas behavior (plain subtraction on
            # Spark booleans raises)
            return self._wrap(
                lambda c: c.cast("int")
                - F.lag(c.cast("int"), periods).over(self._window()))
        return self._wrap(
            lambda c: c - F.lag(c, periods).over(self._window()))

    def _col_dtype(self) -> str:
        return ""  # subclasses with a known column override

    def _cum(self, agg):
        w = self._window().rowsBetween(Window.unboundedPreceding,
                                       Window.currentRow)
        # pandas cum* keeps NaN holes (the running value skips them but
        # the NaN row stays NaN); Spark aggregates just ignore nulls
        return self._wrap(
            lambda c: F.when(c.isNull(), F.lit(None))
            .otherwise(agg(c).over(w)))

    def cumsum(self):
        return self._cum(F.sum)

    def cumprod(self):
        return self._cum(F.product)

    def pct_change(self, periods: int = 1):
        """Fractional change vs the previous (periods-th prior) row —
        lag + IEEE divide (x/0 -> signed inf, the engine's truediv
        contract; plain Spark division would yield NULL) in one
        window pass."""
        from ..functions.coercion import ieee_truediv
        return self._wrap(
            lambda c: ieee_truediv(
                c.cast("double"),
                F.lag(c, periods).over(self._window())
                .cast("double")) - F.lit(1.0))

    def cummax(self):
        return self._cum(F.max)

    def cummin(self):
        return self._cum(F.min)

    def cumcount(self):
        # pandas: 0-based position within group
        return self._wrap(
            lambda c: F.row_number().over(self._window()) - F.lit(1))

    def rank(self, method: str = "min", ascending: bool = True,
             pct: bool = False):
        if method in ("average", "max"):
            # average = min_rank + (ties-1)/2; max = min_rank + ties-1.
            # ties counted with a second window partitioned by the
            # value (plus the group keys) — same shuffle, no join.
            def raw(c):
                order = (c.asc_nulls_last() if ascending
                         else c.desc_nulls_last())
                w = self._value_window(order, False)
                ties = F.count(c).over(self._tie_window(c))
                base = F.rank().over(w)
                return (base + (ties - F.lit(1)) / F.lit(2.0)
                        if method == "average"
                        else base + ties - F.lit(1))
        else:
            if method not in _RANK_METHODS:
                raise ValueError(
                    f"method must be one of 'average', 'min', 'max', "
                    f"'first', 'dense', got {method!r}")
            rank_fn = _RANK_METHODS[method]
            # "first" breaks ties by position (needs the index in the
            # ordering); min/dense must NOT include it or ties vanish
            tiebreak = method == "first"

            def raw(c):
                order = (c.asc_nulls_last() if ascending
                         else c.desc_nulls_last())
                w = self._value_window(order, tiebreak)
                return rank_fn().over(w)

        def fn(c):
            # nulls last so they never shift non-null ranks; pandas
            # gives NaN rank to NaN values (keep_na guard below)
            expr = raw(c)
            if pct:
                # pandas pct denominators: non-null count per group;
                # DISTINCT non-null count for dense (rank/denom both
                # exact ints -> one double division, engine-exact)
                expr = expr.cast("double") / self._rank_denom(c, method)
            return F.when(c.isNull(), F.lit(None)).otherwise(expr)
        return self._wrap(fn)

    def _rank_denom(self, c, method: str):
        wg = self._window().rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing)
        if method == "dense":
            return F.size(F.collect_set(c).over(wg)).cast("double")
        return F.count(c).over(wg).cast("double")

    def ffill(self, limit=None):
        """Forward-fill nulls with the last preceding non-null value —
        one running-last window (grouped flavor shuffles once on the
        keys, per-key bounded state: the 100 TB path).  ``limit=n``
        bounds the frame to the previous n rows — pandas' cap on the
        fill distance, still one window."""
        if limit is not None and (not isinstance(limit, int)
                                  or isinstance(limit, bool)
                                  or limit < 1):
            raise ValueError(
                f"Limit must be a positive integer, got {limit!r}")
        lo = (Window.unboundedPreceding if limit is None
              else -int(limit))
        w = self._window().rowsBetween(lo, Window.currentRow)
        return self._wrap(
            lambda c: F.last(c, ignorenulls=True).over(w))

    def bfill(self, limit=None):
        """Backward-fill nulls with the next following non-null."""
        if limit is not None and (not isinstance(limit, int)
                                  or isinstance(limit, bool)
                                  or limit < 1):
            raise ValueError(
                f"Limit must be a positive integer, got {limit!r}")
        hi = (Window.unboundedFollowing if limit is None
              else int(limit))
        w = self._window().rowsBetween(Window.currentRow, hi)
        return self._wrap(
            lambda c: F.first(c, ignorenulls=True).over(w))

    def interpolate(self, method: str = "linear", limit=None,
                    limit_direction=None):
        """pandas ``Series.interpolate(method='linear')``: null holes
        get the linear interpolation between their non-null neighbors
        (equally-spaced positions — pandas' 'linear' ignores the
        index), edge holes the nearest value constant;
        ``limit_direction`` gates which holes fill ('forward' leaves
        leading nulls, 'backward' trailing, 'both' neither) and
        ``limit`` caps the fill distance.  Output is double (pandas
        promotes to float).

        Grouped flavor: pure JVM window expressions (running last/
        first IGNORE NULLS for the neighbor values and their row
        numbers) — ONE shuffle on the keys, codegen, no UDF.  The
        fill tree ``pv + (nv - pv) / (np - pp) * (rn - pp)`` is the
        same expression a SQL oracle evaluates, so results are
        bit-identical across engines."""
        ld = _check_interp_args(method, limit, limit_direction)
        wb = self._window().rowsBetween(Window.unboundedPreceding,
                                        Window.currentRow)
        wf = self._window().rowsBetween(Window.currentRow,
                                        Window.unboundedFollowing)
        wo = self._window()

        def fn(c):
            v = c.cast("double")
            rn = F.row_number().over(wo).cast("double")
            pv = F.last(v, ignorenulls=True).over(wb)
            pp = F.last(F.when(v.isNotNull(), rn),
                        ignorenulls=True).over(wb)
            nv = F.first(v, ignorenulls=True).over(wf)
            npos = F.first(F.when(v.isNotNull(), rn),
                           ignorenulls=True).over(wf)
            interp = pv + (nv - pv) / (npos - pp) * (rn - pp)
            fill = (F.when(nv.isNull(), pv)
                    .when(pv.isNull(), nv).otherwise(interp))
            elig_f = (pv.isNotNull() if limit is None
                      else pv.isNotNull() & ((rn - pp) <= limit))
            elig_b = (nv.isNotNull() if limit is None
                      else nv.isNotNull() & ((npos - rn) <= limit))
            elig = (elig_f if ld == "forward"
                    else elig_b if ld == "backward"
                    else elig_f | elig_b)
            return F.when(v.isNotNull(), v).when(elig, fill)
        return self._wrap(fn)

    def rolling_sum(self, window: int, min_periods: int | None = None):
        return self._rolling_named("sum", window, min_periods)

    def rolling_mean(self, window: int, min_periods: int | None = None):
        return self._rolling_named("mean", window, min_periods)

    def _rolling_named(self, name: str, window: int, min_periods):
        if window < 1:
            raise ValueError(f"window must be >= 1, got {window}")
        if min_periods is None:
            min_periods = window
        agg = _ROLL_FNS[name]
        w = self._window().rowsBetween(-(window - 1), Window.currentRow)

        def fn(c):
            val = agg(c).over(w)
            # count gates on ROWS in the frame (pandas contract —
            # rolling(3).count() over an all-null frame is 0, not
            # null); the other aggs gate on non-null observations
            n = (F.count(F.lit(1)).over(w) if name == "count"
                 else F.count(c).over(w))
            gated = F.when(n >= min_periods, val)
            if min_periods == 0 and name in ("sum", "count"):
                # pandas min_periods=0: the empty sum/count is 0
                gated = F.coalesce(gated, F.lit(0.0))
            return gated
        return self._wrap(fn)

    def _epoch_order_expr(self, frame):
        """Epoch-microseconds of the (single, datetime) index level —
        the numeric ORDER BY a range frame needs.  NTZ parquet
        timestamps cast through TIMESTAMP (session runs UTC, see
        accessors.DatetimeMethods)."""
        n = frame._n_idx()
        if n != 1:
            raise ValueError(
                "time-offset rolling needs a single datetime index "
                f"level, frame has {n}")
        dt = frame._sdf.schema[I.idx_name(0)].dataType.simpleString()
        if not (dt.startswith("timestamp") or dt == "date"):
            raise ValueError(
                "time-offset rolling needs a datetime index, got "
                f"{dt} (set_index a timestamp/date column first)")
        return F.unix_micros(frame._sdf[I.idx_name(0)].cast("timestamp"))

    def _rolling_time_named(self, name: str, offset_us: int,
                            min_periods: int):
        """Time-offset rolling: RANGE frame over epoch micros —
        ``(t - offset, t]`` (lower bound +1us = pandas closed='right').
        Grouped flavor shuffles once on the keys and scales."""
        agg = _ROLL_FNS[name]
        w = self._time_window().rangeBetween(-(offset_us - 1),
                                             Window.currentRow)

        def fn(c):
            val = agg(c).over(w)
            n = (F.count(F.lit(1)).over(w) if name == "count"
                 else F.count(c).over(w))
            return F.when(n >= min_periods, val)
        return self._wrap(fn)


class SeriesWindow(_WindowVerbs):
    """Global (whole-series) analytic verbs, ordered by the index.

    EVERY verb here routes through ``operators.segscan`` — the
    distributed two-pass segmented machinery (range-pinned partitions,
    scalar or k-row border carries via the driver, per-partition
    vectorized pandas pass) — so NO global verb needs a
    single-partition window anymore.  cum*/rank/expanding carry
    prefix state; shift/diff/pct_change/rolling exchange k-row
    borders; ffill/bfill carry one non-null scalar per partition.
    The trade vs the old expression-backed forms: scan results
    materialize (assign falls back to the index-aligned join instead
    of inlining the window into one projection) — an extra small join
    locally, in exchange for plans that survive a 1000-executor
    cluster."""

    def __init__(self, series):
        self._s = series

    def _scan_series(self, build):
        """Package a segscan (idx cols + ``__out``) as a Series — the
        same plan-rewrite shape as Ewm.mean (no lineage: the scan
        materializes a pinned layout, so assign falls back to the
        index-aligned join instead of inlining)."""
        from ..core import Series
        s = self._s
        n = s._n_idx()
        idx = [s._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        tmp = s._sdf.select(*idx, s._the_col.alias("__v"))
        out = build(tmp, [I.idx_name(i) for i in range(n)])
        body = out.select(*[F.col(I.idx_name(i)) for i in range(n)],
                          F.col("__out").alias(I.col_name(0)))
        res = Series(s._index, None, body, s.name)
        return res._merge_rows(s)

    def _cum_scan(self, op):
        from .segscan import cum_scan
        return self._scan_series(
            lambda tmp, oc: cum_scan(tmp, "__v", oc, op, "__out"))

    def cumsum(self):
        return self._cum_scan("sum")

    def cumprod(self):
        return self._cum_scan("prod")

    def cummax(self):
        return self._cum_scan("max")

    def cummin(self):
        return self._cum_scan("min")

    def rank(self, method: str = "min", ascending: bool = True,
             pct: bool = False):
        from .segscan import rank_scan
        return self._scan_series(
            lambda tmp, oc: rank_scan(tmp, "__v", oc, method,
                                      ascending, "__out", pct=pct))

    def shift(self, periods: int = 1, fill_value=None):
        from .segscan import shift_scan
        return self._scan_series(
            lambda tmp, oc: shift_scan(tmp, "__v", oc, periods,
                                       fill_value, "__out"))

    def diff(self, periods: int = 1):
        from .segscan import delta_scan
        return self._scan_series(
            lambda tmp, oc: delta_scan(tmp, "__v", oc, periods,
                                       "diff", "__out"))

    def pct_change(self, periods: int = 1):
        from .segscan import delta_scan
        return self._scan_series(
            lambda tmp, oc: delta_scan(tmp, "__v", oc, periods,
                                       "pct", "__out"))

    def ffill(self, limit=None):
        """Global forward fill — a (value, age) carry per partition
        (segscan.fill_scan), so ``limit=`` holds across partition
        borders exactly as single-node pandas."""
        from .segscan import fill_scan
        return self._scan_series(
            lambda tmp, oc: fill_scan(tmp, "__v", oc, "ffill",
                                      "__out", limit=limit))

    def bfill(self, limit=None):
        from .segscan import fill_scan
        return self._scan_series(
            lambda tmp, oc: fill_scan(tmp, "__v", oc, "bfill",
                                      "__out", limit=limit))

    def interpolate(self, method: str = "linear", limit=None,
                    limit_direction=None):
        """Global linear interpolation as a segmented scan — the carry
        is two (position, value) scalars per partition (segscan
        .interpolate_scan), no single-partition window."""
        ld = _check_interp_args(method, limit, limit_direction)
        from .segscan import interpolate_scan
        return self._scan_series(
            lambda tmp, oc: interpolate_scan(tmp, "__v", oc, ld,
                                             limit, "__out"))

    def _rolling_named(self, name: str, window: int, min_periods):
        from .segscan import rolling_scan
        return self._scan_series(
            lambda tmp, oc: rolling_scan(tmp, "__v", oc, window, name,
                                         min_periods, "__out"))

    def _rolling_time_named(self, name: str, offset_us: int,
                            min_periods: int):
        from ..core import Series
        from .. import internal as I
        from .segscan import rolling_time_scan
        s = self._s
        ts = self._epoch_order_expr(s)  # validates the datetime index
        idx = [s._idx_at(0).alias(I.idx_name(0))]
        tmp = s._sdf.select(*idx, ts.alias("__ts"),
                            s._the_col.alias("__v"))
        out = rolling_time_scan(tmp, "__v", "__ts", offset_us, name,
                                min_periods, "__out")
        body = out.select(F.col(I.idx_name(0)),
                          F.col("__out").alias(I.col_name(0)))
        res = Series(s._index, None, body, s.name)
        return res._merge_rows(s)

    def _window(self, *_):
        # every public global verb is overridden with a segmented
        # scan; reaching this would re-open the single-partition
        # window the module docstring promises is gone — enforce the
        # invariant instead of silently violating it
        raise NotImplementedError(
            "no global verb may use an unpartitioned window; add a "
            "segscan form instead")

    _time_window = _window
    _value_window = _window
    _tie_window = _window

    def _wrap(self, fn):
        out = self._s._app(fn)
        out._rows_reordered = True
        return out


class SeriesGroupBy(_WindowVerbs):
    """``df.groupby(keys)[label]`` — grouped transforms returning a
    Series aligned with (same length as) the parent frame."""

    def __init__(self, df, by, label):
        from ..core import Series
        self._df = df
        self._by = by if isinstance(by, list) else [by]
        self._label = label
        self._Series = Series

    def _keys(self):
        return [self._df._col_at(self._df._columns.get_loc(b))
                for b in self._by]

    def _col_dtype(self) -> str:
        pos = self._df._columns.get_loc(self._label)
        return self._df._dtypes()[pos].simpleString()

    def _window(self):
        return Window.partitionBy(*self._keys()).orderBy(
            *_order_cols(self._df))

    def _time_window(self):
        return Window.partitionBy(*self._keys()).orderBy(
            self._epoch_order_expr(self._df))

    def _value_window(self, order, tiebreak):
        if tiebreak:
            return Window.partitionBy(*self._keys()).orderBy(
                order, *_order_cols(self._df))
        return Window.partitionBy(*self._keys()).orderBy(order)

    def _tie_window(self, c):
        return Window.partitionBy(*self._keys(), c)

    def _rolling_named(self, name: str, window: int, min_periods):
        if name not in ("median", "sem", "skew", "kurt", "rank"):
            return super()._rolling_named(name, window, min_periods)
        # Spark's median aggregate refuses window frames
        # (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), and
        # sem/skew/kurt/rank have no direct pandas-corrected window
        # expression — all five run as one applyInPandas per group
        # through pandas' own vectorized rolling (parity-exact): same
        # single shuffle on the keys, per-group bounded state (the
        # ewm exact=True pattern)
        mp = window if min_periods is None else max(int(min_periods), 1)
        return self._apply_grouped(
            lambda pdf: getattr(pdf["__v"].astype("float64")
                                .rolling(window, min_periods=mp),
                                name)())

    def _rolling_time_named(self, name: str, offset_us: int,
                            min_periods: int):
        if name != "median":
            return super()._rolling_time_named(name, offset_us,
                                               min_periods)
        # same window-frame restriction as the count-based form; keep
        # the engine's SQL RANGE tie contract (all peers in the frame)
        # by broadcasting each tie group's last pandas value
        self._epoch_order_expr(self._df)  # validates datetime index
        mp = max(int(min_periods), 1)

        def fn(pdf):
            import pandas as _pd
            ts = _pd.to_datetime(pdf[I.idx_name(0)])
            s = _pd.Series(pdf["__v"].astype("float64").to_numpy(),
                           index=ts)
            r = s.rolling(_pd.Timedelta(microseconds=offset_us),
                          min_periods=mp).median()
            return (r.groupby(level=0).transform("last")
                    .to_numpy())

        return self._apply_grouped(fn)

    def _apply_grouped(self, frame_fn, out_type: str = "double"):
        """Per-group pandas transform over (idx, keys, value) — ONE
        shuffle on the keys via applyInPandas; ``frame_fn`` receives
        the group's frame sorted in index order (columns: the idx
        levels + ``__v``) and returns the aligned output values."""
        df = self._df
        n = df._n_idx()
        idx_names = [I.idx_name(i) for i in range(n)]
        idx = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        keys = [k.alias(f"__k_{j}") for j, k in enumerate(self._keys())]
        val = df._col_at(df._columns.get_loc(self._label)).alias("__v")
        tmp = df._sdf.select(*idx, *keys, val)

        def per_group(pdf):
            pdf = pdf.sort_values(idx_names, kind="mergesort")
            out = frame_fn(pdf)
            pdf["__out"] = (out.to_numpy() if hasattr(out, "to_numpy")
                            else out)
            return pdf

        schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                           for f in tmp.schema.fields)
        schema += f", __out {out_type}"
        out = (tmp.groupBy(*[f"__k_{j}" for j in range(len(keys))])
               .applyInPandas(per_group, schema))
        body = out.select(*[F.col(nm) for nm in idx_names],
                          F.col("__out").alias(I.col_name(0)))
        s = self._Series(df._index, None, body, self._label)
        return s._merge_rows(df)

    def _wrap(self, fn):
        df = self._df
        col = df._col_at(df._columns.get_loc(self._label))
        expr = fn(col)
        n = df._n_idx()
        sel = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        sel.append(expr.alias(I.col_name(0)))
        # partitionBy shuffles rows into key order in the plan; export
        # re-establishes index order client-side for positional frames
        # (base._fetch_pandas), and lineage consumers (df.assign) keep
        # the parent plan anyway — no cluster-side sort here
        body = df._sdf.select(*sel)
        out = self._Series(df._index, None, body, self._label,
                           lineage=(df._sdf, expr))
        return out._merge_rows(df)

    def ewm(self, alpha: float):
        """pandas ``groupby(k)[c].ewm(alpha).mean()`` — the JVM window
        power-trick form (operators/scan.ewm_mean_grouped): one shuffle
        on the keys, codegen, no UDF.  Bounded group lengths (pow
        overflow past ~log(DBL_MAX)/-log(1-alpha) rows/group); route
        through scan.ewm_mean(by=) for unbounded sequences."""
        return _GroupedEwm(self, alpha)

    def rolling(self, window, min_periods: int | None = None):
        """pandas ``groupby(k)[c].rolling(n)`` — per-group ordered
        frame, one shuffle on the keys, per-key bounded state.  A str
        window ('7D') switches to the time-offset RANGE frame over the
        frame's datetime index."""
        return Rolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1):
        """pandas ``groupby(k)[c].expanding()`` — unbounded-preceding
        frame inside each group."""
        return Expanding(self, min_periods)

    def transform(self, how):
        """pandas groupby transform: the group aggregate broadcast back
        onto every member row — one unordered window over the keys
        (single shuffle, no join-back)."""
        from ..relational import _resolve_agg
        fn = _resolve_agg(how)
        w = Window.partitionBy(*self._keys())
        return self._wrap(lambda c: fn(c).over(w))

    # grouped aggregation to one row per group (pandas .groupby(k)[c].sum())
    def _agg(self, how):
        from ..relational import GroupBy
        gb = GroupBy(self._df, self._by)
        out = gb.agg(**{self._label: (self._label, how)})
        return out[self._label]

    def sum(self):
        return self._agg("sum")

    def mean(self):
        return self._agg("mean")

    def min(self):
        return self._agg("min")

    def max(self):
        return self._agg("max")

    def count(self):
        return self._agg("count")

    def median(self):
        return self._agg("median")

    def quantile(self, q=0.5):
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        return self._agg(lambda c: F.percentile(c, F.lit(q)))


class _GroupedEwm:
    """``df.groupby(k)[c].ewm(alpha)`` handle (mean only)."""

    def __init__(self, sgb: SeriesGroupBy, alpha: float):
        from .scan import _check_alpha
        _check_alpha(float(alpha))
        self._sgb = sgb
        self._alpha = float(alpha)

    def _scan(self, builder):
        """Shared plumbing: project (index, keys, value), run the
        scan ``builder(tmp, order_cols, by_cols)``, and wrap the
        result Series (lineage flags copied once, here)."""
        sgb = self._sgb
        df = sgb._df
        n = df._n_idx()
        idx = [df._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        keys = [k.alias(f"__k_{j}") for j, k in enumerate(sgb._keys())]
        val = df._col_at(df._columns.get_loc(sgb._label)).alias("__v")
        tmp = df._sdf.select(*idx, *keys, val)
        out = builder(tmp, [I.idx_name(i) for i in range(n)],
                      [f"__k_{j}" for j in range(len(keys))])
        body = out.select(*[F.col(I.idx_name(i)) for i in range(n)],
                          F.col("__ewm").alias(I.col_name(0)))
        s = sgb._Series(df._index, None, body, sgb._label)
        return s._merge_rows(df)

    def mean(self, exact: bool = False):
        """Grouped EWM mean.  Default: the codegen'd window pow-trick
        (one shuffle, no UDF) with a runtime guard that RAISES on any
        group longer than ``scan.pow_trick_max_rows(alpha)`` rather
        than silently overflowing to NaN.  ``exact=True``: the
        applyInPandas per-group recurrence (scan.ewm_mean(by=)) —
        exact for any group length."""
        from .scan import ewm_mean, ewm_mean_grouped
        if exact:
            return self._scan(
                lambda tmp, order, by: ewm_mean(
                    tmp, "__v", order, self._alpha, by=by,
                    out_col="__ewm"))
        return self._scan(
            lambda tmp, order, by: ewm_mean_grouped(
                tmp, "__v", order, by, self._alpha, out_col="__ewm"))

    def sum(self):
        """Grouped EWM weighted sum — the exact per-group recurrence
        (scan.ewm_mean(by=, stat='sum'))."""
        from .scan import ewm_mean
        return self._scan(
            lambda tmp, order, by: ewm_mean(
                tmp, "__v", order, self._alpha, by=by,
                out_col="__ewm", stat="sum"))

    def var(self, bias: bool = False):
        """Grouped EWM variance — the exact applyInPandas transport
        (one shuffle on the keys, bounded per-group state; the
        pow-trick fast path is mean-only: the bias correction's Σw²
        channel doubles its overflow surface)."""
        return self._second_moment(bias, std=False)

    def std(self, bias: bool = False):
        return self._second_moment(bias, std=True)

    def _second_moment(self, bias: bool, std: bool):
        from .scan import ewm_var
        return self._scan(
            lambda tmp, order, by: ewm_var(
                tmp, "__v", order, self._alpha, by=by,
                out_col="__ewm", std=std, bias=bias))

    def agg(self, func):
        """Same string dispatch as the global ``Ewm.agg`` — the
        grouped and global handles expose one surface for the verb."""
        if isinstance(func, str):
            if func not in ("mean", "sum", "var", "std"):
                raise ValueError(f"unknown ewm aggregate {func!r}")
            return getattr(self, func)()
        raise NotImplementedError(
            "ewm.agg supports a named aggregate string")

    aggregate = agg


class Ewm:
    """``series.ewm(alpha)`` handle (mean only) — the EXACT distributed
    segmented scan (operators/scan.ewm_mean): range-partitioned on the
    index order, per-partition recurrence, one scalar carry per
    partition to the driver, second pass rebuilds the global
    recurrence.  No single-partition window — unlike the global cum*
    verbs, this one holds at 100 TB."""

    def __init__(self, series, alpha: float):
        from .scan import _check_alpha
        _check_alpha(float(alpha))
        self._s = series
        self._alpha = float(alpha)

    def mean(self):
        from ..core import Series
        from .scan import ewm_mean
        s = self._s
        n = s._n_idx()
        idx = [s._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        tmp = s._sdf.select(*idx, s._the_col.alias("__v"))
        out = ewm_mean(tmp, "__v", [I.idx_name(i) for i in range(n)],
                       self._alpha, out_col="__ewm")
        body = out.select(*[F.col(I.idx_name(i)) for i in range(n)],
                          F.col("__ewm").alias(I.col_name(0)))
        res = Series(s._index, None, body, s.name)
        return res._merge_rows(s)

    def var(self, bias: bool = False):
        """pandas ``ewm(alpha).var(bias=)`` — the mean scan's
        machinery with a SECOND moment channel (operators/scan.
        ewm_var): 2-scalar carries per partition, closed-form weight
        sums, no single-partition window."""
        return self._second_moment(bias, std=False)

    def std(self, bias: bool = False):
        return self._second_moment(bias, std=True)

    def sum(self):
        """pandas ``ewm(alpha, adjust=True).sum()`` — the weighted sum
        is the mean times its closed-form weight total
        Σ_{k<t} (1−α)^k = (1 − (1−α)^t)/α, with t the 1-based row
        position from the expanding-count scan: two segmented scans +
        one index-aligned projection, still no single-partition
        window.  (α=1 collapses to the identity: sum == mean.)"""
        m = self.mean()
        if self._alpha == 1.0:
            return m
        rn = self._s.expanding(1).count()
        w = 1.0 - self._alpha
        den = (1.0 - (w ** rn)) / self._alpha
        return m * den

    def corr(self, other=None, bias: bool = False):
        raise NotImplementedError(
            "ewm.corr is not supported (weighted pairwise co-moments "
            "need a dedicated carry); use rolling(n).corr or "
            "expanding().corr")

    def cov(self, other=None, bias: bool = False):
        raise NotImplementedError(
            "ewm.cov is not supported; use rolling(n).cov or "
            "expanding().cov")

    def agg(self, func):
        if isinstance(func, str):
            if func not in ("mean", "sum", "var", "std"):
                raise ValueError(f"unknown ewm aggregate {func!r}")
            return getattr(self, func)()
        raise NotImplementedError(
            "ewm.agg supports a named aggregate string")

    aggregate = agg

    def _second_moment(self, bias: bool, std: bool):
        from ..core import Series
        from .scan import ewm_var
        s = self._s
        n = s._n_idx()
        idx = [s._idx_at(i).alias(I.idx_name(i)) for i in range(n)]
        tmp = s._sdf.select(*idx, s._the_col.alias("__v"))
        out = ewm_var(tmp, "__v", [I.idx_name(i) for i in range(n)],
                      self._alpha, out_col="__ewm", std=std,
                      bias=bias)
        body = out.select(*[F.col(I.idx_name(i)) for i in range(n)],
                          F.col("__ewm").alias(I.col_name(0)))
        res = Series(s._index, None, body, s.name)
        return res._merge_rows(s)


_OFFSET_UNITS_US = {
    "W": 7 * 86400 * 1_000_000,
    "D": 86400 * 1_000_000,
    "d": 86400 * 1_000_000,
    "H": 3600 * 1_000_000,
    "h": 3600 * 1_000_000,
    "T": 60 * 1_000_000,
    "min": 60 * 1_000_000,
    "S": 1_000_000,
    "s": 1_000_000,
}


def parse_offset_us(off: str) -> int:
    """'7D' / '24H' / '30min' / '10S' -> microseconds.  Fixed-width
    offsets only — calendar offsets (M/Y) have no constant width and
    belong to resample, not a sliding range window."""
    import re
    m = re.fullmatch(r"(\d*)\s*(W|D|d|H|h|T|min|S|s)", off.strip())
    if not m:
        raise ValueError(
            f"unsupported rolling window offset {off!r} (fixed-width "
            "W/D/H/min/S offsets only; use resample for calendar rules)")
    n = int(m.group(1) or 1)
    return n * _OFFSET_UNITS_US[m.group(2)]


class Rolling:
    """``series.rolling(n)`` / ``groupby(k)[c].rolling(n)`` handle.

    Accepts either a Series (global order — the single-partition
    parity path) or an already-built ``_WindowVerbs`` source (the
    grouped flavor: ``partitionBy(keys)`` windows, one shuffle,
    per-key bounded — the 100 TB path).

    ``window`` may be a time offset string ('7D', '24H', '30min'):
    the frame becomes ``rangeBetween`` on the epoch-microseconds of
    the (datetime) index — rows whose timestamp falls in
    ``(t - offset, t]``, pandas' default ``closed='right'``, and
    ``min_periods`` defaults to 1 like pandas.  Divergence ON TIED
    timestamps only: a SQL RANGE frame includes ALL peer rows of the
    current timestamp, while pandas cuts at the current row position —
    SQL semantics is what every engine (Spark, DuckDB, Trino) computes
    and is order-deterministic, so it is the contract here."""

    def __init__(self, series, window, min_periods=None):
        self._sw = (series if isinstance(series, _WindowVerbs)
                    else SeriesWindow(series))
        self._by_time = isinstance(window, str)
        if self._by_time:
            self._offset_us = parse_offset_us(window)
            if self._offset_us < 1:
                raise ValueError(
                    f"window offset must be positive, got {window!r}")
            if min_periods is None:
                min_periods = 1
        else:
            if window < 1:
                raise ValueError(
                    f"window must be >= 1, got {window}")
            self._window_n = window
        self._min_periods = min_periods

    def _agg(self, name: str, min_periods=None):
        mp = min_periods if min_periods is not None else self._min_periods
        if self._by_time:
            return self._sw._rolling_time_named(name, self._offset_us,
                                                mp or 1)
        return self._sw._rolling_named(name, self._window_n, mp)

    def sum(self):
        return self._agg("sum")

    def mean(self):
        return self._agg("mean")

    def max(self):
        return self._agg("max")

    def min(self):
        return self._agg("min")

    def std(self):
        return self._agg("std")

    def var(self):
        return self._agg("var")

    def median(self):
        return self._agg("median")

    def count(self):
        return self._agg("count", self._min_periods or 1)

    def _named_pandas(self, name: str):
        """Count-based-only aggregates evaluated by pandas' own
        vectorized rolling inside the Arrow passes (global: k-row
        border exchange; grouped: per group)."""
        if self._by_time:
            raise NotImplementedError(
                f"rolling(offset).{name} is not supported — use a "
                "count-based window")
        return self._agg(name)

    def sem(self):
        """pandas ``rolling(n).sem()``: std(ddof=1)/sqrt(count−ddof)
        (the WINDOW sem divides by count − ddof, unlike Series.sem —
        same note as Expanding.sem)."""
        return self._named_pandas("sem")

    def skew(self):
        """pandas ``rolling(n).skew()`` (sample-adjusted G1)."""
        return self._named_pandas("skew")

    def kurt(self):
        """pandas ``rolling(n).kurt()`` (sample-adjusted excess G2)."""
        return self._named_pandas("kurt")

    kurtosis = kurt

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False):
        """pandas ``rolling(n).rank()`` — rank of the current value
        within its window.  Default args only (the pandas kernel runs
        inside the Arrow passes; other method/pct combinations would
        need a per-window Python apply — use :meth:`apply`)."""
        if (method, ascending, pct) != ("average", True, False):
            raise NotImplementedError(
                "rolling.rank supports the pandas defaults "
                "(method='average', ascending=True, pct=False); "
                "for other combinations use rolling.apply")
        return self._named_pandas("rank")

    def agg(self, func):
        """``rolling.agg("mean")`` dispatches to the named aggregate;
        a callable routes to :meth:`apply`.  List-of-aggs (pandas
        returns a frame) is not modeled — call the methods and
        ``assign`` the results."""
        if isinstance(func, str):
            # no "quantile": pandas agg("quantile") raises (q is
            # required) — silently defaulting q=0.5 would diverge
            allowed = ("sum", "mean", "max", "min", "std", "var",
                       "median", "count", "sem", "skew", "kurt",
                       "rank")
            if func not in allowed:
                raise ValueError(
                    f"unknown rolling aggregate {func!r}")
            return getattr(self, func)()
        if callable(func):
            return self.apply(func)
        raise NotImplementedError(
            "rolling.agg with a list returns a multi-column frame in "
            "pandas — call the aggregates and assign() them instead")

    aggregate = agg

    def quantile(self, q: float = 0.5):
        """pandas ``rolling(n).quantile(q)`` (linear interpolation).
        Spark's percentile aggregates refuse window frames, so both
        flavors evaluate pandas' own rolling quantile inside the
        Arrow passes — the global form via the k-row border exchange,
        the grouped form per group.  Count-based windows only."""
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        if self._by_time:
            raise NotImplementedError(
                "rolling(offset).quantile is not supported — use a "
                "count-based window")
        mp = (self._window_n if self._min_periods is None
              else max(int(self._min_periods), 1))
        sw = self._sw
        win = self._window_n
        if isinstance(sw, SeriesWindow):
            import numpy as np

            def nanq(a):
                ok = ~np.isnan(a)
                return np.quantile(a[ok], q) if ok.any() else np.nan

            from .segscan import rolling_scan
            return sw._scan_series(
                lambda tmp, oc: rolling_scan(
                    tmp, "__v", oc, win, "apply", mp, "__out",
                    apply_fn=nanq, raw=True))
        return sw._apply_grouped(
            lambda pdf: pdf["__v"].astype("float64")
            .rolling(win, min_periods=mp).quantile(q))

    def corr(self, other):
        """pandas ``x.rolling(n).corr(y)`` — pairwise Pearson over the
        window; ``min_periods`` gates on complete pairs.  Grouped
        flavor: ``F.corr`` window expression (one shuffle on the keys,
        codegen) with ``other`` a column label of the same frame.
        Global flavor: both columns ride ONE border-exchange scan
        (segscan.rolling_pair_scan); a foreign-plan ``other`` aligns
        by index join first."""
        return self._pair("corr", other)

    def cov(self, other):
        """pandas ``x.rolling(n).cov(y)`` (ddof=1) — same transports
        as :meth:`corr`."""
        return self._pair("cov", other)

    def _pair(self, stat, other):
        if self._by_time:
            raise NotImplementedError(
                f"rolling(offset).{stat} is not supported — use a "
                "count-based window")
        mp = (self._window_n if self._min_periods is None
              else max(int(self._min_periods), 1))
        sw = self._sw
        win = self._window_n
        if isinstance(sw, SeriesWindow):
            from ..core import Series
            from .segscan import rolling_pair_scan
            s = sw._s
            joined, lcol, rcol, idx_exprs, names = s._join_idx(other)
            n = len(idx_exprs)
            tmp = joined.select(
                *[e.alias(I.idx_name(i))
                  for i, e in enumerate(idx_exprs)],
                lcol(0).alias("__x"), rcol(0).alias("__y"))
            out = rolling_pair_scan(
                tmp, "__x", "__y", [I.idx_name(i) for i in range(n)],
                win, stat, mp, "__out")
            body = out.select(
                *[F.col(I.idx_name(i)) for i in range(n)],
                F.col("__out").alias(I.col_name(0)))
            res = Series(names, None, body, s.name)
            res._rows_reordered = True
            return res
        # grouped: other must name a column of the parent frame
        label = other if isinstance(other, str) else \
            getattr(other, "name", None)
        df = sw._df
        if label is None or label not in df._columns:
            raise ValueError(
                f"grouped rolling {stat} needs `other` to be a column "
                "label (or a Series named like one) of the grouped "
                "frame")
        y = df._col_at(df._columns.get_loc(label)).cast("double")
        w = sw._window().rowsBetween(-(win - 1), Window.currentRow)

        def fn(c):
            x = c.cast("double")
            pairs = F.count(F.when(x.isNotNull() & y.isNotNull(),
                                   F.lit(1))).over(w)
            val = (safe_corr(x, y, w) if stat == "corr"
                   else F.covar_samp(x, y).over(w))
            return F.when(pairs >= mp, val)
        return sw._wrap(fn)

    def apply(self, func, raw: bool = True):
        """pandas ``rolling(n).apply(func)`` — the per-window Python
        escape hatch.  COST WARNING: ``func`` runs once per WINDOW in
        Python (inside the executors' Arrow passes, but still ~100x a
        built-in aggregate); reach for the named aggregates first.
        Global flavor: the same k-row border exchange as the
        built-ins, ``func`` evaluated partition-locally; grouped: one
        applyInPandas per group.  Count-based windows only."""
        if self._by_time:
            raise NotImplementedError(
                "rolling(offset).apply is not supported — use a "
                "count-based window or a named aggregate")
        mp = (self._window_n if self._min_periods is None
              else max(int(self._min_periods), 1))
        sw = self._sw
        win = self._window_n
        if isinstance(sw, SeriesWindow):
            from .segscan import rolling_scan
            return sw._scan_series(
                lambda tmp, oc: rolling_scan(
                    tmp, "__v", oc, win, "apply", mp, "__out",
                    apply_fn=func, raw=raw))
        return sw._apply_grouped(
            lambda pdf: pdf["__v"].astype("float64")
            .rolling(win, min_periods=mp).apply(func, raw=raw))


class Expanding:
    """``series.expanding()`` — cumulative window from the first row
    (unbounded-preceding frame; the global flavor carries the same
    scale caveat as the global cum* verbs: total order =
    single-partition window.  The grouped flavor — built from a
    SeriesGroupBy — shuffles once on the keys and scales)."""

    def __init__(self, series, min_periods: int = 1):
        self._sw = (series if isinstance(series, _WindowVerbs)
                    else SeriesWindow(series))
        self._min_periods = min_periods

    def _exp(self, agg, name):
        # global flavor: segmented scan (round 5 — same machinery as
        # cum*/rank, so no expanding verb needs the single-partition
        # window anymore); grouped flavor: partitioned window
        if isinstance(self._sw, SeriesWindow):
            from .segscan import expanding_scan
            mp = self._min_periods
            return self._sw._scan_series(
                lambda tmp, oc: expanding_scan(tmp, "__v", oc, name,
                                               mp, "__out"))
        w = self._sw._window().rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
        mp = self._min_periods

        def fn(c):
            val = agg(c).over(w)
            # count gates on rows seen (pandas), others on non-null
            n = (F.count(F.lit(1)).over(w) if name == "count"
                 else F.count(c).over(w))
            return F.when(n >= mp, val)
        return self._sw._wrap(fn)

    def sum(self):
        return self._exp(F.sum, "sum")

    def mean(self):
        return self._exp(F.mean, "mean")

    def max(self):
        return self._exp(F.max, "max")

    def min(self):
        return self._exp(F.min, "min")

    def corr(self, other):
        """Expanding pairwise Pearson correlation.  Grouped flavor:
        the zero-variance-gated corr expression over the running
        frame (one shuffle on the keys; ``other`` a column label of
        the grouped frame).  Global flavor: a SIX-scalar co-moment
        carry per partition (count, means, Cxy, M2x, M2y) with the
        bivariate Chan combine (segscan.expanding_pair_scan) — no
        single-partition window, numerically stable."""
        return self._pair("corr", other)

    def cov(self, other):
        return self._pair("cov", other)

    def _pair(self, stat, other):
        sw = self._sw
        if isinstance(sw, SeriesWindow):
            from ..core import Series
            from .segscan import expanding_pair_scan
            s = sw._s
            joined, lcol, rcol, idx_exprs, names = s._join_idx(other)
            n = len(idx_exprs)
            tmp = joined.select(
                *[e.alias(I.idx_name(i))
                  for i, e in enumerate(idx_exprs)],
                lcol(0).alias("__x"), rcol(0).alias("__y"))
            out = expanding_pair_scan(
                tmp, "__x", "__y",
                [I.idx_name(i) for i in range(n)], stat,
                self._min_periods, "__out")
            body = out.select(
                *[F.col(I.idx_name(i)) for i in range(n)],
                F.col("__out").alias(I.col_name(0)))
            res = Series(names, None, body, s.name)
            res._rows_reordered = True
            return res
        label = other if isinstance(other, str) else \
            getattr(other, "name", None)
        df = sw._df
        if label is None or label not in df._columns:
            raise ValueError(
                f"grouped expanding {stat} needs `other` to be a "
                "column label (or a Series named like one) of the "
                "grouped frame")
        y = df._col_at(df._columns.get_loc(label)).cast("double")
        w = sw._window().rowsBetween(Window.unboundedPreceding,
                                     Window.currentRow)
        mp = max(int(self._min_periods), 1)

        def fn(c):
            x = c.cast("double")
            pairs = F.count(F.when(x.isNotNull() & y.isNotNull(),
                                   F.lit(1))).over(w)
            val = (safe_corr(x, y, w) if stat == "corr"
                   else F.covar_samp(x, y).over(w))
            return F.when(pairs >= mp, val)
        return sw._wrap(fn)

    def var(self):
        """Expanding sample variance (ddof=1).  Global flavor: a
        (count, mean, M2) moment-triple carry with Chan's parallel
        combine (segscan._expanding_moment_scan) — numerically stable,
        no single-partition window.  Grouped: ``var_samp`` over the
        running frame (Spark nulls n==1, matching pandas NaN)."""
        return self._exp(F.var_samp, "var")

    def std(self):
        return self._exp(F.stddev_samp, "std")

    def count(self):
        return self._exp(F.count, "count")

    def sem(self):
        """pandas ``expanding().sem()``: std(ddof=1)/sqrt(count-1)
        (the WINDOW sem divides by count - ddof, unlike Series.sem).
        Global flavor rides the same (count, mean, M2) moment carry
        as var/std; grouped is one window expression."""
        if isinstance(self._sw, SeriesWindow):
            from .segscan import expanding_scan
            mp = self._min_periods
            return self._sw._scan_series(
                lambda tmp, oc: expanding_scan(tmp, "__v", oc, "sem",
                                               mp, "__out"))
        w = self._sw._window().rowsBetween(Window.unboundedPreceding,
                                           Window.currentRow)
        mp = max(self._min_periods, 2)

        def fn(c):
            n = F.count(c).over(w)
            # pandas WINDOW sem: std / sqrt(count - ddof)
            return F.when(n >= mp,
                          F.stddev_samp(c).over(w) / F.sqrt(n - 1))
        return self._sw._wrap(fn)

    def _grouped_pandas(self, name: str, *args, **kw):
        """Grouped-only pandas expanding kernels (median/quantile/
        skew/kurt/rank/apply): per-group state is bounded, so one
        applyInPandas per group is the honest transport.  The GLOBAL
        flavors are refused loudly — an expanding <name> at row i
        needs the whole history [0, i] (no O(1) carry exists), which
        is exactly the unbounded state this engine never hides."""
        sw = self._sw
        if isinstance(sw, SeriesWindow):
            raise NotImplementedError(
                f"global expanding().{name} has no bounded carry "
                "(each row needs its full prefix); use the grouped "
                f"flavor groupby(k)[c].expanding().{name}(...) or a "
                "bounded rolling(n) window")
        mp = max(self._min_periods, 1)
        return sw._apply_grouped(
            lambda pdf: getattr(pdf["__v"].astype("float64")
                                .expanding(mp), name)(*args, **kw))

    def median(self):
        return self._grouped_pandas("median")

    def quantile(self, q: float = 0.5):
        q = float(q)
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"q must be in [0, 1], got {q}")
        return self._grouped_pandas("quantile", q)

    def skew(self):
        return self._grouped_pandas("skew")

    def kurt(self):
        return self._grouped_pandas("kurt")

    kurtosis = kurt

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False):
        if (method, ascending, pct) != ("average", True, False):
            raise NotImplementedError(
                "expanding.rank supports the pandas defaults only")
        return self._grouped_pandas("rank")

    def apply(self, func, raw: bool = True):
        """Per-window Python escape hatch (grouped flavor only — see
        :meth:`_grouped_pandas` for why the global form refuses)."""
        sw = self._sw
        if isinstance(sw, SeriesWindow):
            raise NotImplementedError(
                "global expanding().apply has no bounded carry; use "
                "the grouped flavor or rolling(n).apply")
        mp = max(self._min_periods, 1)
        return sw._apply_grouped(
            lambda pdf: pdf["__v"].astype("float64")
            .expanding(mp).apply(func, raw=raw))

    def agg(self, func):
        """String/callable dispatch (see ``Rolling.agg``)."""
        if isinstance(func, str):
            allowed = ("sum", "mean", "max", "min", "std", "var",
                       "count", "sem", "median", "skew",
                       "kurt", "rank")
            if func not in allowed:
                raise ValueError(
                    f"unknown expanding aggregate {func!r}")
            return getattr(self, func)()
        if callable(func):
            return self.apply(func)
        raise NotImplementedError(
            "expanding.agg with a list returns a multi-column frame "
            "in pandas — call the aggregates and assign() them")

    aggregate = agg
