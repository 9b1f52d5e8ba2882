"""BaseFrame — the shared representation behind DataFrame and Series.

The reference's frame is a triple ``(_index, _columns, _cte)``
(reference base.py:6-23): label metadata client-side, data as a lazy
relational query addressed positionally.  Ours is the same triple with
the CTE replaced by a lazy PySpark DataFrame whose columns follow the
reserved layout of :mod:`..internal` — index levels first, then data
columns, exactly the reference's positional convention (base.py:18-23).

All alignment joins (the reference's internal machinery for pandas
index alignment, base.py:64-128) are implemented here as Spark joins:

- full-outer equi-join on index equality for single×single alignment
  (base.py:72-84) — native ``full_outer``; the reference's LEFT JOIN ∪
  anti-join polyfill (dialect.py:52-56) is unnecessary;
- left join on one level for single×multi (base.py:86-102);
- name-inferred level resolution (base.py:104-116) with the same
  refusal errors for multi×multi;
- positional paste-join via scalable rowids (base.py:118-128).

Everything is a plan rewrite; only ``_fetch``/``__len__``-style calls
execute.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF
from pyspark.sql import functions as F

from . import internal as I
from .operators.rowid import with_rowid
from .utils import wrap


class BaseFrame:
    """Row-position state: what a frame knows about its row positions.

    The index values of a frame live in the plan; five flags next to it
    say how those values relate to row positions:

    - ``_mid_index``: ``__idx_0`` holds a *provisional* rowid, not the
      pandas labels — a monotonic id (unique, order-correlated, not
      contiguous) or a true file position.  The reference synthesizes
      the 0-based labels eagerly (``row_number() OVER () - 1``,
      alchemy.py:332-334); here they are made only when index values
      become observable (export, positional access, alignment against a
      value-indexed frame), so a scan->project->agg pipeline runs no
      rowid job at all.
    - ``_mid_dense``: the index holds TRUE file positions (parquet
      ``_metadata.row_index`` on a single-file scan), so a mid already
      is the pandas RangeIndex — densifying it is a metadata flip that
      keeps this flag, and after a filter export keeps pandas' sparse
      original labels.
    - ``_mid_origin``: identity token of a non-dense mid.  Monotonic ids
      encode partition layout, so raw values are comparable only between
      frames minted by the same scan (a file-set key, or a fresh
      ``object()``); ``None`` means never directly comparable.
    - ``_explicit_order``: the user imposed a row order (``sort_values``,
      ``sort_index``, ``nlargest``, ``value_counts``, a non-default
      index on ingest, a concat of densified parts): export follows
      PLAN order.  False means row order IS index order and export
      re-sorts client-side by the index, which keeps plan-level
      reordering (window partitionBy, join shuffles) out of results.
    - ``_rows_reordered``: a verb may have reordered the PLAN relative
      to the index (window evaluation, joins, group-applies, a
      descending top-n), so positional accessors re-sort before
      slicing.  Kept False on the plain scan->project->filter path so
      ``head()`` stays an early-exit LIMIT.

    Only this class writes the three mid flags.  Every other verb
    states its result through one of three helpers:

    - :meth:`_derive_rows` — a row-preserving verb (projection, filter)
      copies all five flags from its source;
    - :meth:`_merge_rows` — a verb whose plan may reorder rows relative
      to its aligned sources (an index join of two frames, or a window
      over one): the mid survives only when every source carries the
      same mid flavor, and the rows count as reordered;
    - :meth:`_mint_rows` — a verb that emits a fresh provisional rowid
      (merge, reset_index, melt, ``concat(ignore_index=True)``, ...).

    A row position becomes visible through one path,
    :meth:`_positioned`: ``iat``, ``iloc`` slices and lists, ``tail``,
    the positional paste-join and :meth:`_densify` all call it.
    """

    ndim: int

    _mid_index = False
    _mid_dense = False
    _mid_origin = None
    _explicit_order = False
    _rows_reordered = False

    def __init__(self, index: pd.Index, columns: pd.Index | None, sdf: SparkDF):
        # index: pd.Index of *level names* (values live in the plan),
        # reference base.py:9-12.
        self._index = index
        self._columns = columns
        self._sdf = sdf

    # -- structure ---------------------------------------------------------

    @property
    def _is_mindex(self) -> bool:
        return len(self._index) > 1  # reference base.py:14-16

    def _n_idx(self) -> int:
        return len(self._index)

    def _n_cols(self) -> int:
        return len(self._columns) if self._columns is not None else 1

    def _idx_cols(self) -> list[Column]:
        return [self._sdf[I.idx_name(i)] for i in range(self._n_idx())]

    def _data_cols(self) -> list[Column]:
        return [self._sdf[I.col_name(i)] for i in range(self._n_cols())]

    def _col_at(self, i: int) -> Column:
        # position -1 = the NULL column injected for unmatched labels
        # (reference base.py:42-46 -> sa Null()).
        if i == -1:
            return F.lit(None)
        return self._sdf[I.col_name(i)]

    def _idx_at(self, i: int) -> Column:
        return self._sdf[I.idx_name(i)]

    def _dtypes(self) -> list:
        """Spark dtypes of the data columns, positional."""
        schema = {f.name: f.dataType for f in self._sdf.schema.fields}
        return [schema[I.col_name(i)] for i in range(self._n_cols())]

    def _idx_dtypes(self) -> list:
        schema = {f.name: f.dataType for f in self._sdf.schema.fields}
        return [schema[I.idx_name(i)] for i in range(self._n_idx())]

    def _shallow_copy(self):
        new = object.__new__(type(self))
        new.__dict__.update(self.__dict__)
        return new

    def _level_of(self, level) -> int:
        """Resolve a level name/position (reference base.py:25-37)."""
        if isinstance(level, int):
            n = self._n_idx()
            i = wrap(level, n)
            if not 0 <= i < n:
                raise IndexError(
                    f"Too many levels: Index has only {n} level(s), "
                    f"{level} is not a valid level number")
            return i
        if level in list(self._index):
            return list(self._index).index(level)
        raise KeyError(f"Level {level} not found")

    # -- canonical select --------------------------------------------------

    def _project(self, idx_exprs: list[Column], data_exprs: list[Column]) -> SparkDF:
        """Re-emit the reserved positional layout from arbitrary
        expressions — every verb funnels through here, so the layout
        invariant holds everywhere."""
        sel = [e.alias(I.idx_name(i)) for i, e in enumerate(idx_exprs)]
        sel += [e.alias(I.col_name(i)) for i, e in enumerate(data_exprs)]
        return self._sdf.select(*sel)

    # -- row-position state (see the class docstring) ---------------------

    def _derive_rows(self, src: "BaseFrame") -> "BaseFrame":
        """A row-preserving verb: take all five row-state flags from
        ``src``.  Returns self."""
        self._mid_index = src._mid_index
        self._mid_dense = src._mid_dense
        self._mid_origin = src._mid_origin
        self._explicit_order = src._explicit_order
        self._rows_reordered = src._rows_reordered
        return self

    def _merge_rows(self, *srcs: "BaseFrame") -> "BaseFrame":
        """A verb whose plan may reorder rows relative to ``srcs`` (an
        index join of aligned frames, or a window over one).  The
        result's index holds raw mids only when every source does —
        ``_mids_aligned`` made sure those are then all dense, or all
        monotonic of one origin.  ``_explicit_order`` is left as is.
        Returns self."""
        mid = all(s._mid_index for s in srcs)
        dense = all(s._mid_dense for s in srcs)
        self._mid_index = mid
        self._mid_dense = dense
        self._mid_origin = srcs[0]._mid_origin if mid and not dense else None
        self._rows_reordered = True
        return self

    def _mint_rows(self, dense: bool = False, origin=None) -> "BaseFrame":
        """``__idx_0`` was just filled with a provisional rowid: true
        file positions when ``dense``, else a monotonic id comparable
        only with frames of the same ``origin`` (default: a fresh token,
        comparable with no other frame).  Returns self."""
        self._mid_index = True
        self._mid_dense = dense
        self._mid_origin = None if dense else (
            object() if origin is None else origin)
        return self

    def _densify(self) -> None:
        """Replace a provisional mid-index with contiguous 0-based
        rowids: each row's position from :meth:`_positioned` becomes
        its label.  Mirrors the reference's on-demand rowid re-synthesis
        (base.py:58-62).  In place; no-op when already dense.

        A ``_mid_dense`` mid already HOLDS the true positional labels
        (parquet row_index), so densify is a pure metadata flip — zero
        jobs — and filtered frames keep pandas' sparse original
        labels."""
        if not self._mid_index:
            return
        if not self._mid_dense:
            pos, _ = self._positioned()
            body = [c for c in self._sdf.columns if c != I.idx_name(0)]
            self._sdf = pos._sdf.select(
                F.col(I.ROWID).alias(I.idx_name(0)), *body)
            self._rows_reordered = pos._rows_reordered
        self._mid_index = False

    def _densified(self) -> "BaseFrame":
        if not self._mid_index:
            return self
        new = self._shallow_copy()
        new._densify()
        return new

    def _positioned(self) -> tuple["BaseFrame", int]:
        """The one way a row position becomes visible.  Returns a copy
        whose plan carries each row's 0-based position in column
        ``I.ROWID``, and the row count, both from one per-partition
        count pass (operators/rowid.py).  Positions follow index order:
        a reordered plan is re-sorted by the index first.

        A mid index is resolved on the way when plan order is index
        order: a dense mid is a flag flip, a non-dense mid simply
        becomes the rowid itself.  A non-dense mid under a user sort
        (``_explicit_order``) stays raw, so export still ranks it back
        to the original labels."""
        new = self._shallow_copy()
        if self._positional_reordered():
            new._sdf = new._sdf.orderBy(F.col(I.idx_name(0)).asc())
            new._rows_reordered = False
        new._sdf, n = with_rowid(new._sdf, I.ROWID)
        if new._mid_index and not new._mid_dense and not new._explicit_order:
            new._sdf = new._sdf.withColumn(I.idx_name(0), F.col(I.ROWID))
            new._mid_index = False
        elif new._mid_dense:
            new._mid_index = False
        return new, n

    def _value_at(self, row: int, col: int):
        """Scalar at position (row, data column ``col``) — ``iat`` for
        both frames and series (reference alchemy.py:146-163,374-383):
        a rowid equality filter + take(1) rather than LIMIT/OFFSET.
        The reference's off-by-one (``row > row_count``) is fixed to
        ``>=`` (SURVEY.md §2.6); the IndexError names the position as
        given, like pandas."""
        pos, n = self._positioned()
        at = wrap(row, n)
        if at < 0 or at >= n:
            raise IndexError(f"index {row} is out of bounds for "
                             f"axis 0 with size {n}")
        rows = pos._sdf.filter(F.col(I.ROWID) == at) \
            .select(I.col_name(col)).take(1)
        return rows[0][0]

    def _mids_aligned(self, other: "BaseFrame"):
        """Make two frames' indexes label-comparable for an
        index-equality join, densifying provisional mids that are not.

        Raw mids join directly ONLY when (a) both are dense (true file
        positions — comparable across any two scans) or (b) both are
        monotonic ids minted by the SAME scan (``_mid_origin`` match —
        monotonically_increasing_id encodes partition layout, so values
        from two different scans pair arbitrary rows).  Everything else
        (mixed mid/value, mixed dense/monotonic, monotonic mids of
        different or unknown origin) densifies the mid side(s) first:
        contiguous 0-based positions ARE comparable across plans."""
        a, b = self._mid_index, other._mid_index
        if not a and not b:
            return self, other
        if a and b:
            if self._mid_dense and other._mid_dense:
                return self, other
            if (not self._mid_dense and not other._mid_dense
                    and self._mid_origin is not None
                    and self._mid_origin == other._mid_origin):
                return self, other
        return self._densified(), other._densified()

    def _align_mids_with(self, other: "BaseFrame") -> "BaseFrame":
        """In-place twin of ``_mids_aligned`` for callers that mutate a
        copied self: densify SELF when the pair requires it and return
        the (possibly densified) other, so the caller's ``_merge_rows``
        reads post-alignment state."""
        a, b = self._mids_aligned(other)
        if a is not self:
            self._densify()
        return b

    # -- positional-order contract ----------------------------------------

    def _positional_export(self) -> bool:
        """True when ``_fetch_pandas`` re-sorts rows by ``__idx_0`` at
        export (the positional contract: row order IS index order)."""
        if self._explicit_order or self._n_idx() != 1:
            return False
        if self._mid_index:
            return True
        if self._index[0] is not None:
            return False
        from pyspark.sql import types as T
        return isinstance(self._idx_dtypes()[0],
                          (T.LongType, T.IntegerType, T.ShortType,
                           T.ByteType))

    def _positional_reordered(self) -> bool:
        """True when a positional accessor (head/tail/iloc/iat) must
        re-sort the plan by the index before slicing: the export
        contract is index order, but the plan may not be in it."""
        return self._rows_reordered and self._positional_export()

    # -- alignment joins ---------------------------------------------------

    @staticmethod
    def _join_cols(left: pd.Index, right: pd.Index):
        """Column-label alignment, pure client-side metadata
        (reference base.py:64-70): outer-join the two label Indexes,
        returning (joined_labels, left_positions, right_positions) with
        -1 marking a missing side (consumed by ``_col_at``)."""
        joined, lidx, ridx = left.join(right, how="outer", return_indexers=True)
        if lidx is None:
            lidx = list(range(len(joined)))
        if ridx is None:
            ridx = list(range(len(joined)))
        return joined, list(lidx), list(ridx)

    @staticmethod
    def _rename_all(sdf: SparkDF, prefix: str) -> SparkDF:
        return sdf.select([F.col(c).alias(prefix + c) for c in sdf.columns])

    def _join_idx(self, other: "BaseFrame"):
        """Row alignment single×single: FULL OUTER JOIN on index
        equality, result index = coalesce(l, r) (reference base.py:72-84).

        Returns (joined_sdf, lcol, rcol, idx_exprs) where lcol/rcol map
        positions to Columns of each side.  At 100 TB this is a shuffle
        on the index key — unavoidable for true pandas alignment; AQE
        picks broadcast automatically when one side is small.
        """
        if self._is_mindex or other._is_mindex:
            return self._join_idx_names(other)
        # provisional-mid handling: two mid-indexed frames from the same
        # scan share row identity — join on the mids directly (zero
        # extra jobs; exactly the eager-rowid alignment semantics).
        # Anything else densifies first (_mids_aligned).
        this, other = self._mids_aligned(other)
        l = this._rename_all(this._sdf, "l_")
        r = this._rename_all(other._sdf, "r_")
        lk, rk = f"l_{I.idx_name(0)}", f"r_{I.idx_name(0)}"
        joined = l.join(r, l[lk] == r[rk], "full_outer")
        idx = [F.coalesce(joined[lk], joined[rk])]

        def lcol(i):
            return F.lit(None) if i == -1 else joined[f"l_{I.col_name(i)}"]

        def rcol(i):
            return F.lit(None) if i == -1 else joined[f"r_{I.col_name(i)}"]

        return joined, lcol, rcol, idx, self._index

    def _join_idx_level(self, other: "BaseFrame", swapped: bool = False):
        """single-index self × one level of MultiIndex other: LEFT JOIN
        the single frame onto the multi frame's matching level, keeping
        the multi side's index (reference base.py:86-102)."""
        single, multi = (self, other)
        if single._is_mindex:
            raise TypeError("Cannot join two frames with MultiIndex")
        name = single._index[0]
        level = multi._level_of(name)
        m = self._rename_all(multi._sdf, "m_")
        s = self._rename_all(single._sdf, "s_")
        joined = m.join(
            s, m[f"m_{I.idx_name(level)}"] == s[f"s_{I.idx_name(0)}"], "left")
        idx = [joined[f"m_{I.idx_name(i)}"] for i in range(multi._n_idx())]

        def mcol(i):
            return F.lit(None) if i == -1 else joined[f"m_{I.col_name(i)}"]

        def scol(i):
            return F.lit(None) if i == -1 else joined[f"s_{I.col_name(i)}"]

        if swapped:
            return joined, mcol, scol, idx, multi._index
        return joined, scol, mcol, idx, multi._index

    def _join_idx_names(self, other: "BaseFrame"):
        """Infer the join level from overlapping index *names*
        (reference base.py:104-116), with the reference's refusals:
        no overlap -> ValueError; multi×multi -> NotImplementedError."""
        if self._is_mindex and other._is_mindex:
            raise NotImplementedError(
                "Joining two frames with MultiIndex is not supported")
        overlap = set(self._index) & set(other._index)
        if not overlap:
            raise ValueError("cannot join with no overlapping index names")
        if self._is_mindex:
            j, scol, mcol, idx, names = other._join_idx_level(self, swapped=False)
            # other is the single side -> lcol must be self (the multi side)
            return j, mcol, scol, idx, names
        return self._join_idx_level(other, swapped=False)

    def _paste_join(self, other_sdf: SparkDF, other_rowid: str):
        """Positional alignment (reference base.py:118-128): INNER JOIN
        on rowid.  Self must come from :meth:`_positioned` (its rowid
        column is ``I.ROWID``); the other side reuses its enumerated
        index column ``other_rowid`` (the reference does the same:
        from_list's rowid is passed in, alchemy.py:231-232)."""
        l = self._rename_all(self._sdf, "l_")
        r = other_sdf.withColumn(I.ROWID, F.col(other_rowid).cast("long"))
        r = self._rename_all(r, "r_")
        joined = l.join(r, l[f"l_{I.ROWID}"] == r[f"r_{I.ROWID}"], "inner")
        idx = [joined[f"l_{I.idx_name(i)}"] for i in range(self._n_idx())]

        def lcol(i):
            return F.lit(None) if i == -1 else joined[f"l_{I.col_name(i)}"]

        def rcol(i):
            return F.lit(None) if i == -1 else joined[f"r_{I.col_name(i)}"]

        return joined, lcol, rcol, idx

    def to_spark(self, index: bool = True) -> SparkDF:
        """Export the plan as a plain Spark DataFrame with user-facing
        names: index levels under their level names (or ``index``),
        data columns under their labels.  Labels must be unique strings
        (the general duplicate-label case stays inside the façade).
        ``index=False`` skips the index entirely — a mid-indexed frame
        then exports with zero rowid cost."""
        this = self._densified() if index else self
        sel = []
        if index:
            for i, name in enumerate(this._index):
                sel.append(this._idx_at(i).alias(str(name) if name is not None else "index"))
        if this._columns is not None:
            labels = list(this._columns)
        else:
            labels = [getattr(this, "name", None) or "value"]
        for i, lab in enumerate(labels):
            sel.append(this._col_at(i).alias(str(lab)))
        return this._sdf.select(*sel)

    # -- execution boundary ------------------------------------------------

    def _fetch(self):
        """Materialize all rows (reference base.py:55-56) — Arrow path."""
        return self._sdf.toPandas()

    def _fetch_pandas(self) -> tuple[pd.Index, pd.DataFrame]:
        """Fetch and split the positional layout back into a pandas
        (Multi)Index + data block (reference alchemy.py:287-299).

        A provisional mid-index is ranked *client-side* on the fetched
        rows (free — the data already crossed the wire), yielding the
        0-based contiguous index the reference synthesizes in-query."""
        pdf = self._fetch()
        n = self._n_idx()
        if (not self._explicit_order and n == 1 and len(pdf) > 1
                and (self._mid_index
                     or (self._index[0] is None
                         and pd.api.types.is_integer_dtype(pdf.iloc[:, 0])))):
            # positional frame: row order is index order by contract;
            # re-sort the fetched rows (client-side, data already here)
            # so plan-level reordering (window/join shuffles) never
            # leaks into the materialized result
            pdf = pdf.sort_values(pdf.columns[0], kind="stable")
        idx_part = pdf.iloc[:, :n]
        data_part = pdf.iloc[:, n:]
        if n > 1:
            index = pd.MultiIndex.from_frame(idx_part)
            index.names = list(self._index)
        else:
            values = idx_part.iloc[:, 0]
            if self._mid_index and not self._mid_dense:
                # arbitrary monotonic mids -> rank into 0-based labels;
                # dense mids already ARE the positional labels
                values = values.rank(method="first").astype("int64") - 1
            index = pd.Index(values)
            index.name = self._index[0]
        return index, data_part
