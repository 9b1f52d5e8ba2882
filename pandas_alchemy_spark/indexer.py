"""Indexers: ``.iat`` (reference pandas_alchemy/indexer.py:1-21) plus
beyond-reference ``.loc`` / ``.iloc``.

``.iloc[slice]`` is a rowid range filter — the predicate lands on the
synthesized rowid (one per-partition count collect, no shuffle of the
rows).  ``.loc`` supports boolean-mask rows (in-plan filter) and
label rows (index equality filter), each optionally with a column
list / single column."""

from __future__ import annotations

from pyspark.sql import functions as F

from . import internal as I


class _iLocIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        obj = self._obj
        cols = None
        if isinstance(key, tuple):
            key, cols = key
        if isinstance(key, int):
            if obj.ndim == 1:
                return obj._get_value(key, takeable=True)
            if isinstance(cols, int):
                return obj._get_value(key, cols, takeable=True)
            key = slice(key, key + 1 if key != -1 else None)
        if isinstance(key, list):
            out = self._take_rows(key)
        elif not isinstance(key, slice):
            raise NotImplementedError(
                "iloc supports integers, slices and lists")
        elif key.step is not None and key.step < 1:
            # a negative step REVERSES row order, which conflicts with
            # the positional export contract (row order is index
            # order); reverse client-side after to_pandas instead
            raise NotImplementedError("iloc slice with negative step")
        else:
            out = self._slice_rows(key)
        if cols is not None and obj.ndim == 2:
            out = self._select_cols(out, cols)
        return out

    def _select_cols(self, out, cols):
        obj = self._obj
        if isinstance(cols, int):
            return out._seq_at(cols)
        if isinstance(cols, slice):
            return out[list(obj._columns[cols])]
        return out[[obj._columns[c] if isinstance(c, int) else c
                    for c in cols]]

    def _filter_positions(self, cond_of):
        """Rows whose 0-based position satisfies ``cond_of(rowid, n)``,
        positions from the frame's one positional pass
        (base.BaseFrame._positioned)."""
        new, n = self._obj._positioned()
        new._sdf = new._sdf.filter(cond_of(F.col(I.ROWID), n)) \
            .drop(I.ROWID)
        new._drop_lineage()
        return new

    def _take_rows(self, positions: list):
        """``iloc[[i, j, ...]]`` / ``take`` — a rowid IN filter (one
        membership predicate, no shuffle).  Rows come back in INDEX
        order, not list order (the engine's standing row-order
        contract); negative positions count from the end."""
        if not all(isinstance(p, int) for p in positions):
            raise TypeError("iloc list entries must be integers")
        return self._filter_positions(lambda rid, n: rid.isin(
            [p + n if p < 0 else p for p in positions]))

    def _slice_rows(self, sl: slice):
        """``iloc[start:stop:step]`` (step >= 1) — a rowid range filter.
        Positions are taken AFTER densifying a mid index, so pandas'
        positional labels survive (iloc[10:15] shows index 10..14)."""
        def cond_of(rid, n):
            start, stop, step = sl.indices(n)
            cond = (rid >= start) & (rid < stop)
            if step > 1:
                cond = cond & (F.pmod(rid - F.lit(start), F.lit(step)) == 0)
            return cond
        return self._filter_positions(cond_of)


class _LocIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        from .core import Series
        obj = self._obj
        cols = None
        if isinstance(key, tuple):
            key, cols = key
        if isinstance(key, Series):
            if obj.ndim != 2:
                raise NotImplementedError("loc mask on Series")
            out = obj[key]
        elif isinstance(key, slice) and key == slice(None):
            out = obj
        elif isinstance(key, slice):
            # label range (pandas loc slice: INCLUSIVE both ends;
            # meaningful on a sorted index) — a pushdown-eligible
            # range filter, no row numbering
            if key.step not in (None, 1):
                raise NotImplementedError("loc slice step")
            new = obj._shallow_copy()
            idx = new._sdf[I.idx_name(0)]
            cond = None
            if key.start is not None:
                cond = idx >= key.start
            if key.stop is not None:
                c = idx <= key.stop
                cond = c if cond is None else (cond & c)
            if cond is not None:
                new._sdf = new._sdf.filter(cond)
            if hasattr(new, "_drop_lineage"):
                new._drop_lineage()
            out = new
        else:
            # label row selection: index equality filter
            labels = key if isinstance(key, list) else [key]
            new = obj._shallow_copy()
            new._sdf = new._sdf.filter(
                new._sdf[I.idx_name(0)].isin(labels))
            if hasattr(new, "_drop_lineage"):
                new._drop_lineage()
            out = new
        if cols is not None and obj.ndim == 2:
            out = out[cols if isinstance(cols, list) else cols]
        return out


class _AtIndexer:
    """``.at[label]`` / ``.at[label, col]`` — label-scalar access: an
    index-equality filter (pushdown-eligible) + a bounded take(2); 0
    matches -> KeyError, >1 -> ValueError, like pandas."""

    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        obj = self._obj
        if obj.ndim == 2:
            if not isinstance(key, tuple) or len(key) != 2:
                raise ValueError(
                    "Invalid call for scalar access (getting)!")
            label, col = key
            ser = obj[col].loc[[label]]
        else:
            label = key
            ser = obj.loc[[label]]
        rows = ser._sdf.select(ser._the_col.alias("v")).take(2)
        if not rows:
            raise KeyError(label)
        if len(rows) > 1:
            raise ValueError(
                "Invalid call for scalar access (getting)!")
        return rows[0]["v"]


class _iAtIndexer:
    def __init__(self, obj):
        self._obj = obj

    def __getitem__(self, key):
        if self._obj.ndim == 2:
            if not isinstance(key, tuple) or len(key) != 2:
                raise ValueError("Invalid call for scalar access (getting)!")
            row, col = key
            if not isinstance(row, int) or not isinstance(col, int):
                raise ValueError("iAt based indexing can only have integer indexers")
            return self._obj._get_value(row, col, takeable=True)
        if not isinstance(key, int):
            raise ValueError("iAt based indexing can only have integer indexers")
        return self._obj._get_value(key, takeable=True)
