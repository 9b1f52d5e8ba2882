"""Scalable 0-based rowid synthesis.

The reference synthesizes a default index as ``row_number() OVER () - 1``
(reference alchemy.py:332-334) and re-synthesizes rowids for positional
joins (base.py:58-62).  A bare ``row_number() OVER ()`` in Spark is a
single-partition window — every row funnels through one task, which is
the canonical 100 TB scale hazard (SURVEY.md §4.2).

We instead use the classic two-pass *partition-offset* trick on
``monotonically_increasing_id()``, which packs the partition index into
its upper 31 bits and the row's position within that partition into the
lower 33:

  1. a per-partition row count, keyed by ``id >> 33``: one aggregate
     whose result (``#partitions`` rows) is collected to the driver and
     turned into cumulative offsets;
  2. a broadcast join of those offsets back onto the rows, each rowid
     being ``offset + (id & (2**33 - 1))``.

Both passes read the frame in its current partition order; neither
shuffles or sorts the frame's rows (the count aggregate shuffles one
partial count per partition, and the offsets travel as a broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PART = "__pa_part"
_OFFSET = "__pa_part_offset"

#: monotonically_increasing_id keeps the within-partition row number in
#: its low 33 bits and the partition index above them
_LOCAL_BITS = 33


def with_rowid(sdf: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Attach a 0-based ``long`` rowid column called ``name`` following
    current partition order (the analogue of the reference's
    order-of-the-query rowid).  Returns the frame and its row count,
    both from the one per-partition count collect."""
    tagged = sdf.withColumn(name, F.monotonically_increasing_id()) \
        .withColumn(_PART, F.shiftright(F.col(name), _LOCAL_BITS))
    counts = tagged.groupBy(_PART).count().collect()
    offsets, total = [], 0
    for row in sorted(counts, key=lambda r: r[_PART]):
        offsets.append((int(row[_PART]), total))
        total += row["count"]
    offset_df = sdf.sparkSession.createDataFrame(
        offsets, f"{_PART} long, {_OFFSET} long")
    local = F.col(name).bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1))
    out = (tagged.join(F.broadcast(offset_df), _PART)
           .withColumn(name, local + F.col(_OFFSET))
           .drop(_PART, _OFFSET))
    return out, total
