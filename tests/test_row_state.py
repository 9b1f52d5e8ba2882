"""Row-position state: the flags a frame keeps about its row positions
(base.BaseFrame), and the rowid pass that makes positions visible
(operators/rowid.py)."""

from __future__ import annotations

import ast
import pathlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

import pandas_alchemy_spark as pas
from pandas_alchemy_spark.operators.rowid import with_rowid
from pandas_alchemy_spark.plans import broadcast_join_count, exchange_count
from tests.conftest import SF_DIR

_PKG = pathlib.Path(pas.__file__).parent


@pytest.fixture(scope="module")
def unsorted_pdf():
    # sorted by x, the rows come out in order [1, 2, 0, 4, 3]
    return pd.DataFrame({"x": [3.0, 1.0, 2.0, 5.0, 4.0],
                         "y": [10.0, 20.0, 30.0, 40.0, 50.0]})


_ROW_PRESERVING = {
    "eval": lambda df: df.eval("z = x * 2"),
    "where": lambda df: df.where(df.x > 1.5),
    "sum_axis1": lambda df: df.sum(axis=1),
    "dot": lambda df: df.dot(pd.DataFrame({"w": [1.0, 2.0]},
                                          index=["x", "y"])),
}


@pytest.mark.parametrize("verb", sorted(_ROW_PRESERVING))
def test_sort_order_survives_row_preserving_verbs(spark, unsorted_pdf,
                                                  verb):
    fn = _ROW_PRESERVING[verb]
    got = fn(pas.DataFrame.from_pandas(unsorted_pdf).sort_values("x"))
    want = fn(unsorted_pdf.sort_values("x"))
    assert list(got.to_pandas().index) == list(want.index) == [1, 2, 0, 4, 3]


def _concat_unsorted(pdf):
    # concat(ignore_index=True) leaves a provisional, non-dense index
    parts = [pas.DataFrame.from_pandas(pdf.iloc[:2]),
             pas.DataFrame.from_pandas(pdf.iloc[2:])]
    return pas.concat(parts, ignore_index=True)


def test_list_arithmetic_keeps_labels_of_a_sorted_mid_frame(spark,
                                                            unsorted_pdf):
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    df = _concat_unsorted(unsorted_pdf).sort_values("x")
    want = unsorted_pdf.sort_values("x")
    got = df.add(vals, axis=0).to_pandas()
    want_df = want.add(vals, axis=0)
    assert list(got.index) == list(want_df.index) == [1, 2, 0, 4, 3]
    pd.testing.assert_frame_equal(got, want_df, check_index_type=False)
    got_s = (df.y + vals).to_pandas()
    pd.testing.assert_series_equal(got_s, want.y + vals,
                                   check_index_type=False)


def test_densify_numbers_a_reordered_mid_in_index_order(spark,
                                                        unsorted_pdf):
    # rank() may reorder the plan; aligning with a value-indexed
    # series then densifies the provisional index
    ranked = _concat_unsorted(unsorted_pdf).x.rank()
    other = pd.Series([0.5, 1.5, 2.5, 3.5, 4.5])
    got = (ranked + pas.Series.from_pandas(other)).to_pandas()
    want = unsorted_pdf.x.rank(method="min") + other
    pd.testing.assert_series_equal(got, want, check_index_type=False,
                                   check_names=False)


def test_tail_inplace_like_head(spark, unsorted_pdf):
    df = _concat_unsorted(unsorted_pdf)
    df.tail(2, inplace=True)
    got = df.to_pandas()
    assert list(got.index) == [3, 4]
    assert list(got.x) == [5.0, 4.0]


def test_with_rowid_numbers_every_partition_layout(spark):
    # 8 hash partitions over a 3-valued key: most partitions are empty
    sdf = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    spread = sdf.repartition(8, "o_orderstatus")
    assert spread.rdd.getNumPartitions() == 8
    rid, n = with_rowid(spread, "__r")
    assert n == sdf.count()
    assert sorted(r[0] for r in rid.select("__r").collect()) == list(range(n))


def test_with_rowid_filtered_scan_matches_pandas_positions(spark):
    path = f"{SF_DIR}/orders.parquet"
    scan = spark.read.parquet(path).filter(F.col("o_totalprice") > 150000)
    rid, _ = with_rowid(scan, "__r")
    got = rid.select("__r", "o_orderkey").toPandas().sort_values("__r")
    pdf = pd.read_parquet(path)
    want = pdf[pdf.o_totalprice > 150000].o_orderkey
    assert list(got["__r"]) == list(range(len(want)))
    assert list(got.o_orderkey) == list(want)


def test_with_rowid_plans_no_shuffle_of_the_rows(spark):
    scan = spark.read.parquet(f"{SF_DIR}/orders.parquet") \
        .filter(F.col("o_totalprice") > 150000)
    rid, _ = with_rowid(scan, "__r")
    plan = rid._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "hashpartitioning" not in plan
    # the one Exchange is the broadcast of the per-partition offsets
    assert exchange_count(rid) == broadcast_join_count(rid) == 1


_MID_FLAGS = {"_mid_index", "_mid_dense", "_mid_origin"}


def _mid_flag_writes(path: pathlib.Path) -> list[int]:
    tree = ast.parse(path.read_text(), filename=str(path))
    lines = []
    for node in ast.walk(tree):
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
            targets = [node.target]
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Attribute) and sub.attr in _MID_FLAGS:
                    lines.append(node.lineno)
    return lines


def test_only_base_writes_mid_flags():
    # every other module states its row state through the BaseFrame
    # helpers (_derive_rows / _merge_rows / _mint_rows)
    offenders = {}
    for path in sorted(_PKG.rglob("*.py")):
        if path == _PKG / "base.py":
            continue
        lines = _mid_flag_writes(path)
        if lines:
            offenders[str(path.relative_to(_PKG))] = lines
    assert offenders == {}
    assert _mid_flag_writes(_PKG / "base.py")  # the scan sees writes
