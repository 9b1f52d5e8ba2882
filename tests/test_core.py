"""Phase 0-1 surface: scan, projection, scalar ops, head, iat,
materialization — differential against pandas (the reference's own
stated oracle, SURVEY.md §5)."""

from __future__ import annotations

import pandas as pd
import pytest

import pandas_alchemy_spark as pas
from tests.conftest import SF_DIR, assert_frame_equal_sorted, assert_series_equal_sorted


@pytest.fixture(scope="module")
def li(spark):
    return pas.read_parquet(f"{SF_DIR}/lineitem.parquet")


def test_shape_len(li, lineitem_pdf):
    assert li.shape == lineitem_pdf.shape
    assert len(li) == len(lineitem_pdf)
    assert li.size == lineitem_pdf.size
    assert not li.empty


def test_columns(li, lineitem_pdf):
    assert list(li.columns) == list(lineitem_pdf.columns)


def test_projection_column_access(li, lineitem_pdf):
    s = li.l_quantity
    assert s.name == "l_quantity"
    got = s.to_pandas()
    want = lineitem_pdf.l_quantity
    want.index.name = None
    assert_series_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_getitem_list(li, lineitem_pdf):
    got = li[["l_orderkey", "l_quantity"]].to_pandas()
    want = lineitem_pdf[["l_orderkey", "l_quantity"]]
    assert_frame_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_scalar_arith(li, lineitem_pdf):
    got = (li.l_quantity * 2 + 1).to_pandas()
    want = lineitem_pdf.l_quantity * 2 + 1
    assert_series_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_reflected_scalar(li, lineitem_pdf):
    got = (10 - li.l_quantity).to_pandas()
    want = 10 - lineitem_pdf.l_quantity
    assert_series_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_series_series_same_lineage(li, lineitem_pdf):
    got = (li.l_extendedprice * (1 - li.l_discount)).to_pandas()
    want = lineitem_pdf.l_extendedprice * (1 - lineitem_pdf.l_discount)
    assert_series_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_head(li):
    assert len(li.head(7).to_pandas()) == 7
    assert len(li.l_quantity.head(3).to_pandas()) == 3


def test_tail(li):
    assert len(li.tail(7).to_pandas()) == 7


def _index_error(fn):
    with pytest.raises(IndexError) as err:
        fn()
    return str(err.value)


def test_iat(li, lineitem_pdf):
    # default index = row position in scan order; compare against the
    # parquet row order which pandas preserves.
    assert li.iat[0, 4] == lineitem_pdf.iat[0, 4]
    assert li.iat[-1, 4] == lineitem_pdf.iat[-1, 4]
    s = li.l_quantity
    assert s.iat[5] == lineitem_pdf.l_quantity.iat[5]
    assert s.iat[-3] == lineitem_pdf.l_quantity.iat[-3]
    with pytest.raises(ValueError):
        li.iat[0]
    # out-of-range positions, negative ones included, raise pandas'
    # exact IndexError text for both frames and series
    n = len(lineitem_pdf)
    for pos in (n, 10**9, -n - 1):
        assert (_index_error(lambda: s.iat[pos])
                == _index_error(lambda: lineitem_pdf.l_quantity.iat[pos]))
    for key in ((10**9, 0), (-n - 1, 0), (0, 99), (0, -99)):
        assert (_index_error(lambda: li.iat[key])
                == _index_error(lambda: lineitem_pdf.iat[key]))
    # rank evaluates windows, so its plan is no longer in index order;
    # positional access must still follow the index
    cols = ["l_quantity", "l_extendedprice"]
    got = li[cols].rank(method="min")
    want = lineitem_pdf[cols].rank(method="min")
    pd.testing.assert_frame_equal(got.iloc[-4:].to_pandas(),
                                  want.iloc[-4:], check_dtype=False,
                                  check_index_type=False)
    assert got.l_quantity.iat[-2] == want.l_quantity.iat[-2]


def test_from_pandas_roundtrip(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": [1.5, None, 3.5]},
                       index=pd.Index(["x", "y", "z"], name="k"))
    df = pas.DataFrame.from_pandas(pdf)
    got = df.to_pandas()
    assert_frame_equal_sorted(got, pdf, check_index_type=False)


def test_from_list_series(spark):
    s = pas.Series.from_list([10, 20, 30], name="v")
    got = s.to_pandas()
    want = pd.Series([10, 20, 30], name="v")
    assert_series_equal_sorted(got, want, check_index_type=False, check_names=False)


def test_filter_mask(li, lineitem_pdf):
    got = li[li.l_quantity > 45].to_pandas()
    want = lineitem_pdf[lineitem_pdf.l_quantity > 45]
    assert len(got) == len(want)
    assert got.l_quantity.min() > 45


def test_assign(li, lineitem_pdf):
    got = li.assign(rev=li.l_extendedprice * (1 - li.l_discount)).to_pandas()
    want = lineitem_pdf.assign(rev=lineitem_pdf.l_extendedprice * (1 - lineitem_pdf.l_discount))
    assert list(got.columns) == list(want.columns)
    assert_series_equal_sorted(got["rev"], want["rev"], check_index_type=False, check_names=False)


def test_repr(li):
    text = repr(li)
    assert "l_orderkey" in text
