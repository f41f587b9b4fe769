"""Golden tests for the W1 subtotal-removal kernel
(reference DatabaseUnstructured.py:108-184 semantics)."""

from __future__ import annotations

import functools
import math
import operator

from hypothesis import given, settings
from hypothesis import strategies as st

from x17a5_spark.operators.totals_check import (
    NO_TOTAL,
    TOTAL_ASSET_RE,
    TOTAL_EXPLAINED,
    TOTAL_LE_RE,
    TOTAL_UNEXPLAINED,
    _is_epsilon_match,
    _is_power_of_ten_or_digit_drop,
    remove_subtotals,
    totals_check_kernel,
)


def test_exact_subtotal_dropped():
    items = ["Cash", "Receivables", "Subtotal", "Other"]
    values = [100.0, 200.0, 300.0, 50.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert keep == [0, 1, 3]
    assert flag == NO_TOTAL


def test_total_assets_explained_sets_flag():
    items = ["Cash", "Receivables", "Total assets"]
    values = [100.0, 200.0, 300.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert keep == [0, 1]
    assert flag == TOTAL_EXPLAINED
    assert amt == 300.0


def test_total_found_but_unexplained():
    items = ["Cash", "Receivables", "Total assets"]
    values = [100.0, 200.0, 999.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert keep == [0, 1, 2]
    assert flag == TOTAL_UNEXPLAINED
    assert amt == 999.0


def test_power_of_ten_scaled_total():
    # reported total read as 600.0 while the sum is 600000 (1e3 scale):
    # multiple_check fires and total_amt takes the lookback sum
    items = ["Cash", "Securities", "Total assets"]
    values = [400000.0, 200000.0, 600.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert keep == [0, 1]
    assert flag == TOTAL_EXPLAINED
    assert amt == 600000.0


def test_one_digit_ocr_total():
    # 174182935 vs sum 174182635: one digit off, 0.00017% error
    items = ["A", "B", "Total assets"]
    values = [174182000.0, 635.0, 174182935.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert keep == [0, 1]
    assert flag == TOTAL_EXPLAINED


def test_mutating_scan_excludes_dropped_rows():
    # After "Subtotal" (=300) is dropped, the later total 350 must be
    # explained by (100, 200, 50) — which includes positions both sides
    # of the dropped row — not by windows containing 300.
    items = ["Cash", "Receivables", "Subtotal", "Other", "Total assets"]
    values = [100.0, 200.0, 300.0, 50.0, 350.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert 2 not in keep
    assert 4 not in keep  # 350 = 100+200+50 over the surviving window
    assert flag == TOTAL_EXPLAINED


def test_liability_equity_regex_variants():
    items = ["Payables", "Equity", "Total liabilities and shareholder's equity"]
    values = [700.0, 300.0, 1000.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert flag == TOTAL_EXPLAINED
    assert keep == [0, 1]


def test_nan_values_skipped_in_sums():
    items = ["Cash", "Header", "Receivables", "Subtotal"]
    values = [100.0, float("nan"), 200.0, 300.0]
    keep, flag, amt = totals_check_kernel(items, values)
    assert 3 not in keep  # NaN treated as 0 in the lookback sum


def test_spark_operator(spark):
    rows = []
    for cik, base in [("111", 100.0), ("222", 1000.0)]:
        vals = [base, 2 * base, 3 * base, base / 2, 3.5 * base]
        names = ["Cash", "Receivables", "Subtotal", "Other", "Total assets"]
        for i, (n, v) in enumerate(zip(names, vals)):
            rows.append((cik, "2020-01-01", "asset", i, n, v))
    df = spark.createDataFrame(
        rows, "cik string, filing_date string, side string, row_idx int, lineitem string, value double"
    )
    out = remove_subtotals(df).toPandas().sort_values(["cik", "row_idx"])
    for cik in ("111", "222"):
        sub = out[out.cik == cik]
        assert list(sub.lineitem) == ["Cash", "Receivables", "Other"]
        assert (sub.total_flag == TOTAL_EXPLAINED).all()


def test_empty_and_single_row():
    keep, flag, amt = totals_check_kernel([], [])
    assert keep == [] and flag == NO_TOTAL and math.isnan(amt)
    keep, flag, amt = totals_check_kernel(["Total assets"], [5.0])
    assert keep == [0] and flag == TOTAL_UNEXPLAINED and amt == 5.0


def _cubic_totals_check(items, values):
    """Reference: the kernel as it was before the running sums, re-summing
    every surviving lookback window from scratch. The window sum is
    spelled as a left-to-right fold from int 0 (builtin ``sum``'s
    arithmetic before CPython 3.12 made it compensated)."""
    m = len(items)
    alive = [True] * m
    total_flag, total_amt = NO_TOTAL, float("nan")
    for i in range(m):
        item1 = values[i]
        name = items[i] if isinstance(items[i], str) else ""
        is_total = bool(TOTAL_ASSET_RE.search(name)) or bool(TOTAL_LE_RE.search(name))
        if is_total:
            total_flag, total_amt = TOTAL_UNEXPLAINED, item1
        item1_na = item1 is None or item1 != item1
        for j in range(i):
            window = [values[k] for k in range(i - j - 1, i) if 0 <= k < m and alive[k]]
            if not window:
                continue
            item2 = functools.reduce(
                operator.add, (v for v in window if not (v is None or v != v)), 0
            )
            check1 = (not item1_na) and item1 == item2
            val, check2 = _is_power_of_ten_or_digit_drop(item1, item2)
            check3 = _is_epsilon_match(item1, item2)
            if check1 or check2 or check3:
                alive[i] = False
                if is_total:
                    total_flag, total_amt = TOTAL_EXPLAINED, val
                break
    return [k for k in range(m) if alive[k]], total_flag, total_amt


_NAMES = ["Cash", "Receivables", "Subtotal", "Other", "Total assets",
          "Total liabilities and equity", None]
_VALUES = st.one_of(
    st.integers(-5000, 5000).map(float),
    st.floats(-1e6, 1e6, allow_nan=False).map(lambda v: round(v, 2)),
    st.sampled_from([0.0, float("nan"), None, 0.1, 0.2, 0.3]),
)


@st.composite
def _filing_side(draw):
    values = draw(st.lists(_VALUES, max_size=40))
    # plant subtotals: a row equal to (or 10x, or one digit off) the sum
    # of the rows just above it, so the matching branches all fire
    for i in draw(st.lists(st.integers(1, 39), max_size=6)):
        if i < len(values):
            lo = draw(st.integers(0, i - 1))
            s = sum(v for v in values[lo:i] if not (v is None or v != v))
            values[i] = draw(st.sampled_from([s, s * 10, s / 10, s + 1]))
    items = draw(st.lists(st.sampled_from(_NAMES), min_size=len(values), max_size=len(values)))
    return items, values


@settings(max_examples=400, deadline=None, derandomize=True)
@given(_filing_side())
def test_running_sums_match_cubic_reference(side):
    items, values = side
    keep, flag, amt = totals_check_kernel(items, values)
    ref_keep, ref_flag, ref_amt = _cubic_totals_check(items, values)
    assert keep == ref_keep
    assert flag == ref_flag
    assert amt == ref_amt or (amt != amt and ref_amt != ref_amt)
