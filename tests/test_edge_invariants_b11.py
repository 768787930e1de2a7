"""Cross-engine invariants, batch 11: regression pins for the r6
relational-nulls sweep (tools/fixtures.py ``relational_nulls``) — the NOT IN
NULL trap, NULL-operand concat, and NULL z-order dimensions.
"""

from __future__ import annotations

import pandas as pd
import pytest

from test_edge_invariants import _both
from test_edge_invariants_b3 import _write_part
from test_edge_invariants_b4 import _write_orders
from test_edge_invariants_b6 import _write_customer_fk


def test_q11_not_in_null_trap(spark, tmp_path):
    """Anti-join with a NULL key on the right side: NOT IN would return
    ZERO rows under three-valued logic; NOT EXISTS (the oracle) and
    Spark's left_anti agree that the order-less customer survives and
    the NULL key matches nobody."""
    d = pd.Timestamp("2024-01-01").value // 1000
    _write_customer_fk(tmp_path, [(1, 0), (2, 0), (3, 0)])
    _write_orders(
        tmp_path,
        [(10, 1, "O", 1.0, d), (11, None, "O", 1.0, d)],  # NULL o_custkey
    )
    got, want = _both(spark, str(tmp_path), "q11_anti_join")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["c_custkey"]) == {"2", "3"}


def test_q50_q53_null_concat_semantics(spark, tmp_path):
    """String scalars over an all-NULL part row: DuckDB CONCAT skips
    NULL args while Spark's concat propagates NULL — the explicit
    COALESCE('') pins brand_type ':' and trimmed_type '' identically,
    and the ||-based mixed_case stays NULL on both."""
    _write_part(
        tmp_path,
        [(1, "cat", "B1", "T1"), (2, None, None, None)],
    )
    for name in ("q50_scalar_functions", "q53_string_functions"):
        got, want = _both(spark, str(tmp_path), name)
        pd.testing.assert_frame_equal(got, want, obj=name)
    got, _ = _both(spark, str(tmp_path), "q50_scalar_functions")
    by_key = {r["p_partkey"]: r for _, r in got.iterrows()}
    assert by_key["2"]["brand_type"] == ":"
    got, _ = _both(spark, str(tmp_path), "q53_string_functions")
    by_key = {r["p_partkey"]: r for _, r in got.iterrows()}
    assert by_key["2"]["trimmed_type"] == ""
    assert by_key["2"]["mixed_case"] in ("None", "nan")


def test_q128_null_dimension_excluded(spark, tmp_path):
    """Z-order keys skip rows with a NULL dimension on both engines —
    without the filter, Spark sorts NULLs FIRST in ASC while DuckDB
    sorts them LAST, silently shifting the LIMIT window."""
    d = lambda s: pd.Timestamp(s).value // 1000
    _write_orders(
        tmp_path,
        [
            (1, 5, "O", 1.0, d("1992-02-01")),
            (2, None, "O", 1.0, d("1992-03-01")),   # NULL custkey: excluded
            (3, 7, "O", 1.0, None),                 # NULL date: excluded
            (4, 6, "O", 1.0, d("1992-02-02")),
        ],
    )
    got, want = _both(spark, str(tmp_path), "q128_zorder_key")
    pd.testing.assert_frame_equal(got, want)
    assert set(got["o_orderkey"]) == {"1", "4"}


if __name__ == "__main__":
    pytest.main([__file__, "-q"])
