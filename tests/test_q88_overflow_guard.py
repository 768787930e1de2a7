"""q88's integer-moment Pearson overflow guard (r13 verdict task #8).

q88_user_correlation computes corr from six exact BIGINT raw moments
(events_q.py).  Longs wrap SILENTLY in non-ANSI mode, so the in-code
overflow bound — largest term n*sum(av*bv) <= n_hours^2 * max|v|^2 —
must be enforced by a test on the actual data rather than trusted as a
comment: a regenerated/widened dataset that violates it would corrupt
correlations with no error anywhere.

The check is footer-to-aggregate via DuckDB (no Spark session needed)
and runs over every shipped scale factor so the bench SF (sf0.1) is
covered, not just the test SF.
"""

from __future__ import annotations

import os

import duckdb
import pytest

# Minimum acceptable headroom between the worst-case moment term and
# 2^63.  r13 measured 57x at sf0.1; demanding >= 4x keeps the guard
# meaningful without tripping on ordinary data growth.
MIN_HEADROOM = 4.0

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.exists(os.path.join(d, "events.parquet"))
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_q88_moment_terms_fit_int64(sf_dir: str) -> None:
    events = os.path.join(sf_dir, "events.parquet")
    con = duckdb.connect()
    # The same hourly series the query builds: per (user, hour) sum of
    # the e3-grain integer pin (sql_int_grain(value, 3)).
    row = con.execute(
        f"""
        WITH hourly AS (
            SELECT user_id, date_trunc('hour', ts) AS h,
                   CAST(SUM(CAST(FLOOR(value * 1000.0 + 0.5 + 1e-9)
                                 AS BIGINT)) AS BIGINT) AS v
            FROM read_parquet('{events}')
            GROUP BY 1, 2
        )
        SELECT MAX(ABS(v)) AS max_v,
               COUNT(DISTINCT h) AS n_hours
        FROM hourly
        """
    ).fetchone()
    max_v, n_hours = int(row[0] or 0), int(row[1] or 0)
    # Worst case across the six partials: n * sum(av*bv) and
    # sum(av)*sum(bv) are both bounded by n_hours^2 * max|v|^2 (a pair
    # shares at most n_hours hours, each product at most max|v|^2).
    worst = float(n_hours) ** 2 * float(max_v) ** 2
    assert worst > 0, f"empty hourly table at {sf_dir}"
    headroom = float(2**63) / worst
    assert headroom >= MIN_HEADROOM, (
        f"q88 integer moments too close to int64 overflow at {sf_dir}: "
        f"max|v|={max_v}, n_hours={n_hours}, worst term {worst:.3e}, "
        f"headroom {headroom:.1f}x < {MIN_HEADROOM}x. Recompute the "
        "second-moment terms in DECIMAL(38,0) (events_q.py q88) or "
        "re-derive the bound before trusting the BIGINT path."
    )
