"""Hot-key-saturated sweep (ninth robustness family): the relational /
events analog of the duplicate-saturation sweep.  One user owns 80% of
all events (and those rows collapse to a single event_type), one
customer owns 80% of all orders, one supplier ships 80% of lineitem —
the worst skew a 100 TB corpus realistically shows, where a single
group is the size of a whole executor's input.

What it checks is SEMANTICS under saturation, not speed: giant window
partitions, single-key sessionization, one dominant group in every
aggregate/join/funnel, must still produce answers identical to the
DuckDB oracle on the same crafted tables (AQE's skew handling changes
the physical plan, never the result — the exec-strategy sweep covers
that axis).

Usage: PYTHONPATH=. python tools/hotkey_sweep.py
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")
import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.io import TABLES
from sanctum_spark.session import get_spark
from tools.verify_local import sweep

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")


def _remap(table: pa.Table, col: str, hot_value, keep_every: int = 5) -> pa.Table:
    """Point 4 of every 5 rows' ``col`` at ``hot_value`` (deterministic:
    row position % keep_every keeps the original)."""
    vals = table[col].to_pylist()
    out = [v if i % keep_every == 0 else hot_value for i, v in enumerate(vals)]
    idx = table.schema.get_field_index(col)
    return table.set_column(idx, col, pa.array(out, table.schema.field(col).type))


def main() -> int:
    sf = tempfile.mkdtemp(prefix="sf_hotkey_")
    for t in TABLES:
        if t not in ("events", "orders", "lineitem"):
            shutil.copy(f"{SRC}/{t}.parquet", f"{sf}/{t}.parquet")

    ev = pq.read_table(f"{SRC}/events.parquet")
    hot_user = ev["user_id"][0].as_py()
    ev = _remap(ev, "user_id", hot_user)
    ev = _remap(ev, "event_type", "click")
    pq.write_table(ev, f"{sf}/events.parquet")

    orders = pq.read_table(f"{SRC}/orders.parquet")
    hot_cust = orders["o_custkey"][0].as_py()
    orders = _remap(orders, "o_custkey", hot_cust)
    pq.write_table(orders, f"{sf}/orders.parquet")

    li = pq.read_table(f"{SRC}/lineitem.parquet")
    hot_supp = li["l_suppkey"][0].as_py()
    li = _remap(li, "l_suppkey", hot_supp)
    pq.write_table(li, f"{sf}/lineitem.parquet")

    print(
        f"hot keys: user_id={hot_user}, o_custkey={hot_cust}, "
        f"l_suppkey={hot_supp} (80% of rows each)"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    bad = sweep(get_spark("hotkey_sweep"), sf)
    shutil.rmtree(sf, ignore_errors=True)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
