"""Full-registry extreme-value sweep: the source fixture's events plus
rows at ±1e12..1e15 value magnitudes, pre-epoch and year-2262
timestamps.  Expected steady state (r6): 3 pin-domain limits, not
semantic divergences — q153's fixed-point DTW oracle needs
|x|*10^s < 2^63, and q89/q100's decimal pins lose meaning once one ulp
exceeds the decimal grain (see the util.py integer-grain DOMAIN note).

Usage: PYTHONPATH=. python tools/extreme_sweep.py
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.io import TABLES
from sanctum_spark.session import get_spark
from tools.verify_local import sweep

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")

sf = tempfile.mkdtemp(prefix="sf_ext_")
for t in TABLES:
    if t != "events":
        shutil.copy(f"{SRC}/{t}.parquet", sf)

e = pq.read_table(f"{SRC}/events.parquet")
ts = lambda s: pd.Timestamp(s).to_pydatetime()
rows = [
    (9910001, ts("2024-01-01"), 991001, "view", -5.5),
    (9910002, ts("2024-01-01"), 991001, "view", -1e12),
    (9910003, ts("2024-01-01"), 991002, "purchase", 1e15),
    (9910004, ts("2262-01-01"), 991003, "view", 1.0),
    (9910005, ts("1969-12-30"), 991004, "click", 2.0),
    (9910006, ts("1901-06-15"), 991004, "view", 3.0),
    # pre-epoch purchases: negative epoch-week arithmetic through q112
    # (integer // and DIV both truncate toward zero — probed r6)
    (9910007, ts("1969-12-28"), 991005, "purchase", 1.0),
    (9910008, ts("1969-01-05"), 991005, "purchase", 1.0),
]
extra = pa.table(
    {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], e["ts"].type),
        "user_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
        "value": pa.array([float(r[4]) for r in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }
)
pq.write_table(
    pa.concat_tables([pa.table({c: e[c] for c in extra.column_names}), extra]),
    f"{sf}/events.parquet",
)

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("extreme_sweep"), sf)
