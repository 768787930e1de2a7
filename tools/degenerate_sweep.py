"""Full-registry degenerate-row sweep: the source fixture plus crafted
rows — NULL/empty/whitespace text, NULL user_id/event_type/value, NULL
and malformed JSON props, non-numeric and fractional $.k values.
Expected steady state (r6): 0 problems (147 match + 12 rows-only).

Usage: PYTHONPATH=. python tools/degenerate_sweep.py
"""

import json
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

sf = tempfile.mkdtemp(prefix="sf_null_")
for t in TABLES:
    if t not in ("documents", "events"):
        shutil.copy(f"{SRC}/{t}.parquet", sf)

d = pq.read_table(f"{SRC}/documents.parquet")
extra = pa.table(
    {
        "doc_id": pa.array([900001, 900002, 900003], pa.int64()),
        "text": pa.array([None, "", "   "], pa.string()),
        "lang": pa.array(["en", None, "xx"], pa.string()),
        "source": pa.array(["s_null", "s_empty", None], pa.string()),
        "n_chars": pa.array([0, 0, 3], pa.int64()),
    }
)
pq.write_table(
    pa.concat_tables([pa.table({c: d[c] for c in extra.column_names}), extra]),
    f"{sf}/documents.parquet",
)

e = pq.read_table(f"{SRC}/events.parquet")
ts0 = pa.scalar(1_700_000_000_000_000_000, pa.timestamp("ns")).as_py()
rows = [
    # (event_id, user_id, event_type, value, props)
    (9900001, 990001, None, None, None),
    (9900002, None, "view", 1.0, "not json"),
    (9900003, 990002, "view", None, json.dumps({"k": 4})),   # NULL value, valid k
    (9900004, 990002, "view", 2.0, json.dumps({"k": "abc"})),  # non-numeric k
    (9900005, 990002, "view", 3.0, json.dumps({"k": 3.7})),    # fractional k
    # r7 (ADVICE items 1-2): quoted/negative $.k classes the r6 sweeps
    # never generated
    (9900006, 990003, "view", 4.0, json.dumps({"k": "5"})),    # QUOTED int: Spark try_cast -> 5
    (9900007, 990003, "view", 5.0, json.dumps({"k": "3.7"})),  # quoted decimal: NULL both sides
    (9900008, 990003, "view", 6.0, json.dumps({"k": " 5 "})),  # quoted padded int -> 5
    (9900009, 990003, "view", 7.0, json.dumps({"k": -1})),     # k%3+1 == 0: q84 zero fan-out
    (9900010, 990003, "view", 8.0, json.dumps({"k": "-2"})),   # quoted negative -> n == -1
]
eextra = pa.table(
    {
        "event_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([ts0] * len(rows), e["ts"].type),
        "user_id": pa.array([r[1] for r in rows], pa.int64()),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "props": pa.array([r[4] for r in rows], pa.string()),
    }
)
pq.write_table(
    pa.concat_tables([pa.table({c: e[c] for c in eextra.column_names}), eextra]),
    f"{sf}/events.parquet",
)

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("degenerate_sweep"), sf)
