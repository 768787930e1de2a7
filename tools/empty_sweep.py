"""Full-registry empty-input sweep: zero-row copies of every table
schema, all queries run, oracle-paired ones compared by the gate's rule
(``verify_local.sweep``).
Expected steady state (r6): 144 match + 12 rows-only + the 3 documented
rollup/cube/grouping-sets grand-total divergences (q30/q31/q32 — see
tests/test_empty_input.py).

Usage: PYTHONPATH=. python tools/empty_sweep.py
"""

import os
import sys
import tempfile

sys.path.insert(0, ".")

import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.io import TABLES
from sanctum_spark.session import get_spark
from tools.verify_local import sweep

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")

sf = tempfile.mkdtemp(prefix="sf_empty_")
for t in TABLES:
    schema = pq.read_schema(f"{SRC}/{t}.parquet")
    schema = pa.schema([schema.field(i) for i in range(len(schema.names))])
    pq.write_table(schema.empty_table(), f"{sf}/{t}.parquet")

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("empty_sweep"), sf)
