"""Duplicate-saturated sweep: a documents table where 80% of docs share
one text and the rest a second — giant dedup clusters, saturated
shingle sets, constant digests.  Passed 0-problems on its FIRST run
(r6): the dedup/clustering family needs no fixes at saturation.

Usage: PYTHONPATH=. python tools/duplicate_sweep.py
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

sf = tempfile.mkdtemp(prefix="sf_dup_")
for t in TABLES:
    if t != "documents":
        shutil.copy(f"{SRC}/{t}.parquet", sf)
text_a = " ".join(f"alpha{i%7} beta{i%5}" for i in range(30))
text_b = " ".join(f"gamma{i%6} delta{i%4}" for i in range(25))
n = 400
rows = []
for i in range(n):
    t = text_a if i % 5 else text_b
    rows.append((i + 1, t, "en", "s1" if i % 3 else "s2", len(t)))
tbl = pa.table({
    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
    "text": pa.array([r[1] for r in rows], pa.string()),
    "lang": pa.array([r[2] for r in rows], pa.string()),
    "source": pa.array([r[3] for r in rows], pa.string()),
    "n_chars": pa.array([r[4] for r in rows], pa.int64()),
})
pq.write_table(tbl, f"{sf}/documents.parquet")
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("dup_sweep"), sf)
