"""Full-registry degenerate-embeddings sweep: the source fixture plus
NULL / empty / ragged-dimension / NaN / Inf vectors and a NULL label.
Expected steady state (r6): 0 problems (147 match + 12 rows-only).

Usage: PYTHONPATH=. python tools/embeddings_sweep.py
"""

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

sf = tempfile.mkdtemp(prefix="sf_emb_")
for t in TABLES:
    if t != "embeddings":
        shutil.copy(f"{SRC}/{t}.parquet", sf)

e = pq.read_table(f"{SRC}/embeddings.parquet")
dim = len(e["embedding"][0])
rows = [
    (920001, None, 0),                      # NULL vector
    (920002, [], 0),                        # empty vector
    (920003, [1.0, 2.0], 0),                # ragged (wrong dim)
    (920004, [float("nan")] * dim, 1),      # NaN components
    (920005, [float("inf")] * dim, 1),      # Inf components
    (920006, [0.5] * dim, None),            # NULL label
]
extra = pa.table(
    {
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows], pa.list_(pa.float32())),
        "label": pa.array([r[2] for r in rows], e["label"].type),
    }
)
pq.write_table(
    pa.concat_tables([pa.table({c: e[c] for c in extra.column_names}), extra]),
    f"{sf}/embeddings.parquet",
)

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("embeddings_sweep"), sf)
