"""Full-registry relational-nulls sweep: NULL join keys, amounts,
dates, names and flags appended to the TPC-H tables.  Expected steady
state (r6): 0 problems (147 match + 12 rows-only).

Usage: PYTHONPATH=. python tools/relational_nulls_sweep.py
"""

import os
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sanctum_spark.session import get_spark
from tools.verify_local import sweep

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")

sf = tempfile.mkdtemp(prefix="sf_rel_")
for t in ("region", "nation", "events", "documents", "embeddings"):
    shutil.copy(f"{SRC}/{t}.parquet", sf)


def aug(t, extra_cols):
    tbl = pq.read_table(f"{SRC}/{t}.parquet")
    n = max(len(v) for v in extra_cols.values())
    cols = {}
    for name in tbl.column_names:
        vals = extra_cols.get(name, [None] * n)
        cols[name] = pa.array(vals, tbl[name].type)
    pq.write_table(
        pa.concat_tables([tbl, pa.table(cols)]), f"{sf}/{t}.parquet"
    )


d = pd.Timestamp("2024-01-01").to_pydatetime()
aug("customer", {"c_custkey": [980001, 980002], "c_acctbal": [None, 5.0],
                 "c_nationkey": [None, 1], "c_mktsegment": [None, "BUILDING"],
                 "c_name": ["NullCo", None]})
aug("orders", {"o_orderkey": [970001, 970002], "o_custkey": [980001, None],
               "o_totalprice": [None, 10.0], "o_orderdate": [None, d],
               "o_orderstatus": [None, "O"],
               "o_orderpriority": [None, "1-URGENT"]})
aug("lineitem", {"l_orderkey": [970001, None], "l_partkey": [None, 1],
                 "l_suppkey": [None, 1], "l_linenumber": [None, 1],
                 "l_quantity": [None, 1.0], "l_extendedprice": [None, 2.0],
                 "l_discount": [None, 0.1], "l_tax": [None, 0.0],
                 "l_returnflag": [None, "N"], "l_linestatus": [None, "O"],
                 "l_shipdate": [None, d]})
aug("part", {"p_partkey": [960001], "p_name": [None], "p_brand": [None],
             "p_type": [None], "p_size": [None], "p_retailprice": [None]})
aug("supplier", {"s_suppkey": [950001], "s_name": [None],
                 "s_nationkey": [None], "s_acctbal": [None]})

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("relational_nulls_sweep"), sf)
