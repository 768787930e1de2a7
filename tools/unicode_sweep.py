"""Full-registry Unicode sweep: the source fixture's documents plus
CJK-without-spaces, ZWJ emoji, combining marks, Turkish I forms,
NBSP/ideographic space and RTL Arabic rows.  Expected steady state
(r7): exactly 5 MISMATCH rows (q77, q106, q110, q114, q122), all
attributed to ONE remaining engine-library divergence — DuckDB's
utf8proc simple case folding vs the JVM's full case mapping on U+0130
'İ' (lower()-derived tokens diverge only when that character is
present; pinned from both sides in tests/test_edge_invariants_b10.py).
The byte-vs-code-point levenshtein divergence that also broke q115
through r6 is CLOSED: util.sql_codepoint_levenshtein recodes each pair
injectively to ASCII, so q115/q161 now match on any vocabulary
(tests/test_edge_invariants_b14.py).

Usage: PYTHONPATH=. python tools/unicode_sweep.py
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

sf = tempfile.mkdtemp(prefix="sf_uni_")
for t in TABLES:
    if t != "documents":
        shutil.copy(f"{SRC}/{t}.parquet", sf)

texts = [
    "漢字テキストに空白なし続くテキスト",
    "emoji 👨‍👩‍👧‍👦 text 🎉 done",
    "café résumé naive",
    "İstanbul DİYARBAKIR ılık IŞIK",   # the documented lower() divergence
    "nbsp bound tokens here",
    "wide　ideographic　space",
    "نص عربي من اليمين إلى اليسار",
    "Mixed 漢字 and عربي and 🎉 and ascii",
]
rows = list(zip(range(910001, 910001 + len(texts)), texts))
d = pq.read_table(f"{SRC}/documents.parquet")
extra = pa.table(
    {
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array(["xx"] * len(rows), pa.string()),
        "source": pa.array(["uni"] * len(rows), pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    }
)
pq.write_table(
    pa.concat_tables([pa.table({c: d[c] for c in extra.column_names}), extra]),
    f"{sf}/documents.parquet",
)

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
sweep(get_spark("unicode_sweep"), sf)
