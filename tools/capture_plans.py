"""Capture .explain("formatted") for named queries into plans/<dir>/.

Usage: python tools/capture_plans.py <label> [query ...]
  label  - suffix for the plan files: plans/<SPARK_GRAFT_PLAN_DIR default r14>/<query>_<label>.txt
           (use "before" / "after" per the optimization-round contract)
  query  - registry names; default: the top-slowest set tracked in r13.

Runs each query's DataFrame build only (no action), writes the formatted
plan.  The AQE-final plan differs; these files record the static plan the
optimizer produced, which is what code-level claims (join strategy,
exchange count, PushedFilters, Python-eval nodes) are checked against.

Counters that depend on session history, not on the query, are
normalized before writing (``normalize``): expression ids ``#123``,
lambda variable names ``x_45`` and the ``plan_id=`` of checkpointed
scans, so two captures of unchanged code diff clean.  One difference
is left: Catalyst numbers the ``Expand`` groups (``gid``) of an
aggregate over several distinct columns in an order that varies
between identical runs (q151, q160), so compare those two queries by
result, not by plan text.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DEFAULT_QUERIES = [
    "q88_user_correlation",
    "q85_grouped_map_normalize",
    "q158_quality_keeper",
    "q114_textrank_keywords",
    "q99_dedup_clusters",
    "q119_pq_ann",
    "q161_entity_resolution",
    "q142_cross_source_overlap",
    "q122_lm_score",
    "q79_embedding_neardup",
    "q104_decontamination",
    "q81_spell_loop",
    "q38_excess_volume_suppliers",
    "q147_heavy_hitters",
    "q162_bm25_topk",
]


def normalize(plan: str) -> str:
    """``plan`` with expression ids, lambda variable names and
    ``plan_id=`` counters replaced by their bare prefixes."""
    plan = re.sub(r"#\d+", "#", plan)
    plan = re.sub(r"\bx_\d+\b", "x_", plan)
    return re.sub(r"plan_id=\d+", "plan_id=", plan)


def main() -> None:
    label = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or DEFAULT_QUERIES
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(REPO, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r14"))
    os.makedirs(out_dir, exist_ok=True)

    from sanctum_spark.session import get_spark
    from sanctum_spark import queries as qreg

    spark = get_spark("capture_plans")
    registry = qreg.queries()
    for name in names:
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"plan: {name}")
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue())
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
