"""Fast regression core of the physical-layout / exec-strategy sweeps.

Full-registry evidence lives in ``tools/layout_sweep.py`` (159/159
clean, EVIDENCE_r6.md); this pins the property for one representative
query per layout-sensitive family so a regression shows up in the
normal suite, not only in a round-level sweep:

- top-k with ties (q20): partition arrival order must not break ties;
- unpartitioned window rank (q23): single-partition ordering;
- exact dedup keeper (q70): struct-min keeper, not first-seen-wins;
- ANN cosine top-k (q73): LIMIT cutoff under reordered candidates;
- sessionize (q62): window-function ordering over permuted input;
- grouped agg + having (q01): map-side combine over different splits.

Run A reads the tables as written with session confs; run B reads the
sweep's row-permuted, small-row-group rewrite (``build_perturbed``)
under tiny scan splits, shuffle.partitions=7, AQE off, codegen off, and
planner broadcasts forced to sort-merge — the union of the sweep's two
perturbation axes.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.layout_sweep import build_perturbed
from tools.verify_local import canon, mismatch, str_equal

QUERIES = [
    "q01_pricing_summary",
    "q20_topk_per_group",
    "q23_rank_family",
    "q62_sessionize",
    "q70_exact_dedup",
    "q73_cosine_topk",
]

PERTURB = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "32768",
    "spark.sql.files.openCostInBytes": "0",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


@pytest.fixture(scope="module")
def perturbed_dir(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("sf_layout"))
    build_perturbed(dst)
    return dst


@pytest.mark.parametrize("name", QUERIES)
def test_layout_and_exec_invariant(spark, name, perturbed_dir):
    import sanctum_spark.queries as qreg

    qreg.load_all_modules()
    q = qreg.REGISTRY[name]
    base = canon(q.fn(spark, SF_DIR).toPandas())

    saved = {k: spark.conf.get(k, None) for k in PERTURB}
    for k, v in PERTURB.items():
        spark.conf.set(k, v)
    try:
        pert = canon(q.fn(spark, perturbed_dir).toPandas())
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    assert str_equal(base, pert), (
        f"{name} is layout/exec-strategy dependent: {mismatch(base, pert)}"
    )
