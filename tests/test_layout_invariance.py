"""Fast regression core of the physical-layout / exec-strategy sweeps.

Full-registry evidence comes from ``tools/sweep.py layout exec``
(159/159 clean, EVIDENCE_r6.md); this pins the property for one
representative query per layout-sensitive family so a regression shows
up in the normal suite, not only in a round-level sweep:

- top-k with ties (q20): partition arrival order must not break ties;
- unpartitioned window rank (q23): single-partition ordering;
- exact dedup keeper (q70): struct-min keeper, not first-seen-wins;
- ANN cosine top-k (q73): LIMIT cutoff under reordered candidates;
- sessionize (q62): window-function ordering over permuted input;
- grouped agg + having (q01): map-side combine over different splits.

Run A reads the tables as written with session confs; run B reads the
row-permuted, small-row-group ``layout`` fixture (``tools/fixtures.py``)
under tiny scan splits, shuffle.partitions=7, AQE off, codegen off, and
planner broadcasts forced to sort-merge — the union of the sweep's two
perturbation axes.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIR
from tools.fixtures import materialize
from tools.sweep import EXEC_CONFS, LAYOUT_CONFS
from tools.verify_local import canon, confs, mismatch, str_equal

QUERIES = [
    "q01_pricing_summary",
    "q20_topk_per_group",
    "q23_rank_family",
    "q62_sessionize",
    "q70_exact_dedup",
    "q73_cosine_topk",
]

PERTURB = {**EXEC_CONFS, **LAYOUT_CONFS}


@pytest.fixture(scope="module")
def perturbed_dir(tmp_path_factory):
    return materialize("layout", SF_DIR,
                       str(tmp_path_factory.mktemp("sf_layout")))


@pytest.mark.parametrize("name", QUERIES)
def test_layout_and_exec_invariant(spark, name, perturbed_dir):
    import sanctum_spark.queries as qreg

    qreg.load_all_modules()
    q = qreg.REGISTRY[name]
    base = canon(q.fn(spark, SF_DIR).toPandas())

    with confs(spark, PERTURB):
        pert = canon(q.fn(spark, perturbed_dir).toPandas())

    assert str_equal(base, pert), (
        f"{name} is layout/exec-strategy dependent: {mismatch(base, pert)}"
    )
