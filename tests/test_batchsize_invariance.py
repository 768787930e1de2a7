"""Fast regression core for the Arrow-batch-size invariance axis
(tenth robustness family — full-registry evidence pass:
``tools/sweep.py batchsize``, 159/159 clean at sf0.001).

``spark.sql.execution.arrow.maxRecordsPerBatch`` is an engine tunable:
131072 in this repo's sessions, 10000 stock Spark, and effectively
arbitrary on a real cluster (upstream operators and memory pressure
change batching).  Results must be a pure function of table content —
any batch-local assumption in a Python-boundary operator (batch-local
normalization in a "vectorized" cast, state carried across yields,
batch-edge special-casing) diverges when every boundary suddenly sees
7-row batches instead of one batch per partition.

The six queries here are the most batch-shaped surfaces: the vectorized
spell cast (whole-batch pandas expression), the grouped-agg scalar
pandas_udf, the mapInPandas fan-out generator, grouped-map
applyInPandas, the multimodal decode mapInPandas, and the DTW Arrow
kernel.
"""

from __future__ import annotations

import pytest

from tools.verify_local import canon, confs, mismatch, str_equal

CORE = [
    "q82_spell_cast_vectorized",
    "q83_grouped_agg_udf",
    "q84_spell_fanout_udtf",
    "q85_grouped_map_normalize",
    "q90_multimodal_features",
    "q153_dtw_similarity",
]

@pytest.mark.parametrize("name", CORE)
def test_batch_size_invariant(spark, sf_dir, name):
    import sanctum_spark.queries as qreg

    qreg.load_all_modules()
    q = qreg.REGISTRY[name]
    base = canon(q.fn(spark, sf_dir).toPandas())
    with confs(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}):
        tiny = canon(q.fn(spark, sf_dir).toPandas())
    # mismatch names the first rows held by one side only, not just the
    # counts: the likelier failure is equal counts with diverging values
    assert str_equal(base, tiny), (
        f"{name} is batch-size-dependent (default vs batch=7): "
        f"{mismatch(base, tiny)}"
    )
