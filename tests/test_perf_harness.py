"""tools/perf.py: the paired A/B harness on tiny in-session builders."""

from __future__ import annotations

from tools import perf


def test_paired_ab_alternates_and_checks_identity(spark):
    calls: list[str] = []

    def side(tag, n):
        def build():
            calls.append(tag)
            return spark.range(n)
        return build

    out = perf.paired_ab(spark, side("old", 10), side("new", 10), pairs=2)
    # identity collect, warm-up, then the pairs with the first side swapped
    assert calls == ["old", "new", "old", "new", "old", "new", "new", "old"]
    assert out["identical"] is True
    assert out["rows"] == {"old": 10, "new": 10}
    assert len(out["pairs"]) == 2
    # spark.range builds lazily: every job belongs to the count
    assert out["build_jobs"] == {"old": 0, "new": 0}
    assert out["action_jobs"]["old"] > 0 and out["action_jobs"]["new"] > 0

    off = perf.paired_ab(spark, side("old", 10), side("new", 11), pairs=2)
    assert off["identical"] is False
    assert off["rows"] == {"old": 10, "new": 11}


def test_resolve_file_and_registry_specs(spark, tmp_path):
    src = tmp_path / "cand.py"
    src.write_text(
        "def build(spark, sf_dir):\n"
        "    return spark.range(3).toDF('x')\n"
    )
    fn = perf.resolve(f"{src}:build", "_perf_test_side")
    assert [r.x for r in fn(spark, "unused").collect()] == [0, 1, 2]

    from sanctum_spark import queries as qreg

    assert perf.resolve("q01_pricing_summary", "_unused") is (
        qreg.queries()["q01_pricing_summary"]
    )
