"""Distributed spell runtime extras: error channel (protected calls),
telemetry accumulators, vectorized path equivalence."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from sanctum_spark.io import load_table
from sanctum_spark.spells import Spell, apply_spell
from sanctum_spark.spells.runtime import apply_spell_safely, split_errors
from sanctum_spark.spells.telemetry import instrumented_spell

OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("doubled", T.DoubleType()),
    ]
)


def _make_flaky_cast():
    # returned as a closure: cloudpickle serializes closures by value, so
    # workers don't need this test module importable
    def flaky_cast(event):
        if event["event_id"] % 10 == 0:
            raise ValueError(f"bad event {event['event_id']}")
        return {"event_id": event["event_id"], "doubled": event["value"] * 2}

    return flaky_cast


def test_error_channel_routes_dead_letters(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "value").limit(200)
    out = apply_spell_safely(ev, Spell(name="flaky", cast=_make_flaky_cast()), OUT_SCHEMA)
    good, bad = split_errors(out)
    n = 200
    n_bad = len([i for i in range(n) if i % 10 == 0])
    assert bad.count() == n_bad
    assert good.count() == n - n_bad
    row = bad.orderBy("_error_id").first()
    assert row["_error"].startswith("ValueError: bad event")
    assert row["_error_id"] % 10 == 0
    # good rows carry no error columns
    assert set(good.columns) == {"event_id", "doubled"}


def test_unprotected_spell_fails_the_job(spark, sf_dir):
    import pytest
    from py4j.protocol import Py4JJavaError

    ev = load_table(spark, sf_dir, "events").select("event_id", "value").limit(50)
    out = apply_spell(ev, Spell(name="flaky", cast=_make_flaky_cast()), OUT_SCHEMA)
    with pytest.raises(Exception):
        out.collect()


def test_telemetry_accumulators(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    n_total = ev.count()

    def make_cast():
        def cast(event):
            if event["value"] < 50:
                return None
            return {"event_id": event["event_id"], "doubled": event["value"] * 2}
        return cast
    cast = make_cast()

    wrapped, metrics = instrumented_spell(spark, Spell(name="m", cast=cast))
    out = apply_spell(ev, wrapped, OUT_SCHEMA)
    n_out = out.count()
    rep = metrics.report()
    assert rep["casts"] == n_total
    assert rep["drops"] == n_total - n_out
    assert rep["errors"] == 0
    assert rep["total_sec"] > 0
    assert rep["ns_per_cast"] > 0


def test_emission_channel_distributed(spark, sf_dir):
    """O8 console-sink parity on the distributed path: each event's
    printed lines are captured into _emits, matching the reference's
    golden emission sequences per event."""
    from sanctum_spark.spells.runtime import apply_spell_with_emits

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.get_json_object("props", "$.k").cast("long") % 4 + 1).alias("counter")
    ).limit(50)

    def make_cast():
        def cast(event):
            if event["counter"] <= 1:
                print("The counter has reached 0, stopping.")
                return None
            event = dict(event)
            event["counter"] -= 1
            print(f"The counter is now {event['counter']}.")
            return event
        return cast

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("n_casts", T.LongType()),
        ]
    )
    out = apply_spell_with_emits(
        ev, Spell(name="dec", cast=make_cast()), schema, mode="loop"
    ).collect()
    assert len(out) == 50
    for r in out:
        # k%4+1 ∈ [1,4] → lines: (n-1) decrements + 1 stop line
        assert r["_emits"][-1] == "The counter has reached 0, stopping."
        assert len(r["_emits"]) == max(r["n_casts"] - 1, 0) + 1


def test_expression_spell_tier_equivalence(spark, sf_dir):
    """The three boost-cast tiers — per-row dict, Arrow-vectorized pandas,
    and the zero-Python Catalyst ExpressionSpell — must produce identical
    result sets on the same input."""
    import sanctum_spark.queries as qreg
    from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL

    qreg.load_all_modules()
    row_tier = qreg.REGISTRY["q80_spell_cast"].fn(spark, sf_dir)
    vec_tier = qreg.REGISTRY["q82_spell_cast_vectorized"].fn(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    expr_tier = apply_spell(ev, BOOST_EXPR_SPELL, None, topic_col="event_type")

    rows = lambda df: sorted(tuple(r) for r in df.collect())  # noqa: E731
    got = rows(expr_tier)
    assert got == rows(vec_tier)
    assert got == rows(row_tier)
    assert len(got) > 0


def test_expression_spell_plan_is_zero_python(spark, sf_dir):
    """The expression tier must compile to pure Catalyst: no Python
    evaluation operator of any kind in the physical plan, and the topic
    route + where filter must appear as pushable Filter predicates."""
    from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    out = apply_spell(ev, BOOST_EXPR_SPELL, None, topic_col="event_type")
    plan = out._jdf.queryExecution().executedPlan().toString()
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "PythonMapInArrow", "FlatMapGroupsInPandas"):
        assert node not in plan, f"expression tier must not contain {node}"
    # "*(n)" prefixes mark whole-stage-codegen'd operators
    assert "*(1)" in plan
    # the where predicate must reach the parquet scan as a pushed filter
    assert "PushedFilters" in plan and "GreaterThanOrEqual(value" in plan


def test_expression_spell_topic_null_semantics(spark):
    """ExpressionSpell routing keeps the reference's code-wins null
    semantics (O4): a null event topic matches every spell."""
    from sanctum_spark.spells import ExpressionSpell, apply_expression_spell

    df = spark.createDataFrame(
        [(1, "purchase", 60.0), (2, None, 60.0), (3, "view", 60.0),
         (4, "purchase", 10.0)],
        ["event_id", "event_type", "value"],
    )
    spell = ExpressionSpell(
        name="b", where="value >= 50",
        project={"event_id": "event_id"}, topic="purchase",
    )
    got = sorted(r["event_id"] for r in
                 apply_expression_spell(df, spell, "event_type").collect())
    # 1: topic match; 2: null topic matches; 3: routed away; 4: where-drop
    assert got == [1, 2]
    # no-topic spell matches everything above the value bar
    open_spell = ExpressionSpell(
        name="b2", where="value >= 50", project={"event_id": "event_id"}
    )
    got = sorted(r["event_id"] for r in
                 apply_expression_spell(df, open_spell, "event_type").collect())
    assert got == [1, 2, 3]


def test_expression_tier_corner_cases_nan_and_half_boundary(spark):
    """Adversarial-review pin (r6): the three tiers must agree on the
    two corner cases where a naive expression translation diverges —
    NaN values (value >= 50 keeps NaN in Spark, drops it in pandas;
    `NOT (value < 50)` keeps it everywhere, matching the reference's
    `value < 50 -> nil`) and exact rounding half-boundaries (Spark
    round() is HALF_UP; Python/pandas round are HALF_EVEN; bround
    matches)."""
    import math

    from sanctum_spark.queries.spells_q import (
        BOOST_EXPR_SPELL,
        _boost_cast,
        _boost_cast_vectorized,
    )
    from pyspark.sql import types as T

    rows = [
        (1, 10, "purchase", 50.0625),   # *2 = 100.125: HALF_EVEN -> 100.12
        # NaN: KEPT by all tiers (NOT (value < 50)), and its boosted
        # value normalizes to NULL on all tiers — the Python tiers' Arrow
        # boundary maps float NaN to null (pandas null sentinel), so the
        # expression tier nanvl()s to match
        (2, 10, "purchase", float("nan")),
        (3, 10, "purchase", 49.99),     # dropped by all tiers
        (4, 10, "purchase", 50.0),      # boundary keep
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "value"]
    )
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("boosted_value", T.DoubleType()),
        ]
    )

    def canon(df_):
        out = {}
        for r in df_.collect():
            v = r["boosted_value"]
            out[r["event_id"]] = (
                "nan" if v is not None and math.isnan(v) else v
            )
        return out

    row_t = canon(apply_spell(
        df, Spell(name="b", cast=_boost_cast, topic="purchase"),
        schema, topic_col="event_type"))
    vec_t = canon(apply_spell(
        df, Spell(name="bv", cast=_boost_cast_vectorized, topic="purchase",
                  vectorized=True),
        schema, topic_col="event_type"))
    expr_t = canon(apply_spell(df, BOOST_EXPR_SPELL, schema,
                               topic_col="event_type"))
    assert row_t == vec_t == expr_t
    assert set(row_t) == {1, 2, 4}
    assert row_t[1] == 100.12  # HALF_EVEN, not 100.13
    assert row_t[2] is None  # NaN event kept, value normalized to null


def test_expression_spell_rejects_loop_mode(spark):
    """loop_spell with an ExpressionSpell must fail loudly instead of
    silently returning single-cast, n_casts-free output."""
    import pytest

    from sanctum_spark.queries.spells_q import BOOST_EXPR_SPELL
    from sanctum_spark.spells import loop_spell

    df = spark.createDataFrame([(1, "purchase", 60.0)],
                               ["event_id", "event_type", "value"])
    with pytest.raises(ValueError, match="mode='cast' only"):
        loop_spell(df, BOOST_EXPR_SPELL, None, topic_col="event_type")


def test_rewrite_state_refs_spares_function_calls():
    """A state field sharing a SQL function's name must rewrite only as a
    field REFERENCE, never where it is invoked: in ``round(round * 0.5, 2)``
    with state field ``round``, the call head stays a function (a bare
    state ref is never followed by ``(``)."""
    from sanctum_spark.spells.runtime import _rewrite_state_refs

    out = _rewrite_state_refs("round(round * 0.5, 2)", ["round"], "acc.s")
    assert out == "round(acc.s.`round` * 0.5, 2)"
    # whitespace before the paren is still a call
    out2 = _rewrite_state_refs("abs (abs)", ["abs"], "acc.s")
    assert out2 == "abs (acc.s.`abs`)"
    # subtraction of a parenthesized term is NOT a call: rewrite applies
    out3 = _rewrite_state_refs("counter - (1)", ["counter"], "acc.s")
    assert out3 == "acc.s.`counter` - (1)"


def test_loop_expression_state_field_named_like_function(spark):
    """End-to-end: a loop whose state field is literally ``round`` and whose
    step expression also CALLS round() — the rewrite guard keeps the call
    intact while the recurrence reads the state field."""
    from sanctum_spark.spells import ExpressionSpell
    from sanctum_spark.spells.runtime import loop_expression_spell

    df = spark.createDataFrame([(1, 2.0)], ["event_id", "round"])
    sp = ExpressionSpell(
        name="round_field_loop",
        where="round > 0.5",
        project={"round": "round(round / 2, 2)"},
    )
    rows = loop_expression_spell(df, sp).collect()
    # 2.0 -> 1.0 -> 0.5 (fails where) => 2 successful casts + the nil cast
    assert rows[0]["round"] == 0.5
    assert rows[0]["n_casts"] == 3


def _make_vectorized_cast():
    def cast(pdf):
        return pdf.assign(doubled=pdf["value"] * 2)[["event_id", "doubled"]]

    return cast


def _tiny_events(spark):
    return spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "event_id long, value double"
    )


def test_apply_spell_loop_rejects_vectorized_spell(spark):
    """A vectorized spell casts whole batches, so it has no per-event
    feedback chain: loop mode must refuse it instead of running one batch
    cast and emitting no n_casts."""
    import pytest

    spell = Spell(name="vec", cast=_make_vectorized_cast(), vectorized=True)
    with pytest.raises(ValueError, match="row-form"):
        apply_spell(_tiny_events(spark), spell, OUT_SCHEMA, mode="loop")


def test_apply_spell_rejects_unknown_mode(spark):
    import pytest

    spell = Spell(name="id", cast=lambda e: e)
    with pytest.raises(ValueError, match="'cast' or 'loop'"):
        apply_spell(_tiny_events(spark), spell, OUT_SCHEMA, mode="loops")


def test_row_runners_reject_vectorized_spell(spark):
    """The emits and dead-letter runners feed one event dict per call; a
    vectorized spell handed to them must fail at the call, not cast row
    dicts as if they were batches."""
    import pytest

    from sanctum_spark.spells.runtime import apply_spell_with_emits

    spell = Spell(name="vec", cast=_make_vectorized_cast(), vectorized=True)
    for runner in (apply_spell_with_emits, apply_spell_safely):
        with pytest.raises(ValueError, match="row-form"):
            runner(_tiny_events(spark), spell, OUT_SCHEMA)


def test_instrumented_spell_rejects_vectorized_spell(spark):
    """Telemetry counts per event; wrapping a vectorized spell would hand
    it row dicts through apply_spell — refuse it, naming the row form."""
    import pytest

    spell = Spell(name="vec", cast=_make_vectorized_cast(), vectorized=True)
    with pytest.raises(ValueError, match="row-form"):
        instrumented_spell(spark, spell)


def test_lifecycle_hooks_run_in_every_row_runner(spark):
    """prepare(config) runs once per task before the first cast in the
    emits and dead-letter runners too, not only in apply_spell: a cast
    that reads state set by prepare must see it (and unprepare clears
    it after the task)."""
    from sanctum_spark.spells.runtime import apply_spell_with_emits

    def make_spell():
        state: dict = {}

        def prepare(config):
            state["factor"] = config["factor"]

        def unprepare():
            state.clear()

        def cast(event):
            print("cast")
            return {"event_id": event["event_id"],
                    "doubled": event["value"] * state["factor"]}

        return Spell(name="scaled", cast=cast, prepare=prepare,
                     unprepare=unprepare, config={"factor": 3})

    ev = _tiny_events(spark)
    want = {1: 30.0, 2: 60.0}

    good, bad = split_errors(apply_spell_safely(ev, make_spell(), OUT_SCHEMA))
    assert bad.count() == 0
    assert {r["event_id"]: r["doubled"] for r in good.collect()} == want

    rows = apply_spell_with_emits(ev, make_spell(), OUT_SCHEMA).collect()
    assert {r["event_id"]: r["doubled"] for r in rows} == want
    assert all(r["_emits"] == ["cast"] for r in rows)
