"""Spell execution: the simulate path (golden parity) and the distributed
mapInPandas path.

Reference execution trace being reproduced (src/main.zig:127-166):
spell eval → validate → seed eval → topic route → msgpack round trip →
loop{ protected cast → nil? stop → round trip } bounded at 1000.
"""

from __future__ import annotations

import base64
import contextlib
import copy as _copy
import io as _io
from collections.abc import Iterator
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from sanctum_spark.codec import roundtrip, pack
from sanctum_spark.spells.errors import RUNAWAY_LOOP_BOUND, SpellNotATableError
from sanctum_spark.spells.registry import (
    ExpressionSpell,
    Spell,
    matches_topic,
    topic_filter,
    validate_spell,
)

TOPIC_KEY = "$topic"  # reference: src/main.zig:189


def dump_event_url(event: dict) -> str:
    """Debug event sink: msgpack → base64 inspection URL
    (reference: dumpEvent, src/main.zig:226-236).

    Reference quirk: dumpEvent url-escapes only the LAST '=' padding char
    (lastIndexOf + in-place '%3D' overwrite, src/main.zig:230-234), so
    '==' padding prints as '=%3D'."""
    b64 = base64.b64encode(pack(event)).decode("ascii")
    if b64.endswith("="):
        b64 = b64[:-1] + "%3D"
    return f"https://msgpack.dbrgn.ch/#base64={b64}"


@dataclass
class SimulationResult:
    lines: list[str] = field(default_factory=list)
    events: list[dict] = field(default_factory=list)  # post-roundtrip event states
    dumps: list[str] = field(default_factory=list)
    casts: int = 0
    exit_code: int = 0


def simulate(
    spell_obj: object,
    seed: dict,
    name: str = "spell",
    source: str | None = None,
    dump_events: bool = False,
    max_casts: int = RUNAWAY_LOOP_BOUND,
) -> SimulationResult:
    """Single-seed driver-side event loop — byte-level parity with the
    reference CLI including the msgpack round trip between casts.

    Raises ``SpellError`` subclasses (exit code 1) exactly where the
    reference exits 1; a topic mismatch is a silent no-op with exit 0
    (reference: src/main.zig:147-150, test topic-singular-filtering).
    """
    spell = validate_spell(spell_obj, name=name, source=source)
    result = SimulationResult()
    if not isinstance(seed, dict):
        raise SpellNotATableError(seed, source)
    if not matches_topic(spell.topic, seed.get(TOPIC_KEY)):
        return result

    if spell.prepare is not None:
        spell.prepare(spell.config)
    event = roundtrip(seed)
    if dump_events:
        result.dumps.append(dump_event_url(event))
    # snapshot, not the live reference: a cast that mutates its event
    # in place (the common Lua idiom the reference suites use) would
    # otherwise rewrite the recorded history — the msgpack round trip
    # isolates consecutive casts but not the record of past states
    result.events.append(_copy.deepcopy(event))

    stdout = _io.StringIO()
    try:
        while result.casts < max_casts:
            with contextlib.redirect_stdout(stdout):
                out = spell.cast(event)
            result.casts += 1
            if out is None:
                break
            if not isinstance(out, dict):
                raise SpellNotATableError(out, source)
            event = roundtrip(out)
            if dump_events:
                result.dumps.append(dump_event_url(event))
            result.events.append(_copy.deepcopy(event))
    finally:
        if spell.unprepare is not None:
            spell.unprepare()

    text = stdout.getvalue()
    result.lines = text.split("\n")[:-1] if text else []
    return result


def _rows_to_pdf(rows: list[dict], names: list[str]) -> pd.DataFrame:
    return pd.DataFrame({n: [r.get(n) for r in rows] for n in names})


def _check_mode(mode: str) -> None:
    if mode not in ("cast", "loop"):
        raise ValueError(f"mode must be 'cast' or 'loop', got {mode!r}")


def _row_spell(spell: Spell | object, caller: str) -> Spell:
    """Validate ``spell`` for a runner that feeds it one event dict at a
    time.  A vectorized spell casts whole pandas batches; handing it row
    dicts would run it on the wrong type far from the cause."""
    spell = validate_spell(spell)
    if spell.vectorized:
        raise ValueError(
            f"{caller} needs a row-form spell (cast(event: dict) -> dict | "
            f"None, one call per event); {spell.name!r} is vectorized "
            "(cast(pdf) over a whole pandas batch)"
        )
    return spell


def _feedback(cast, event: dict, max_casts: int) -> tuple[dict, int]:
    """The bounded feedback loop (reference O7) for one event: cast until
    None or ``max_casts``.  Returns the last non-None event and the number
    of casts made, the terminating None cast included."""
    n = 0
    while n < max_casts:
        out = cast(event)
        n += 1
        if out is None:
            break
        event = out
    return event, n


def _run_spell(
    df: DataFrame,
    spell: Spell,
    output_schema: StructType,
    topic_col: str | None,
    step,
    extra_fields: tuple = (),
    batched: bool = False,
) -> DataFrame:
    """The one ``mapInPandas`` runner behind every distributed spell call:
    topic filter → ``prepare(config)`` once per task → ``step`` per event
    (``None`` drops it) → rows → pandas → ``unprepare``.

    ``extra_fields`` are appended to ``output_schema`` for side channels
    (``_emits``, ``_error``).  ``batched=True`` hands ``step`` each whole
    pandas batch instead (the vectorized tier); its return is the output
    batch, ``None`` dropping it."""
    if topic_col is not None:
        df = df.filter(topic_filter(spell, topic_col))
    prepare = spell.prepare
    unprepare = spell.unprepare
    config = dict(spell.config)
    schema = StructType(list(output_schema.fields) + list(extra_fields))
    names = [f.name for f in schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if prepare is not None:
            prepare(config)
        try:
            for pdf in batches:
                if batched:
                    out_pdf = step(pdf)
                    if out_pdf is not None:
                        yield out_pdf
                    continue
                rows_out: list[dict] = []
                for row in pdf.to_dict("records"):
                    out = step(row)
                    if out is not None:
                        rows_out.append(out)
                yield _rows_to_pdf(rows_out, names)
        finally:
            if unprepare is not None:
                unprepare()

    return df.mapInPandas(run, schema=schema)


def apply_spell(
    df: DataFrame,
    spell: Spell | object,
    output_schema: StructType,
    topic_col: str | None = None,
    mode: str = "cast",
    max_casts: int = RUNAWAY_LOOP_BOUND,
) -> DataFrame:
    """Distributed spell application over a DataFrame, one row = one event.

    - ``mode='cast'``: single invocation per event, 0..1 output rows
      (reference O5 semantics — a None return drops the event).
    - ``mode='loop'``: the feedback loop (reference O7) runs *inside* the
      task per event — casts feed back until None or the 1000 bound; the
      final event state plus an ``n_casts`` column is emitted.  At 100 TB
      this is a single pass over the data instead of up-to-1000 chained
      jobs; it is correct because each event's feedback chain is
      independent (the reference processes exactly one seed per run).
      Row-form spells only: a vectorized spell raises ``ValueError``.

    ``prepare``/``unprepare`` lifecycle hooks run once per partition task
    around the Arrow batch iterator (the Spark-idiomatic reading of the
    reference's once-per-process hooks, docunomicon/README.md:30-48).

    The Arrow JVM⇄Python boundary enforces "events are data-only" the same
    way the reference's msgpack round trip does (SURVEY.md §1.2): only
    schema-typed values survive into the output DataFrame.

    :class:`ExpressionSpell` instances dispatch to
    :func:`apply_expression_spell` (zero-Python Catalyst tier; the
    ``output_schema``/``mode`` arguments don't apply there).
    """
    if isinstance(spell, ExpressionSpell):
        if mode != "cast":
            # an expression spell is a single filter+project here; silently
            # returning loop-free output (no n_casts) would be wrong far
            # from the cause — reject loudly and point at the loop tier
            raise ValueError(
                f"ExpressionSpell {spell.name!r} supports mode='cast' only "
                f"(got mode={mode!r}); use loop_expression_spell for the "
                "zero-Python feedback loop"
            )
        return apply_expression_spell(df, spell, topic_col=topic_col)
    _check_mode(mode)
    spell = validate_spell(spell)
    cast = spell.cast
    if mode == "cast" and spell.vectorized:
        names = [f.name for f in output_schema.fields]

        def cast_batch(pdf: pd.DataFrame) -> pd.DataFrame | None:
            # columnar fast path: the spell maps a whole Arrow batch;
            # None == drop the entire batch
            out_pdf = cast(pdf)
            if out_pdf is not None and list(out_pdf.columns) != names:
                out_pdf = out_pdf[names]
            return out_pdf

        return _run_spell(
            df, spell, output_schema, topic_col, cast_batch, batched=True
        )
    spell = _row_spell(spell, f"apply_spell(mode={mode!r})")
    if mode == "cast":
        return _run_spell(df, spell, output_schema, topic_col, cast)

    def loop(event: dict) -> dict:
        event, n = _feedback(cast, event, max_casts)
        event = dict(event)
        event["n_casts"] = n
        return event

    return _run_spell(df, spell, output_schema, topic_col, loop)


def apply_expression_spell(
    df: DataFrame,
    spell: ExpressionSpell,
    topic_col: str | None = None,
) -> DataFrame:
    """Execute an :class:`ExpressionSpell` as pure Catalyst: topic route →
    ``where`` filter → ``project`` select.  The entire cast stays inside
    WholeStageCodegen (no Python workers, no Arrow boundary), so it scans
    at JVM speed and scales exactly like any built-in projection at
    100 TB — the production tier for every spell whose body is
    expressible as SQL expressions.  ``where`` failing drops the row
    (the expression analog of ``cast`` returning None)."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    def as_col(v: object) -> Column:
        return v if isinstance(v, Column) else F.expr(str(v))

    if topic_col is not None:
        df = df.filter(topic_filter(spell, topic_col))
    if spell.where is not None:
        df = df.filter(as_col(spell.where))
    return df.select(
        *[as_col(v).alias(k) for k, v in spell.project.items()]
    )


def loop_spell(
    df: DataFrame,
    spell: Spell | object,
    output_schema: StructType,
    topic_col: str | None = None,
    max_casts: int = RUNAWAY_LOOP_BOUND,
) -> DataFrame:
    return apply_spell(
        df, spell, output_schema, topic_col=topic_col, mode="loop", max_casts=max_casts
    )


def _rewrite_state_refs(expr: str, fields: list[str], ref: str) -> str:
    """Rewrite bare state-field references in a SQL expression to struct
    accesses on ``ref`` (longest names first so one field name being a
    prefix of another can't corrupt the longer one).

    A match immediately followed by ``(`` is a FUNCTION CALL, not a
    field reference (a bare state ref is never invoked), so a state
    field that happens to share a SQL function's name — ``round`` in
    ``round(round * 0.5, 2)`` — rewrites only the argument occurrence.

    LIMITATION (documented, like the _let anti-inlining note): the
    rewrite is token-textual — a state-field name occurring inside a
    string literal in the expression would be rewritten too.  Loop
    spell expressions are arithmetic recurrences; keep literals free of
    state-field names.
    """
    import re

    out = expr
    for n in sorted(fields, key=len, reverse=True):
        out = re.sub(
            rf"(?<![\w.`]){re.escape(n)}(?![\w`])(?!\s*\()", f"{ref}.`{n}`", out
        )
    return out


def loop_expression_spell(
    df: DataFrame,
    spell: ExpressionSpell,
    topic_col: str | None = None,
    max_casts: int = RUNAWAY_LOOP_BOUND,
    emit: str = "final",
) -> DataFrame:
    """Feedback loop (reference O7, runaway bound 1000 —
    src/main.zig:127-166) for the zero-Python expression tier.

    The whole loop compiles to ONE Catalyst fold per row — no Python
    workers, no Arrow boundary, no driver iteration, no extra shuffle:

        aggregate(sequence(1, N), <state0>,
                  (acc, i) -> if(<where>(last), append(<project>(last)), acc))

    which is the per-row analog of the reference's bounded
    cast-until-nil loop: ``where`` failing is the expression analog of
    ``cast`` returning nil.  Each event's feedback chain is independent
    (same argument as apply_spell mode='loop'), so at 100 TB this stays
    a single scan-shaped pass that whole-stage-codegens.

    - ``emit='final'``: loop_spell output parity — carried columns +
      final state fields + ``n_casts`` (counts the terminating nil cast,
      capped at ``max_casts``).  Constant per-row memory: the fold
      carries only (state, n, done).
    - ``emit='all'``: the golden emission sequence — one row per
      successful cast with a 1-based ``cast_idx`` (reference suites
      decrement-counter* print exactly these states).  The fold
      accumulates the state array, O(emitted²) element copies worst
      case at the 1000 bound — use 'final' when the sequence itself
      isn't needed.

    ``spell.project`` values and ``spell.where`` must be SQL strings
    (Columns can't be rewritten against the loop state); every project
    key must exist as an input column (the seed state).  Expressions may
    also reference non-state input columns — those stay constant across
    iterations, reading from the row.
    """
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    names = list(spell.project.keys())
    bad = [k for k, v in spell.project.items() if isinstance(v, Column)] + (
        ["where"] if isinstance(spell.where, Column) else []
    )
    if bad:
        raise TypeError(
            f"loop_expression_spell({spell.name!r}): project/where must be "
            f"SQL strings in loop mode (Column objects can't be rewritten "
            f"against the loop state): {bad}"
        )
    missing = [n for n in names if n not in df.columns]
    if missing:
        raise ValueError(
            f"loop_expression_spell({spell.name!r}): seed columns missing "
            f"for state fields {missing}"
        )
    if emit not in ("final", "all"):
        raise ValueError(f"emit must be 'final' or 'all', got {emit!r}")

    if topic_col is not None:
        df = df.filter(topic_filter(spell, topic_col))

    init = ", ".join(f"'{n}', `{n}`" for n in names)
    carried = [c for c in df.columns if c not in names]

    if emit == "all":
        last = "element_at(acc, -1)"
        where_sql = _rewrite_state_refs(str(spell.where or "true"), names, last)
        step = ", ".join(
            f"'{n}', ({_rewrite_state_refs(str(v), names, last)})"
            for n, v in spell.project.items()
        )
        states = (
            f"slice(aggregate(sequence(1, {int(max_casts)}), "
            f"array(named_struct({init})), "
            f"(acc, i) -> if(({where_sql}), "
            f"array_append(acc, named_struct({step})), acc)), "
            f"2, {int(max_casts)})"
        )
        ex = df.select(*carried, F.posexplode(F.expr(states)).alias("_i", "_s"))
        return ex.select(
            *carried,
            (F.col("_i") + 1).alias("cast_idx"),
            *[F.col(f"_s.`{n}`").alias(n) for n in names],
        )

    # emit='final': constant-memory fold carrying (state, n_casts, done)
    last = "acc.s"
    where_sql = _rewrite_state_refs(str(spell.where or "true"), names, last)
    step = ", ".join(
        f"'{n}', ({_rewrite_state_refs(str(v), names, last)})"
        for n, v in spell.project.items()
    )
    fold = (
        f"aggregate(sequence(1, {int(max_casts)}), "
        f"named_struct('s', named_struct({init}), 'n', 0, 'done', false), "
        f"(acc, i) -> if(acc.done, acc, "
        f"if(({where_sql}), "
        f"named_struct('s', named_struct({step}), 'n', acc.n + 1, 'done', false), "
        f"named_struct('s', acc.s, 'n', acc.n + 1, 'done', true))))"
    )
    out = df.withColumn("_loop", F.expr(fold))
    return out.select(
        *carried,
        *[F.col(f"_loop.s.`{n}`").alias(n) for n in names],
        F.col("_loop.n").cast("long").alias("n_casts"),
    )


def apply_spell_with_emits(
    df: DataFrame,
    spell: Spell | object,
    output_schema: StructType,
    topic_col: str | None = None,
    mode: str = "cast",
    max_casts: int = RUNAWAY_LOOP_BOUND,
) -> DataFrame:
    """Distributed cast with the console-sink channel captured (reference
    O8: spells print via the stdlib, src/main.zig:130-134; the golden
    tests compare that channel).  Each event's printed lines are captured
    into an ``_emits`` array column instead of vanishing into worker
    stdout.  Opt-in: the per-event stdout redirect costs more than the
    plain path.  Row-form spells only."""
    import pyspark.sql.types as T

    _check_mode(mode)
    spell = _row_spell(spell, "apply_spell_with_emits")
    cast = spell.cast
    loop_mode = mode == "loop"

    def step(event: dict) -> dict | None:
        buf = _io.StringIO()
        with contextlib.redirect_stdout(buf):
            if loop_mode:
                event, n = _feedback(cast, event, max_casts)
                out = dict(event)
                out["n_casts"] = n
            else:
                out = cast(event)
        if out is None:
            return None
        out = dict(out)
        text = buf.getvalue()
        out["_emits"] = text.split("\n")[:-1] if text else []
        return out

    return _run_spell(
        df, spell, output_schema, topic_col, step,
        (T.StructField("_emits", T.ArrayType(T.StringType())),),
    )


def apply_spell_safely(
    df: DataFrame,
    spell: Spell | object,
    output_schema: StructType,
    topic_col: str | None = None,
    id_col: str = "event_id",
) -> DataFrame:
    """Protected cast with an error channel (the distributed form of the
    reference's protected calls + error taxonomy, src/main.zig:302-306,
    316-365): a spell exception doesn't kill the job — the failing event
    is routed to a dead-letter channel.

    Output = ``output_schema`` columns plus ``_error`` (null for good
    rows; ``ExceptionName: message`` for failures, with the event id in
    ``_error_id``).  Use ``split_errors`` to separate channels.  Row-form
    spells only.
    """
    import pyspark.sql.types as T

    spell = _row_spell(spell, "apply_spell_safely")
    cast = spell.cast

    def step(event: dict) -> dict | None:
        try:
            out = cast(dict(event))
        except Exception as exc:  # protected call: event → dead letter
            return {
                "_error": f"{type(exc).__name__}: {exc}",
                "_error_id": event.get(id_col),
            }
        if out is None:
            return None
        out = dict(out)
        out["_error"] = None
        out["_error_id"] = None
        return out

    return _run_spell(
        df, spell, output_schema, topic_col, step,
        (T.StructField("_error", T.StringType()),
         T.StructField("_error_id", T.LongType())),
    )


def split_errors(df: DataFrame):
    """(good_rows_without_error_cols, dead_letter_rows)."""
    from pyspark.sql import functions as F

    good = df.filter(F.col("_error").isNull()).drop("_error", "_error_id")
    bad = df.filter(F.col("_error").isNotNull()).select("_error_id", "_error")
    return good, bad
