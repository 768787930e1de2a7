"""The "spell" event runtime, re-expressed Spark-first.

A spell is a user-defined per-event transform: a Python callable (or a
mapping with ``cast``/``prepare``/``unprepare``/``topic`` members) invoked
once per event, returning a new event or ``None`` (1 → 0..1 fan-out).
Reference semantics: docunomicon/README.md:50-53, src/main.zig:139-166.

Three execution tiers:
- ``simulate``  — single-seed driver-side event loop replicating the
  reference CLI byte-for-byte (golden-test parity), including the
  MessagePack round-trip boundary between casts.
- ``apply_spell`` — distributed path: the same spell applied to every row
  of a DataFrame via Arrow-batched ``mapInPandas`` (the loop runs per-row
  inside the task, so a 100 TB events table is one pass, not 1000 jobs).
  A row-form spell gets one event dict per call; a ``vectorized`` spell
  gets each whole pandas batch (cast mode only).  ``loop_spell``,
  ``apply_spell_with_emits`` (captured stdout) and ``apply_spell_safely``
  (dead-letter channel) share its one runner: topic filter, lifecycle
  hooks once per task, rows → pandas.
- ``apply_expression_spell`` — zero-Python tier for spells expressible as
  SQL expressions (:class:`ExpressionSpell`): the cast compiles to a
  Catalyst filter+project inside WholeStageCodegen, removing the Arrow
  boundary entirely — the production form of a hot spell at 100 TB.
"""

from sanctum_spark.spells.errors import (
    SpellError,
    SpellNotATableError,
    SpellMissingCastError,
    SpellCastNotCallableError,
    SpellTopicTypeError,
    RUNAWAY_LOOP_BOUND,
)
from sanctum_spark.spells.registry import (
    ExpressionSpell,
    Spell,
    validate_spell,
    matches_topic,
    topic_filter,
)
from sanctum_spark.spells.runtime import (
    simulate,
    apply_spell,
    apply_expression_spell,
    loop_expression_spell,
    loop_spell,
)

__all__ = [
    "Spell",
    "ExpressionSpell",
    "apply_expression_spell",
    "loop_expression_spell",
    "SpellError",
    "SpellNotATableError",
    "SpellMissingCastError",
    "SpellCastNotCallableError",
    "SpellTopicTypeError",
    "RUNAWAY_LOOP_BOUND",
    "validate_spell",
    "matches_topic",
    "topic_filter",
    "simulate",
    "apply_spell",
    "loop_spell",
]
