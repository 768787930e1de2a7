"""Per-spell telemetry (reference roadmap README.md:129-130: per-instance
execution counts/time, IO counters) via Spark accumulators.

Accumulators aggregate across all tasks/executors; ``report()`` gives the
driver-side totals after an action completes.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import SparkSession

from sanctum_spark.spells.registry import Spell
from sanctum_spark.spells.runtime import _row_spell


@dataclass
class SpellMetrics:
    casts: object  # Accumulator
    drops: object
    errors: object
    nanos: object

    def report(self) -> dict:
        casts = self.casts.value
        nanos = self.nanos.value
        return {
            "casts": casts,
            "drops": self.drops.value,
            "errors": self.errors.value,
            "total_sec": round(nanos / 1e9, 6),
            "ns_per_cast": round(nanos / casts, 1) if casts else None,
        }


def instrumented_spell(spark: SparkSession, spell: Spell | object) -> tuple[Spell, SpellMetrics]:
    """Wrap a spell's cast with accumulator-backed counters and timing.

    The wrapped spell is a drop-in for apply_spell/loop_spell; metrics
    accumulate across every partition that runs it.  The counters are per
    event, so only row-form spells are accepted: a vectorized spell raises
    ``ValueError``.
    """
    spell = _row_spell(spell, "instrumented_spell")
    sc = spark.sparkContext
    metrics = SpellMetrics(
        casts=sc.accumulator(0),
        drops=sc.accumulator(0),
        errors=sc.accumulator(0),
        nanos=sc.accumulator(0),
    )
    inner = spell.cast

    def timed_cast(event):
        t0 = time.perf_counter_ns()
        try:
            out = inner(event)
        except Exception:
            metrics.errors.add(1)
            raise
        finally:
            metrics.nanos.add(time.perf_counter_ns() - t0)
            metrics.casts.add(1)
        if out is None:
            metrics.drops.add(1)
        return out

    wrapped = Spell(
        name=spell.name,
        cast=timed_cast,
        topic=spell.topic,
        prepare=spell.prepare,
        unprepare=spell.unprepare,
        source=spell.source,
        config=spell.config,
    )
    return wrapped, metrics
