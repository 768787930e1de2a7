"""Run the whole query registry over robustness fixtures and invariance
axes.  Usage: python tools/sweep.py NAME...

Each NAME is one of:

- a tools/fixtures.py catalogue entry (empty, duplicate, embeddings,
  relational_nulls, extreme, unicode, hotkey, degenerate, fuzz, fuzz2):
  every query against its DuckDB oracle, by ``verify_local.sweep``;
- layout: the source tables with session defaults vs the ``layout``
  fixture (rows permuted, small row groups) read with tiny scan splits
  and shuffle.partitions=7;
- exec: the same tables with AQE off, whole-stage codegen off, planner
  broadcasts forced to sort-merge and shuffle.partitions=5 (explicit
  ``F.broadcast()`` hints still apply: hints are semantics-free);
- batchsize: the same tables with arrow.maxRecordsPerBatch=7, so every
  Python boundary sees many tiny batches;
- parallelism: two subprocess legs, local[8] vs local[3] (a master
  cannot change inside one JVM), compared by ``verify_local.digest``.

layout, exec and batchsize compare Spark with Spark by the oracle gate's
rule (``verify_local.registry_frames`` + ``diverged``).  The source
tables are $SANCTUM_TEST_SF_DIR (default: the sf0.001 tables tier-1
reads); fixtures and parallelism legs live in one temporary directory
removed at exit.  Exits 1 on a fixture problem outside its documented
divergences (``Fixture.diverges``), on a documented divergence that
stopped diverging, and on any invariance-axis divergence.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from sanctum_spark.session import get_spark  # noqa: E402
from tools.fixtures import FIXTURES, materialize  # noqa: E402
from tools.verify_local import (  # noqa: E402
    confs, digest, diverged, registry_frames, sweep,
)

SRC = os.environ.get("SANCTUM_TEST_SF_DIR", "/root/testdata/sf0.001")

LAYOUT_CONFS = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.files.maxPartitionBytes": "32768",
    "spark.sql.files.openCostInBytes": "0",
}
EXEC_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.shuffle.partitions": "5",
}
# axis: (fixture the perturbed side reads, None for the source tables;
# the confs it runs under)
AXES = {
    "layout": ("layout", LAYOUT_CONFS),
    "exec": (None, EXEC_CONFS),
    "batchsize": (None, {"spark.sql.execution.arrow.maxRecordsPerBatch": "7"}),
}


def content(spark, name: str, tmp: str) -> bool:
    fx = FIXTURES[name]
    bad = set(sweep(spark, materialize(name, SRC, os.path.join(tmp, name))))
    unexpected, stopped = sorted(bad - fx.diverges), sorted(fx.diverges - bad)
    if fx.diverges:
        print(f"{name}: documented divergences {sorted(fx.diverges)} "
              f"({fx.why})")
    if unexpected:
        print(f"{name}: UNEXPECTED problems {unexpected}")
    if stopped:
        print(f"{name}: documented divergences that STOPPED diverging "
              f"{stopped}: drop them from tools/fixtures.py")
    return not (unexpected or stopped)


def invariance(spark, name: str, base: dict, tmp: str) -> bool:
    fixture, mapping = AXES[name]
    sf = (materialize(fixture, SRC, os.path.join(tmp, fixture))
          if fixture else SRC)
    with confs(spark, mapping):
        bad = diverged(base, registry_frames(spark, sf))
    print(json.dumps(bad, indent=1))
    print(f"summary: {len(base)} queries; {len(base) - len(bad)} "
          f"{name}-invariant; {len(bad)} problems; confs {mapping}")
    return not bad


def record(frame) -> dict:
    """A leg's entry for one ``registry_frames`` value: {rows, cols, sha}
    of a canon frame, or {crash} with Spark's error text."""
    if isinstance(frame, str):
        return {"crash": frame}
    return {"rows": len(frame), "cols": list(frame.columns),
            "sha": digest(frame)}


def leg(out: str, names: list[str] | None, sf: str) -> None:
    """One parallelism leg: the ``record`` of each of ``names`` (None:
    the whole registry) over ``sf`` at this process's SPARK_GRAFT_CPUS,
    as JSON in ``out``."""
    spark = get_spark("sweep_leg")
    spark.sparkContext.setLogLevel("ERROR")
    with open(out, "w") as fh:
        json.dump({name: record(c) for name, c
                   in registry_frames(spark, sf, names).items()}, fh)
    spark.stop()


def run_leg(cpus: str, out: str, names: list[str] | None = None,
            sf: str = SRC, timeout: float | None = None) -> dict:
    """``leg`` in a subprocess at local[cpus] (a master cannot change
    inside one JVM); returns its records."""
    subprocess.run(
        [sys.executable, "-c",
         "import json, sys; from tools.sweep import leg; "
         "leg(sys.argv[1], json.loads(sys.argv[2]), sys.argv[3])",
         out, json.dumps(names), sf],
        env=dict(os.environ, SPARK_GRAFT_CPUS=cpus, PYTHONPATH=REPO),
        cwd=REPO, check=True, timeout=timeout,
    )
    with open(out) as fh:
        return json.load(fh)


def parallelism(tmp: str) -> bool:
    legs = {f"local[{cpus}]": run_leg(
                cpus, os.path.join(tmp, f"parallelism_{cpus}.json"))
            for cpus in ("8", "3")}
    a, b = legs.values()
    names = sorted(set(a) | set(b))
    problems = {n: {k: leg.get(n) for k, leg in legs.items()}
                for n in names if a.get(n) != b.get(n)}
    print(json.dumps(problems, indent=1))
    print(f"summary: {len(names)} queries; {len(problems)} divergent "
          f"({' vs '.join(legs)})")
    return not problems


def main(names: list[str]) -> int:
    unknown = [n for n in names
               if n not in FIXTURES and n not in AXES and n != "parallelism"]
    if not names or unknown:
        print(__doc__, file=sys.stderr)
        return 2
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    # fixture tables are tiny, and the session's default heap (half of
    # physical memory) lets two sweep JVMs side by side fill the host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    ok, spark, base = True, None, None
    with tempfile.TemporaryDirectory(prefix="sweep_") as tmp:
        for name in names:
            print(f"=== {name} (src {SRC})", flush=True)
            if name == "parallelism":
                ok &= parallelism(tmp)
                continue
            if spark is None:
                spark = get_spark("sweep")
            if name in AXES:
                if base is None:
                    base = registry_frames(spark, SRC)
                ok &= invariance(spark, name, base, tmp)
            else:
                ok &= content(spark, name, tmp)
        if spark is not None:
            spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
