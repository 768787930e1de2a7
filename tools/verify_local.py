"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on a BARE
SparkSession (no sanctum_spark.session confs — the driver uses its own
session) and compares against the DuckDB oracle the driver's way: row
count, schema arity, and an order-insensitive value compare after
sorting columns by name (``canon`` + ``str_equal``).

Usage: python tools/verify_local.py [sf_dir] [query ...]
Writes tools/verify_local_out.json, prints one line per query and exits
1 when any query fails.  A run over named queries merges its entries
into tools/verify_local_out[_<sf>]_partial.json instead (see
write_results).

This module is the one oracle compare: tier-1's oracle-parity,
crafted-fixture, fixture-matrix and invariance tests and
tools/sweep.py all compare through its functions.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import sys
import traceback
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

from sanctum_spark.io import TABLES  # noqa: E402


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def str_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Oracle-gate compare of two ``canon`` frames: stringify both and
    demand equality, column names included.  A dtype-lenient compare let
    600.0 == 600 pass while the gate's stringified value hash sees
    "600.0" != "600" (the DuckDB SUM(BIGINT)->HUGEINT->float64 class)."""
    gs, ws = got.astype(str), want.astype(str)
    return gs.shape == ws.shape and gs.equals(ws)


def digest(frame: pd.DataFrame) -> str:
    """sha256 of a ``canon`` frame's stringified CSV: ``str_equal``
    carried across processes."""
    return hashlib.sha256(
        frame.astype(str).to_csv(index=False).encode()).hexdigest()


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str:
    """Why two ``canon`` frames fail ``str_equal``: row counts, column
    names, dtypes and the first stringified rows held by one side only."""
    gs, ws = got.astype(str), want.astype(str)
    why = f"str-compare mismatch; rows {len(gs)} vs {len(ws)}"
    if list(gs.columns) != list(ws.columns):
        return f"{why}; columns {list(gs.columns)} vs {list(ws.columns)}"
    dt = [f"{c}: {got[c].dtype} vs {want[c].dtype}"
          for c in got.columns if got[c].dtype != want[c].dtype]
    g, w = (Counter(f.itertuples(index=False, name=None)) for f in (gs, ws))
    return (f"{why}; dtype diffs: {dt or 'none'}; only got: "
            f"{sorted((g - w).elements())[:3]}; only want: "
            f"{sorted((w - g).elements())[:3]}")


def oracle_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``TABLES`` file present in
    ``sf_dir``, so oracle SQL names tables the way Spark's loaders do and
    a crafted dir needs only the files its queries read.  Keep it bound
    to a name until ``.df()`` has run: duckdb 1.0 closes an unreferenced
    connection under a relation still being read."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def check_query(spark, sf_dir: str, fn, oracle: str | None,
                con: duckdb.DuckDBPyConnection):
    """Run ``fn(spark, sf_dir)`` and, unless ``oracle`` is None, the
    oracle SQL on ``con``; compare by ``str_equal``.  Returns the
    verify_local_out.json record (``err`` None iff the query passes) and
    the Spark ``canon`` frame, None when Spark raised: that tells a Spark
    crash from an oracle error."""
    rec: dict = {"rows_match": None, "schema_match": None,
                 "hash_match": None, "err": None}
    got = None
    try:
        got = canon(fn(spark, sf_dir).toPandas())
        rec["spark_rows"] = len(got)
        if oracle is None:
            rec["rows_match"] = True
            rec["note"] = "rows-only (no oracle)"
        else:
            want = canon(con.sql(oracle).df())
            rec["oracle_rows"] = len(want)
            rec["rows_match"] = len(got) == len(want)
            rec["schema_match"] = list(got.columns) == list(want.columns)
            rec["hash_match"] = str_equal(got, want)
            if not rec["hash_match"]:
                rec["err"] = mismatch(got, want)[:500]
    except Exception:
        rec["err"] = traceback.format_exc()[-800:]
    return rec, got


def check_each(spark, sf_dir: str, queries: dict, oracles: dict):
    """Yield ``(name, rec, got)`` from ``check_query`` for each of
    ``queries`` ({name: fn}) in name order, with ``oracles.get(name)``,
    clearing per-query persist() leftovers after each."""
    con = oracle_con(sf_dir)
    for name in sorted(queries):
        rec, got = check_query(spark, sf_dir, queries[name],
                               oracles.get(name), con)
        spark.catalog.clearCache()
        yield name, rec, got


def sweep(spark, sf_dir: str) -> dict[str, dict]:
    """Every registered query against its oracle over a crafted
    ``sf_dir``.  Prints the problems as JSON and a summary line, and
    returns the problems, {name: {"status", "err"}}.  A status is
    ``match``, ``ok`` (rows-only: no oracle), ``MISMATCH(<spark
    rows>vs<oracle rows>)``, ``SPARK_CRASH`` or ``ORACLE_ERR``."""
    import sanctum_spark.queries as qreg

    n, bad = Counter(), {}
    for name, rec, got in check_each(spark, sf_dir, qreg.queries(),
                                     qreg.oracle_sql()):
        if got is None:
            status = "SPARK_CRASH"
        elif rec["hash_match"] is False:
            status = f"MISMATCH({rec['spark_rows']}vs{rec['oracle_rows']})"
        elif rec["err"]:
            status = "ORACLE_ERR"
        else:
            status = "match" if rec["hash_match"] else "ok"
        n[status] += 1
        if rec["err"]:
            bad[name] = {"status": status, "err": rec["err"]}
    print(json.dumps(bad, indent=1))
    print(f"summary: {n.total()} queries; {n['match']} match; "
          f"{n['ok']} rows-only ok; {len(bad)} problems")
    print("sf:", sf_dir)
    return bad


@contextlib.contextmanager
def confs(spark, mapping: dict[str, str]):
    """The session confs in ``mapping`` for the block, then each key back
    to its earlier value, or unset if it was unset."""
    old = {k: spark.conf.get(k, None) for k in mapping}
    for k, v in mapping.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def registry_frames(spark, sf_dir: str, names: list[str] | None = None
                    ) -> dict[str, pd.DataFrame | str]:
    """One side of a Spark-vs-Spark invariance sweep: each registered
    query's (or each of ``names``') ``canon`` frame over ``sf_dir``, or
    its error text when Spark raised."""
    import sanctum_spark.queries as qreg

    qs = qreg.queries()
    if names is not None:
        qs = {n: qs[n] for n in names}
    return {
        name: rec["err"] if got is None else got
        for name, rec, got in check_each(spark, sf_dir, qs, {})
    }


def diverged(a: dict, b: dict) -> dict[str, dict]:
    """The names on which two ``registry_frames`` runs differ: a crash
    on either side, or frames that fail ``str_equal``."""
    bad = {}
    for name in a:
        x, y = a[name], b[name]
        if isinstance(x, str) or isinstance(y, str):
            bad[name] = {"a": x if isinstance(x, str) else "ok",
                         "b": y if isinstance(y, str) else "ok"}
        elif not str_equal(x, y):
            bad[name] = {"diff": mismatch(x, y)[:500]}
    return bad


def write_results(out: str, results: dict, meta: dict, partial: bool) -> None:
    """Write ``results`` and ``__meta__`` to ``out``.  A subset run merges
    into the file already there: re-run names are replaced, every other
    entry is kept and ``__meta__`` is refreshed.  A full run rewrites it."""
    merged: dict = {}
    if partial and os.path.exists(out):
        with open(out) as fh:
            merged = json.load(fh)
    merged.update(results)
    merged["__meta__"] = meta
    with open(out, "w") as fh:
        json.dump(merged, fh, indent=1, sort_keys=True)


def main() -> int:
    # Usage: verify_local.py [sf_dir] [query ...]  — a first arg that is
    # not a directory is treated as a query name, not an sf_dir.
    argv = sys.argv[1:]
    if argv and os.path.isdir(argv[0]):
        sf_dir, only = argv[0], set(argv[1:])
    else:
        sf_dir, only = "/root/testdata/sf0.01", set(argv)

    # bare session: deliberately NOT sanctum_spark.session.get_spark
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("verify_local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = {n: fn for n, fn in entry_mod.queries().items()
          if not only or n in only}
    results: dict[str, dict] = {}
    for name, rec, _ in check_each(spark, sf_dir, qs, entry_mod.oracle_sql()):
        results[name] = rec
        print(f"{'FAIL' if rec['err'] else 'PASS'} {name} "
              f"rows={rec.get('spark_rows')}"
              + (f" err={rec['err'][:200]}" if rec["err"] else ""))

    # subset runs must not clobber the canonical full-registry evidence;
    # non-default sf dirs get their own file for the same reason (a full
    # sf0.1 run once overwrote the canonical sf0.01 evidence), and the
    # two suffixes compose so a non-default partial run can't clobber a
    # default partial run either
    base = os.path.basename(sf_dir.rstrip("/"))
    suffix = "" if base == "sf0.01" else f"_{base}"
    if only:
        suffix += "_partial"
    out = os.path.join(REPO, "tools", f"verify_local_out{suffix}.json")
    write_results(
        out, results,
        {"duckdb_version": duckdb.__version__, "sf_dir": sf_dir},
        partial=bool(only),
    )
    n_fail = sum(1 for r in results.values() if r["err"])
    print(f"# {len(results)} queries, {n_fail} failing "
          f"(duckdb {duckdb.__version__}) -> {out}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
