"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 on a BARE
SparkSession (no sanctum_spark.session confs — the driver uses its own
session, see memory: driver-contract-gotchas) and compares against the
DuckDB oracle the driver's way: row count, schema arity, and an
order-insensitive value compare after sorting columns by name.

Usage: python tools/verify_local.py [sf_dir] [query ...]
Writes tools/verify_local_out.json and prints one line per query.  A
run over named queries merges its entries into
tools/verify_local_out[_<sf>]_partial.json instead (see write_results).
"""

from __future__ import annotations

import json
import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    if len(df) == 0:
        return df.reset_index(drop=True)
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def str_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Oracle-gate compare of two ``canon`` frames: stringify both and
    demand equality.  A dtype-lenient compare let 600.0 == 600 pass
    while the gate's stringified value hash sees "600.0" != "600" (the
    DuckDB SUM(BIGINT)->HUGEINT->float64 class)."""
    gs, ws = got.astype(str), want.astype(str)
    return gs.shape == ws.shape and gs.equals(ws)


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


def main() -> None:
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

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    results: dict[str, dict] = {}
    for name in sorted(qs):
        if only and name not in only:
            continue
        rec: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "err": None}
        try:
            got = canon(qs[name](spark, sf_dir).toPandas())
            rec["spark_rows"] = len(got)
            if name in oracles:
                want = canon(con.sql(oracles[name]).df())
                rec["oracle_rows"] = len(want)
                rec["rows_match"] = len(got) == len(want)
                rec["schema_match"] = list(got.columns) == list(want.columns)
                rec["hash_match"] = str_equal(got, want)
                if not rec["hash_match"]:
                    gs, ws = got.astype(str), want.astype(str)
                    dt = [
                        f"{c}: spark={got[c].dtype} oracle={want[c].dtype}"
                        for c in got.columns
                        if c in want.columns and got[c].dtype != want[c].dtype
                    ]
                    bad = [
                        c for c in gs.columns
                        if c in ws.columns and not gs[c].equals(ws[c])
                    ]
                    rec["err"] = (
                        f"str-compare mismatch; dtype diffs: {dt or 'none'}; "
                        f"value-diff cols: {bad}"
                    )[:500]
            else:
                rec["rows_match"] = rec["spark_rows"] >= 0
                rec["note"] = "rows-only (no oracle)"
        except Exception:
            rec["err"] = traceback.format_exc()[-800:]
        ok = rec["err"] is None and rec["rows_match"] and (
            rec["hash_match"] is not False) and (rec["schema_match"] is not False)
        results[name] = rec
        spark.catalog.clearCache()  # drop per-query persist() leftovers
        print(f"{'PASS' if ok else 'FAIL'} {name} "
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
    n_fail = sum(
        1 for r in results.values()
        if r["err"] or r["rows_match"] is False
        or r["hash_match"] is False or r["schema_match"] is False
    )
    print(f"# {len(results)} queries, {n_fail} failing "
          f"(duckdb {duckdb.__version__}) -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
