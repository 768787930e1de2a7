"""Regenerate QUERIES.md from the query registry docstrings so the
inventory can never drift from the code. Run: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADER = """# Query inventory

Every registered query in `sanctum_spark/queries/` (the surface the
driver verifies). **Oracle** = DuckDB-checked (row count + schema +
order-insensitive value hash at sf0.01); rows-only entries are
engine-specific pipelines whose determinism/recall is asserted in
`tests/` instead. SURVEY.md §2.3 is the coverage checklist this
inventory fills.  One section per family module: a query's family
follows from the tables it reads (`sanctum_spark/queries/__init__.py`).
"""

FOOTER = """
Streaming operators (watermarked tumbling/sliding/session windows,
streaming dedup, stream-static and stream-stream interval joins —
inner AND left-outer with watermark-expiry null emission, streaming
hypertable partial rollups (append-mode continuous aggregates),
stateful spells, state range queries, topic demux, durable-log
append) return streaming DataFrames and are therefore verified in
`tests/test_streaming*.py` / `tests/test_sinks.py` against batch
equivalents rather than through the oracle registry.
"""


def main() -> None:
    from sanctum_spark import queries as qreg

    qreg.load_all_modules()
    families: dict[str, list] = {}
    for q in qreg.REGISTRY.values():
        families.setdefault(q.fn.__module__, []).append(q)
    lines = [HEADER]
    n_oracle = 0
    for module, qs in families.items():
        n_fam = sum(q.oracle is not None for q in qs)
        n_oracle += n_fam
        summary = " ".join(sys.modules[module].__doc__.split("\n\n")[0].split())
        lines.append(
            f"\n## `{module.rsplit('.', 1)[1]}`: {len(qs)} queries, "
            f"{n_fam} oracle-paired\n\n{summary}\n\n"
            "| Query | Oracle | What it covers |\n|---|---|---|\n"
        )
        for q in sorted(qs, key=lambda q: int(q.name[1:].split("_")[0])):
            mark = "✓" if q.oracle is not None else "rows-only"
            doc = " ".join(q.doc.split()) or "(no doc)"
            lines.append(f"| `{q.name}` | {mark} | {doc} |\n")
    lines.append(f"\n{len(qreg.REGISTRY)} queries, {n_oracle} oracle-paired.\n")
    lines.append(FOOTER)
    with open(os.path.join(REPO, "QUERIES.md"), "w") as fh:
        fh.writelines(lines)
    print(f"QUERIES.md: {len(qreg.REGISTRY)} queries, {n_oracle} oracle-paired")

    # keep README's hand-written inventory line from drifting
    import re

    readme = os.path.join(REPO, "README.md")
    with open(readme) as fh:
        text = fh.read()
    text2 = re.sub(
        r"\d+ registered queries \(\d+ DuckDB-oracle-paired\)",
        f"{len(qreg.REGISTRY)} registered queries "
        f"({n_oracle} DuckDB-oracle-paired)",
        text,
    )
    if text2 != text:
        with open(readme, "w") as fh:
            fh.write(text2)
        print("README.md: inventory line refreshed")


if __name__ == "__main__":
    main()
