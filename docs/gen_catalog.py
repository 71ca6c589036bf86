#!/usr/bin/env python
"""Regenerate docs/CATALOG.md from the registered query catalog."""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from duckdb_imputation_spark.queries import ORACLES, QUERIES  # noqa: E402


def main() -> None:
    lines = [
        "# Query catalog",
        "",
        "Auto-generated index of every registered catalog query (one line per",
        "row, first sentence of its docstring).  Oracle column: `sql` = static",
        "DuckDB twin, `factory` = data-dependent twin (trained constants).",
        "Registration order; regenerate with `python docs/gen_catalog.py`.",
        "",
        "| # | query | oracle | summary |",
        "|---|---|---|---|",
    ]
    for i, (name, fn) in enumerate(QUERIES.items(), 1):
        doc = " ".join((fn.__doc__ or "").split())
        cut = doc.find(". ")
        summary = (doc[: cut + 1] if cut != -1 else doc)[:180]
        kind = "sql" if name in ORACLES else "factory"
        lines.append(f"| {i} | `{name}` | {kind} | {summary} |")
    out = os.path.join(os.path.dirname(__file__), "CATALOG.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
