#!/usr/bin/env python
"""One-command catalog paperwork sync (VERDICT r7 #2).

Registering a catalog row in ``queries.py`` carries two pieces of
paperwork the CI pins: the catalog count quoted in SCALING.md/SURVEY.md
(tests/test_docs_counts.py) and a plan-shape snapshot entry
(tests/test_plan_shapes.py::test_snapshot_covers_catalog).  This script
makes both current in one invocation:

    python docs/sync_counts.py            # prose counts + missing shapes
    python docs/sync_counts.py --check    # exit 1 if anything is stale
                                          # (fast: no Spark unless needed)

Round-close discipline: run ``python docs/sync_counts.py`` after the
LAST row-registering commit, then commit the result.  ``--check`` is
cheap enough to run before every round close.
"""
import json
import os
import re
import subprocess
import sys

REPO = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, REPO)

from duckdb_imputation_spark.queries import QUERIES  # noqa: E402

PROSE = [
    ("SCALING.md", r"(Every registered catalog query \()(\d+)( as of)"),
    ("SURVEY.md", r"(correctness catalog \()(\d+)( registered)"),
    # VERDICT r12 wrong #3: PARITY.md's inventory count drifted (said
    # 198 at catalog 200) because the sync only covered two files.
    ("PARITY.md", r"(docs/CATALOG\.md \()(\d+)( oracle-verified rows\))"),
]
SNAP = os.path.join(REPO, "tests", "plan_shapes_sf0001.json")


def main() -> None:
    check = "--check" in sys.argv
    stale = []

    target = len(QUERIES)
    for fname, pat in PROSE:
        path = os.path.join(REPO, fname)
        with open(path) as f:
            text = f.read()
        m = re.search(pat, text)
        if not m:
            raise SystemExit(f"{fname} lost its count sentence ({pat})")
        if int(m.group(2)) != target:
            stale.append(
                f"{fname}: says {m.group(2)}, registry has {target}"
            )
            if not check:
                text = re.sub(pat, rf"\g<1>{target}\g<3>", text, count=1)
                with open(path, "w") as f:
                    f.write(text)
                print(f"updated {fname}: {m.group(2)} -> {target}")

    with open(SNAP) as f:
        snap = json.load(f)
    missing = sorted(set(QUERIES) - set(snap))
    extra = sorted(set(snap) - set(QUERIES))
    if missing or extra:
        stale.append(f"plan shapes: missing={missing} extra={extra}")
        if not check:
            subprocess.check_call(
                [sys.executable,
                 os.path.join(REPO, "docs", "gen_plan_shapes.py"),
                 "--missing"]
            )

    if check and stale:
        print("STALE paperwork:\n  " + "\n  ".join(stale))
        raise SystemExit(1)
    print("paperwork in sync" if not stale else "paperwork synced")


if __name__ == "__main__":
    main()
