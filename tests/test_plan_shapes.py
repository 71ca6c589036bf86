"""Plan-shape ratchet: no catalog query may gain shuffles or red-flag
operators relative to the committed snapshot.

The lint (test_plan_lint) catches categorical red flags; this catches
the quieter regression — an edit that adds an Exchange (a full network
round of the data below it at scale) without anyone noticing.  Fewer
exchanges than the snapshot is allowed (improvements ratchet down);
regenerate after an intentional improvement or a new catalog row with
``python docs/gen_plan_shapes.py``.  The shape is the one
test_oracle_parity's catalog pass records after running the row.
"""

import json
import os

import pytest

from duckdb_imputation_spark.queries import QUERIES
from test_oracle_parity import plan_checks

SNAP_PATH = os.path.join(os.path.dirname(__file__), "plan_shapes_sf0001.json")

with open(SNAP_PATH) as _f:
    SNAPSHOT = json.load(_f)


def test_snapshot_covers_catalog():
    """Every registered query needs a snapshot entry (add new queries'
    shapes when registering them)."""
    missing = sorted(set(QUERIES) - set(SNAPSHOT))
    assert not missing, f"run the shape generator for: {missing}"


@pytest.mark.parametrize("name", sorted(SNAPSHOT))
def test_plan_shape_does_not_regress(spark, name):
    if name not in QUERIES:
        pytest.skip("query was removed; prune the snapshot entry")
    got = plan_checks(spark, name)["shape"]
    want = SNAPSHOT[name]
    for metric, limit in want.items():
        assert got[metric] <= limit, (
            f"{name}: {metric} grew {limit} -> {got[metric]} — a new "
            f"shuffle/red-flag operator entered this plan"
        )
