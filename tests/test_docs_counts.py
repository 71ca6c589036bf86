"""Pin the catalog counts quoted in prose docs to the registry
(VERDICT r6 #6: SCALING.md and PLANS drifted when late-round rows
landed after the prose was written).  Any doc that quotes the catalog
size must quote ``len(QUERIES)``; this test fails the build the
moment a new row registers without the prose being refreshed."""

import os
import re

REPO = os.path.join(os.path.dirname(__file__), "..")


def _catalog_size() -> int:
    from duckdb_imputation_spark.queries import QUERIES

    return len(QUERIES)


def test_scaling_md_quotes_current_catalog_count():
    with open(os.path.join(REPO, "SCALING.md")) as f:
        text = f.read()
    m = re.search(r"Every registered catalog query \((\d+) as of", text)
    assert m, "SCALING.md lost its catalog-count sentence"
    assert int(m.group(1)) == _catalog_size(), (
        f"SCALING.md says {m.group(1)} catalog queries, registry has "
        f"{_catalog_size()} — update the prose (and this is exactly the "
        "drift this test exists to catch)"
    )


def test_survey_md_quotes_current_catalog_count():
    with open(os.path.join(REPO, "SURVEY.md")) as f:
        text = f.read()
    m = re.search(r"correctness catalog \((\d+) registered", text)
    assert m, "SURVEY.md lost its catalog-count sentence"
    assert int(m.group(1)) == _catalog_size()


def test_parity_md_quotes_current_catalog_count():
    """VERDICT r12 wrong #3: PARITY.md's inventory count drifted (198
    at catalog 200) because only SCALING/SURVEY were pinned."""
    with open(os.path.join(REPO, "PARITY.md")) as f:
        text = f.read()
    m = re.search(r"docs/CATALOG\.md \((\d+) oracle-verified rows\)", text)
    assert m, "PARITY.md lost its inventory-count sentence"
    assert int(m.group(1)) == _catalog_size()

