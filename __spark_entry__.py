"""Driver contract for the spark-graft builder (PySpark target).

``entry``    — flagship query on sf0.001 (grouped cofactor, flattened).
``queries``  — every implemented operator from SURVEY §2, one callable
               (spark, sf_dir) -> DataFrame each.
``oracle_sql`` — matching ANSI SQL for the DuckDB oracle harness
               (tables pre-registered as views), one per query.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: grouped ring-cofactor over lineitem, flattened to entry
    rows (stable flat schema), at sf0.001."""
    from duckdb_imputation_spark.queries import QUERIES

    return QUERIES["triple_lineitem_grouped"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, oldest driver evidence first: stable-sorted
    by the newest ``CORRECTNESS_r<N>.json`` round in which the row was
    hash-green without error (never-verified rows count as round 0), so a
    driver that samples a prefix re-verifies the stalest rows."""
    import glob
    import json
    import os
    import re

    from duckdb_imputation_spark.queries import QUERIES

    newest: dict[str, int] = {}
    root = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, v in json.load(f).items():
                if v.get("hash_match") and v.get("err") is None:
                    newest[name] = max(newest.get(name, 0), rnd)
    return {n: QUERIES[n] for n in sorted(QUERIES, key=lambda n: newest.get(n, 0))}


def oracle_sql() -> dict[str, str]:
    """Static oracles plus data-dependent ML oracles (trained-coefficient
    SQL twins) resolved at the driver's sf0.01 gate by default; override
    the training scale with $SPARK_GRAFT_ORACLE_SF_DIR when replaying the
    harness at a different SF."""
    from duckdb_imputation_spark.queries import resolve_oracles

    return resolve_oracles()
