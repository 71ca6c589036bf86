"""lint_plan: the SCALING.md checklist as code.

Each red flag is triggered with a deliberately bad plan, then every
catalog row and the library operators without catalog rows are
asserted clean — so a future edit that reintroduces a global window or
a cartesian product fails CI, not the 100 TB run.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_imputation_spark.plans import lint_plan
from duckdb_imputation_spark.queries import QUERIES
from test_oracle_parity import plan_checks

SF = "/root/testdata/sf0.001"


def codes(df, severity=None):
    return {
        f.code
        for f in lint_plan(df)
        if severity is None or f.severity == severity
    }


def test_flags_single_partition_window(spark):
    df = spark.range(100).withColumn(
        "rn", F.row_number().over(Window.orderBy("id"))
    )
    assert "single-partition-exchange" in codes(df, "error")


def test_flags_cartesian_product(spark):
    a, b = spark.range(10), spark.range(10).withColumnRenamed("id", "id2")
    df = a.crossJoin(b)
    assert "non-equi-join" in codes(df, "error")


def test_flags_row_python_udf(spark):
    plus_one = F.udf(lambda x: x + 1, T.LongType(), useArrow=False)
    df = spark.range(10).select(plus_one("id").alias("y"))
    assert "row-python-udf" in codes(df, "error")


def test_clean_aggregation_has_no_errors(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(F.sum("l_extendedprice").alias("s"))
    )
    assert codes(df, "error") == set()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_catalog_pipelines_lint_clean(spark, name):
    """EVERY registered catalog query must carry zero error-level
    findings — no global windows, no cartesian blow-ups, no row-Python
    UDFs.  The known scale-benign shapes — scalar/constant-key aggregate
    behind a SinglePartition exchange or a 1-row broadcast nested-loop
    join — are recognized by lint_plan itself (downgraded to info).

    Every row must also emit SCALAR columns only: a canonicalizer that
    sorts rows by every column dies on array/map/struct values.  Digest
    arrays as md5(concat_ws(' ', arr)) + a length column instead."""
    checks = plan_checks(spark, name)
    assert not checks["lint"], f"{name}: {checks['lint']}"
    assert not checks["complex columns"], (
        f"{name} emits non-scalar columns {checks['complex columns']}; "
        "project a digest instead"
    )


def test_warns_constant_partition_exchange(spark):
    """pmod(x, 1) partitioning is SinglePartition in disguise — must
    surface as a warn (legit only on bounded-by-construction frames)."""
    df = spark.range(100).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy(F.pmod(F.col("id"), F.lit(1))).orderBy("id")
        ),
    )
    assert "constant-partition-exchange" in codes(df, "warn")
    # and it is NOT an error: bounded uses (top-k ranks, shard offsets)
    # stay CI-green
    assert "constant-partition-exchange" not in codes(df, "error")


def test_real_key_exchange_not_warned(spark):
    df = (
        spark.range(100)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    assert "constant-partition-exchange" not in codes(df)


def test_new_library_ops_lint_clean(spark):
    """Operators added without catalog rows (window full) still must
    hold the scale bar: zero error-level lint findings on
    representative instantiations over the testdata."""
    from pyspark.sql import functions as F

    from duckdb_imputation_spark.ml.stats import grouped_covariance
    from duckdb_imputation_spark.operators.graph import (
        connected_components_alternating,
        hits,
        navigation_edges,
    )
    from duckdb_imputation_spark.operators.selection import (
        domain_divergence,
        weighted_sample,
    )
    from duckdb_imputation_spark.operators.sketches import bottomk_sample
    from duckdb_imputation_spark.operators.timeseries import fill_forward

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    edges = navigation_edges(
        ev.select(
            "user_id", "ts", "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        ),
        "user_id", "k", ["ts", "event_id"],
    )
    frames = {
        "domain_divergence": domain_divergence(docs, "source"),
        "weighted_sample": weighted_sample(
            docs.withColumn("w", F.col("n_chars").cast("double") + 1.0),
            "w", k=10,
        ),
        "bottomk_sample": bottomk_sample(docs, "doc_id", k=10),
        "fill_forward": fill_forward(
            ev.select("user_id", "event_id",
                      F.when(F.col("event_type") == "error", None)
                      .otherwise(F.col("value")).alias("v")),
            ["user_id"], "event_id", ["v"],
        ),
        "hits": hits(edges, iters=2),
        "grouped_covariance": grouped_covariance(
            li, ["l_quantity", "l_discount"], ["l_returnflag"]
        ),
        "connected_components_alternating": (
            connected_components_alternating(edges, max_iters=4)
        ),
    }
    for name, df in frames.items():
        df.collect()
        errs = [f for f in lint_plan(df) if f.severity == "error"]
        assert not errs, f"{name}: {errs}"


def test_round7_late_library_ops_lint_clean(spark):
    """Round-7-late operators without catalog rows must also hold the
    scale bar: zero error-level lint findings on representative
    instantiations over the testdata."""
    from pyspark.sql import functions as F

    from duckdb_imputation_spark.operators.prefix import global_ranks
    from duckdb_imputation_spark.operators.profile import (
        grouped_winsorize,
    )
    from duckdb_imputation_spark.operators.timeseries import (
        cusum,
        ewma_halflife,
        retention_from_periods,
    )

    ev = spark.read.parquet(f"{SF}/events.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")

    periods = ev.select(
        F.col("user_id").alias("e"),
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp"))
            / F.lit(86_400_000_000)
        ).cast("long").alias("p"),
    ).distinct()
    frames = {
        "global_ranks": global_ranks(
            li.select(F.col("l_quantity").cast("long").alias("q")), "q", 4
        ),
        "grouped_winsorize": grouped_winsorize(
            li.select("l_returnflag", "l_extendedprice"),
            "l_extendedprice", ["l_returnflag"],
        ),
        "ewma_halflife": ewma_halflife(
            ev.select(
                "user_id", "value",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            ),
            ["user_id"], "t", "value", halflife=3.6e9,
        ),
        "cusum": cusum(
            ev.select("user_id", "event_id", "value"),
            ["user_id"], "event_id", "value",
            target=0.0, slack=0.5, threshold=3.0,
        ),
        "retention_from_periods": retention_from_periods(periods, "e", "p"),
    }
    for name, df in frames.items():
        df.collect()
        errs = [f for f in lint_plan(df) if f.severity == "error"]
        assert not errs, f"{name}: {errs}"


def test_static_plan_section_extracts_initial_plan():
    """The ratchet must measure the DETERMINISTIC initial-plan section:
    AQE's final section flips Exchange<->BroadcastExchange depending on
    whether the best-effort conversion beat stage materialization (the
    line_dedup_documents 10-vs-11 flake under full-suite load)."""
    from duckdb_imputation_spark.plans import static_plan_section

    txt = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   +- Exchange hashpartitioning(a, 32)\n"
        "+- == Initial Plan ==\n"
        "   +- Exchange hashpartitioning(a, 32)\n"
        "   +- Exchange hashpartitioning(b, 32)\n"
    )
    sec = static_plan_section(txt)
    assert "Final Plan" not in sec
    assert sec.count("Exchange hashpartitioning") == 2
    # non-AQE plans pass through whole
    assert static_plan_section("Scan parquet") == "Scan parquet"


def test_plan_shape_counts_static_section_only(spark):
    """A broadcast-converted join must produce the SAME shape whether
    or not the runtime conversion landed: the shape counts the initial
    plan's declared exchanges."""
    from duckdb_imputation_spark.plans import (
        executed_plan,
        plan_shape,
        static_plan_section,
    )

    a = spark.range(100000).selectExpr("id", "id % 97 AS k")
    b = spark.range(97).selectExpr("id AS k", "id * 2 AS v")
    j = a.join(b, "k").groupBy("k").count()
    j.collect()
    shape = plan_shape(j)
    full = executed_plan(j)
    if "== Initial Plan ==" in full:
        # the static section never shrinks below the final section's
        # exchange count: conversions only REMOVE declared shuffles
        final = full[: full.find("== Initial Plan ==")]
        import re

        n_final = final.count("Exchange hashpartitioning")
        assert shape["exchanges"] >= n_final
