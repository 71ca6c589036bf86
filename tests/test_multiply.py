"""Factorized ⊗ over joins vs reference golden literals (test_mul.py) and
vs the driver-side algebra."""

from collections import Counter

import pytest
from pyspark.sql import functions as F

from duckdb_imputation_spark.functions.triple import Triple
from duckdb_imputation_spark.operators.cofactor import sum_to_triple
from duckdb_imputation_spark.operators.multiply import (
    multiply_triples,
    triple_over_join,
)

from test_triple_algebra import GOLDEN_MUL_GB1, ROWS, agg


def triple_dict(row):
    return Triple.from_row(row).to_dict()


def per_key_products(df, num1, cat1, num2, cat2, nb=False):
    """One ⊗ product triple per ``gb``: a grouped cofactor on each side,
    joined on ``gb``, then :func:`multiply_triples`."""
    a = sum_to_triple(df, num1, cat1, group_by=["gb"], nb=nb, result_col="A")
    b = sum_to_triple(df, num2, cat2, group_by=["gb"], nb=nb, result_col="B")
    return a.join(b, "gb").select(
        "gb",
        multiply_triples(
            F.col("A"), F.col("B"),
            (len(num1), len(cat1)), (len(num2), len(cat2)), nb=nb,
        ).alias("triple"),
    )


def test_multiply_equijoin_matches_golden(ring_fixture):
    """multiply_triple(A,B) joined ON gb (reference test_mul.py second
    test_sum_no_lift_groupby, res[0] == gb=1)."""
    out = per_key_products(
        ring_fixture, ["b", "c"], ["d", "e"], ["a", "c"], ["d", "f"]
    ).collect()
    got = {r["gb"]: triple_dict(r["triple"]) for r in out}
    assert got[1] == GOLDEN_MUL_GB1
    exp_gb2 = (
        agg([r for r in ROWS if r[0] == 2], [2, 3], [4, 5])
        * agg([r for r in ROWS if r[0] == 2], [1, 3], [4, 6])
    ).to_dict()
    assert got[2] == exp_gb2


def test_multiply_cross_join_full_tables(ring_fixture):
    """Cross-join variant (test_mul.py test_sum_no_lift_everything):
    A over gb=1, B over gb=2, joined ON TRUE."""
    a = sum_to_triple(ring_fixture.filter("gb = 1"), ["b", "c"], ["d", "e"], result_col="A")
    b = sum_to_triple(ring_fixture.filter("gb = 2"), ["a", "c"], ["d", "f"], result_col="B")
    out = a.crossJoin(b).select(
        multiply_triples(F.col("A"), F.col("B"), (2, 2), (2, 2)).alias("t")
    ).collect()
    got = triple_dict(out[0]["t"])
    exp = (
        agg([r for r in ROWS if r[0] == 1], [2, 3], [4, 5])
        * agg([r for r in ROWS if r[0] == 2], [1, 3], [4, 6])
    ).to_dict()
    assert got == exp
    assert got["N"] == 6


def test_triple_over_join_sums_products(ring_fixture):
    """Full factorized pattern: ⊕ over per-key ⊗ products."""
    out = triple_over_join(
        ring_fixture,
        ring_fixture,
        on="gb",
        num1=["b", "c"],
        cat1=["d", "e"],
        num2=["a", "c"],
        cat2=["d", "f"],
    ).collect()
    assert len(out) == 1
    got = triple_dict(out[0]["triple"])
    exp_t = (
        agg([r for r in ROWS if r[0] == 1], [2, 3], [4, 5])
        * agg([r for r in ROWS if r[0] == 1], [1, 3], [4, 6])
    ) + (
        agg([r for r in ROWS if r[0] == 2], [2, 3], [4, 5])
        * agg([r for r in ROWS if r[0] == 2], [1, 3], [4, 6])
    )
    assert got == exp_t.to_dict()


def test_multiply_nb_variant(ring_fixture):
    out = per_key_products(ring_fixture, ["b"], ["d"], ["a"], ["f"], nb=True).collect()
    got = {r["gb"]: triple_dict(r["triple"]) for r in out}
    for g in (1, 2):
        rows_g = [r for r in ROWS if r[0] == g]
        exp = (agg(rows_g, [2], [4], nb=True) * agg(rows_g, [1], [6], nb=True)).to_dict()
        assert got[g] == exp


def test_triple_over_join_grouped_equals_materialized(spark):
    """Factorized cofactor grouped by a df1 column == plain cofactor over
    the materialized join with the same grouping."""
    from duckdb_imputation_spark.operators.flatten import flatten_triple

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", F.month("o_orderdate").cast("double").alias("o_month"))
    )
    fact = triple_over_join(
        li, o, on="l_orderkey",
        num1=["l_quantity"], cat1=["l_linenumber"],
        num2=["o_month"], cat2=[],
        group_by=["l_returnflag"],
    )
    got = {r["l_returnflag"]: Triple.from_row(r["triple"]) for r in fact.collect()}

    joined = li.join(o, "l_orderkey")
    exp_rows = sum_to_triple(
        joined, ["l_quantity", "o_month"], ["l_linenumber"], group_by=["l_returnflag"]
    ).collect()
    exp = {r["l_returnflag"]: Triple.from_row(r["triple"]) for r in exp_rows}
    assert set(got) == set(exp)
    for k in got:
        assert got[k].to_dict() == exp[k].to_dict()


def test_triple_over_join_null_keys_follow_sql_semantics(spark):
    """NULL join keys never match by default (SQL inner join, like the
    reference's JOIN ... ON =); null_safe_keys=True opts into <=>."""
    left = spark.createDataFrame(
        [(1, 2.0), (None, 3.0), (None, 5.0)], "k int, x double"
    )
    right = spark.createDataFrame(
        [(1, 10.0), (None, 20.0)], "k int, y double"
    )
    sql_t = triple_over_join(left, right, on="k", num1=["x"], num2=["y"])
    # only k=1 matches: N = 1*1 = 1
    assert sql_t.collect()[0]["triple"]["N"] == 1

    ns_t = triple_over_join(
        left, right, on="k", num1=["x"], num2=["y"], null_safe_keys=True
    )
    # k=1 (1x1) plus the NULL group (2 left rows x 1 right row) = 3
    assert ns_t.collect()[0]["triple"]["N"] == 3


def test_triple_over_join_flat_entries_equals_flattened(ring_fixture):
    """flat_entries=True returns exactly the rows that flattening the
    assembled nested triple returns (r14 — the factorized rows skip the
    reassemble+re-flatten round trip on this guarantee)."""
    from duckdb_imputation_spark.operators.flatten import flatten_triple

    kwargs = dict(
        on="gb",
        num1=["b", "c"], cat1=["d", "e"],
        num2=["a", "c"], cat2=["d", "f"],
    )
    nested = triple_over_join(ring_fixture, ring_fixture, **kwargs)
    exp = sorted(
        tuple(r) for r in flatten_triple(nested, 4, 4).collect()
    )
    got = sorted(
        tuple(r)
        for r in triple_over_join(
            ring_fixture, ring_fixture, flat_entries=True, **kwargs
        ).collect()
    )
    assert got == exp
    # the sum_triples-level flat mode must agree too (the generic form
    # over nested per-key products, not the fused ⊗ generator
    # triple_over_join uses)
    from duckdb_imputation_spark.operators.cofactor import sum_triples

    prod = per_key_products(
        ring_fixture, ["b", "c"], ["d", "e"], ["a", "c"], ["d", "f"]
    )
    got2 = sorted(
        tuple(r)
        for r in sum_triples(prod, "triple", 4, 4, flat_entries=True).collect()
    )
    assert got2 == exp


def test_unique_right_debug_guard_trips_on_duplicate_keys(spark, monkeypatch):
    """SPARK_GRAFT_DEBUG_UNIQUE makes a violated unique_right caller
    assertion fail loudly: a duplicated right key makes the join
    multiply rows, the cost unique_right promises to avoid."""
    left = spark.createDataFrame([(1, 2.0), (2, 3.0)], "k int, x double")
    dup_right = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "k int, y double"
    )
    uniq_right = spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, y double"
    )
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_UNIQUE", "1")
    with pytest.raises(ValueError, match="not.*unique|unique.*not"):
        triple_over_join(
            left, dup_right, on="k", num1=["x"], num2=["y"], unique_right=True
        )
    # unique key passes the guard and matches the aggregate path
    ok = triple_over_join(
        left, uniq_right, on="k", num1=["x"], num2=["y"], unique_right=True
    ).collect()[0]["triple"]
    agg_t = triple_over_join(
        left, uniq_right, on="k", num1=["x"], num2=["y"]
    ).collect()[0]["triple"]
    assert triple_dict(ok) == triple_dict(agg_t)


def test_unique_right_debug_guard_follows_the_join_matching_rule(spark, monkeypatch):
    """The debug guard counts key uniqueness as the join matches keys:
    under <=> a NULL key is one value, so one NULL beside a non-NULL key
    is unique and two NULLs are not; under = NULL-keyed rows match
    nothing, so two of them cannot repeat a key."""
    left = spark.createDataFrame([(1, 2.0), (None, 3.0)], "k int, x double")
    one_null = spark.createDataFrame([(1, 10.0), (None, 20.0)], "k int, y double")
    two_nulls = spark.createDataFrame(
        [(1, 10.0), (None, 20.0), (None, 30.0)], "k int, y double"
    )
    kwargs = dict(on="k", num1=["x"], num2=["y"], unique_right=True)
    monkeypatch.setenv("SPARK_GRAFT_DEBUG_UNIQUE", "1")
    triple_over_join(left, one_null, null_safe_keys=True, **kwargs)
    with pytest.raises(ValueError, match="not unique"):
        triple_over_join(left, two_nulls, null_safe_keys=True, **kwargs)
    triple_over_join(left, two_nulls, **kwargs)


def test_triple_over_join_skewed_key(spark):
    """One join key carrying 10⁵ rows on each side of the factorized
    path: the per-key aggregation is bounded by map-side combining, so
    it fits a small heap, and the result is the driver-side ⊗ of the two
    sides' triples (the 10¹⁰-row join is never built).  Integer values
    keep every sum exact."""
    n = 100_000
    left = spark.range(n).select(
        F.lit(7).alias("k"),
        (F.col("id") % 7).cast("double").alias("x"),
        (F.col("id") % 5).cast("int").alias("a"),
    )
    right = spark.range(n).select(
        F.lit(7).alias("k"),
        (F.col("id") % 3).cast("double").alias("y"),
        (F.col("id") % 4).cast("int").alias("b"),
    )
    got = triple_over_join(
        left, right, on="k", num1=["x"], cat1=["a"], num2=["y"], cat2=["b"]
    ).collect()
    exp = Triple.from_row(
        sum_to_triple(left, ["x"], ["a"]).collect()[0]["triple"]
    ) * Triple.from_row(sum_to_triple(right, ["y"], ["b"]).collect()[0]["triple"])
    assert len(got) == 1
    assert triple_dict(got[0]["triple"]) == exp.to_dict()
    assert exp.n == n * n


def test_triple_over_join_flat_entries_nb_and_grouped(ring_fixture):
    """The fused flat-entry generator (multiply_flatten_entries) equals
    flatten(assembled ⊕) on the nb diagonal shape and under group_by."""
    from duckdb_imputation_spark.operators.flatten import flatten_triple

    nb_kwargs = dict(on="gb", num1=["b"], cat1=["d"], num2=["a"], cat2=["f"], nb=True)
    exp = sorted(
        tuple(r)
        for r in flatten_triple(
            triple_over_join(ring_fixture, ring_fixture, **nb_kwargs),
            2, 2, nb=True,
        ).collect()
    )
    got = sorted(
        tuple(r)
        for r in triple_over_join(
            ring_fixture, ring_fixture, flat_entries=True, **nb_kwargs
        ).collect()
    )
    assert got == exp

    g_kwargs = dict(
        on="gb", num1=["b", "c"], cat1=["d"], num2=["a"], cat2=["f"],
        group_by=["e"],
    )
    exp_g = sorted(
        tuple(r)
        for r in flatten_triple(
            triple_over_join(ring_fixture, ring_fixture, **g_kwargs),
            3, 2, group_by=["e"],
        ).collect()
    )
    got_g = sorted(
        tuple(r)
        for r in triple_over_join(
            ring_fixture, ring_fixture, flat_entries=True, **g_kwargs
        ).collect()
    )
    assert got_g == exp_g


def _null_edge_frames(spark):
    """Left ``(k, x, a, g)`` and right ``(k, y, b)`` frames with NULL
    features and keys.  Right key 1 has a NULL and a non-NULL ``y``
    (a group of 2), key 2 a NULL ``b``, key 5 a group of 65 rows, and
    both sides carry NULL join keys; left keys 8 and 9 match nothing.
    Left keys 1, 3 and 5 also carry groups of 10, 64 and 300 rows, so
    per-key groups of many sizes meet on both sides.  Values are
    integers, so every float sum is exact in any order."""
    left = spark.createDataFrame(
        [
            (1, 2.0, 1, 0), (2, 5.0, 1, 0), (3, None, 2, 1), (5, 1.0, None, 1),
            (5, 3.0, 2, 0), (None, 4.0, 1, 0), (None, 6.0, 2, 1), (8, 7.0, 1, 1),
            (9, 1.0, 3, 0),
        ]
        + [
            (k, None if r % 8 == 5 else float(r % 6), None if r % 9 == 2 else r % 4, r % 2)
            for k, size in ((1, 10), (3, 64), (5, 300))
            for r in range(size)
        ],
        "k int, x double, a int, g int",
    )
    right = spark.createDataFrame(
        [(1, None, 7), (1, 3.0, 7), (2, 4.0, None), (3, 2.0, 8), (None, 4.0, 8)]
        + [
            (5, None if r % 7 == 0 else float(r % 5), None if r % 11 == 3 else r % 3)
            for r in range(65)
        ],
        "k int, y double, b int",
    )
    return left, right


@pytest.mark.parametrize("null_safe_keys", [False, True])
@pytest.mark.parametrize("nb", [False, True])
def test_triple_over_join_both_paths_equal_materialized(spark, null_safe_keys, nb):
    """Both triple_over_join paths equal the cofactor of the materialized
    join, NULL features, NULL categories, NULL join keys and unmatched
    keys included: a NULL feature is skipped, as SQL SUM skips it."""
    from duckdb_imputation_spark.operators.flatten import triple_entries

    left, right = _null_edge_frames(spark)
    rk = right.withColumnRenamed("k", "rk")
    on = left["k"].eqNullSafe(rk["rk"]) if null_safe_keys else left["k"] == rk["rk"]
    joined = left.join(rk, on)
    kwargs = dict(
        on="k", num1=["x"], cat1=["a"], num2=["y"], cat2=["b"], nb=nb,
        group_by=["g"], null_safe_keys=null_safe_keys,
    )
    feats = (["x", "y"], ["a", "b"])

    exp_flat = Counter(tuple(r) for r in triple_entries(joined, *feats, ["g"], nb).collect())
    exp_nested = {
        r["g"]: r["triple"]
        for r in sum_to_triple(joined, *feats, group_by=["g"], nb=nb).collect()
    }
    assert exp_flat and exp_nested
    # a NULL category key sorts first in each nested map
    keyed = [
        [e["key"] for e in m]
        for t in exp_nested.values()
        for part in ("lin_cat", "quad_num_cat")
        if part in t.asDict()
        for m in t[part]
    ]
    assert any(ks and ks[0] is None for ks in keyed)
    assert all(None not in ks[1:] for ks in keyed)
    for unique_right in (True, False):
        flat = triple_over_join(left, right, unique_right=unique_right, flat_entries=True, **kwargs)
        assert Counter(tuple(r) for r in flat.collect()) == exp_flat, unique_right
        nested = triple_over_join(left, right, unique_right=unique_right, **kwargs)
        assert {r["g"]: r["triple"] for r in nested.collect()} == exp_nested, unique_right
