"""Query catalog: every operator from SURVEY §2 as a (Spark DataFrame
query, ANSI-SQL DuckDB oracle) pair over the driver testdata tables.

Design rules for cross-engine hash-exactness:
  * every aggregated quantity is integer-valued (prices → cents via
    ROUND(x*100)); sums of integers are exact in both engines regardless
    of accumulation order;
  * every computed column is aliased identically on both sides;
  * only deterministic total orders feed LIMIT;
  * transcendental results (ML coefficients, sqrt/ln/cos) are rounded to
    6 decimals on both sides.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.triple import Triple
from .ml.linreg import linreg_train
from .operators.cofactor import sum_to_triple
from .operators.flatten import flatten_triple, triple_entries, triple_entries_sql
from .operators.multiply import triple_over_join
from .sources import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Oracles whose SQL depends on the data (trained-coefficient ML twins):
# name -> fn(sf_dir) -> SQL.  Resolved lazily per scale factor by
# resolve_oracles(); the driver's oracle_sql() resolves at the gate SF.
ORACLE_FACTORIES: dict[str, Callable[[str], str]] = {}
_FACTORY_CACHE: dict[tuple[str, str], str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


def resolve_oracles(sf_dir: str | None = None) -> dict[str, str]:
    """Static oracles plus data-dependent ones generated for ``sf_dir``
    (default: $SPARK_GRAFT_ORACLE_SF_DIR or the driver's sf0.01 gate)."""
    import os

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    out = dict(ORACLES)
    for name, fn in ORACLE_FACTORIES.items():
        key = (name, sf_dir)
        if key not in _FACTORY_CACHE:
            _FACTORY_CACHE[key] = " ".join(fn(sf_dir).split())
        out[name] = _FACTORY_CACHE[key]
    return out


def _li(spark, sf):
    return load_table(spark, sf, "lineitem")


def _cents(col):  # price columns carry 2 decimals
    return F.round(F.col(col) * 100).cast("long")


# --------------------------------------------------------------------- #
# 1. Ring / cofactor aggregates (SURVEY §2.1 #1-8)                       #
# --------------------------------------------------------------------- #

_LI_NUM_SQL = [
    "l_quantity",
    "ROUND(l_discount*100)",
    "ROUND(l_tax*100)",
]
_LI_CAT_SQL = ["l_linenumber", "CAST(year(l_shipdate) AS INT)"]


def _li_prepped(spark, sf):
    return (
        _li(spark, sf)
        .withColumn("disc_c", F.round(F.col("l_discount") * 100).cast("double"))
        .withColumn("tax_c", F.round(F.col("l_tax") * 100).cast("double"))
        .withColumn("l_year", F.year("l_shipdate"))
    )


@register(
    "triple_lineitem_full",
    oracle=triple_entries_sql("lineitem", _LI_NUM_SQL, _LI_CAT_SQL),
)
def triple_lineitem_full(spark, sf):
    """Full-table fused lift+sum (sum_to_triple_3_2), flattened."""
    return triple_entries(
        _li_prepped(spark, sf),
        ["l_quantity", "disc_c", "tax_c"],
        ["l_linenumber", "l_year"],
    )


@register(
    "triple_lineitem_grouped",
    oracle=triple_entries_sql(
        "lineitem", _LI_NUM_SQL, _LI_CAT_SQL, group_by=["l_returnflag"]
    ),
)
def triple_lineitem_grouped(spark, sf):
    """GROUP BY cofactor (partial+final hash agg in one shuffle)."""
    return triple_entries(
        _li_prepped(spark, sf),
        ["l_quantity", "disc_c", "tax_c"],
        ["l_linenumber", "l_year"],
        group_by=["l_returnflag"],
    )


@register(
    "nb_triple_orders",
    oracle=triple_entries_sql(
        "orders",
        ["CAST(month(o_orderdate) AS DOUBLE)", "CAST(day(o_orderdate) AS DOUBLE)"],
        ["ascii(o_orderstatus)", "ascii(o_orderpriority)"],
        nb=True,
    ),
)
def nb_triple_orders(spark, sf):
    """Naive-Bayes aggregate (diagonal quad, no cross maps)."""
    o = (
        load_table(spark, sf, "orders")
        .withColumn("o_month", F.month("o_orderdate").cast("double"))
        .withColumn("o_day", F.dayofmonth("o_orderdate").cast("double"))
        .withColumn("o_status", F.ascii("o_orderstatus"))
        .withColumn("o_prio", F.ascii("o_orderpriority"))
    )
    return triple_entries(o, ["o_month", "o_day"], ["o_status", "o_prio"], nb=True)


@register(
    "lift_sum_equivalence",
    oracle=triple_entries_sql("lineitem", _LI_NUM_SQL, _LI_CAT_SQL),
)
def lift_sum_equivalence(spark, sf):
    """sum_triples(lift_columns(...)) must equal the fused sum_to_triple —
    the reference's own equivalence test (test/python/test_sum.py:22-52,
    lift.cpp:15-243 composed with sum.cpp:57-261).  The oracle is the
    fused cofactor's SQL, so the hash row IS the equivalence assertion:
    the per-row lift path and the fused path agree bit-for-bit."""
    from .operators.cofactor import lift_columns, sum_triples

    li = _li_prepped(spark, sf).withColumn(
        "triple",
        lift_columns(["l_quantity", "disc_c", "tax_c"], ["l_linenumber", "l_year"]),
    )
    t = sum_triples(li, "triple", d_num=3, d_cat=2)
    return flatten_triple(t, 3, 2)


@register(
    "triple_factorized_join",
    oracle=triple_entries_sql(
        "(SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
        ["l_quantity", "CAST(month(o_orderdate) AS DOUBLE)"],
        ["l_linenumber", "ascii(o_orderstatus)"],
    ),
)
def triple_factorized_join(spark, sf):
    """sum_triple(multiply_triple(A,B)) over the orderkey join — must equal
    the cofactor over the materialized join (the factorization theorem);
    the oracle computes the latter."""
    li = _li(spark, sf)
    o = (
        load_table(spark, sf, "orders")
        .withColumn("o_month", F.month("o_orderdate").cast("double"))
        .withColumn("o_status", F.ascii("o_orderstatus"))
        .withColumnRenamed("o_orderkey", "l_orderkey")
    )
    return triple_over_join(
        li,
        o,
        on="l_orderkey",
        num1=["l_quantity"],
        cat1=["l_linenumber"],
        num2=["o_month"],
        cat2=["o_status"],
        # o_orderkey is the orders PK: the join has exactly |lineitem|
        # rows, so factorizing saves nothing — one join plus one cofactor
        # scan, no per-key triples and no ⊗ (4.98 s -> 1.50 s noop at
        # sf0.1, median of 7 runs on a 4-core box)
        unique_right=True,
        # this row outputs FLAT entries, so the nested assembly is skipped
        flat_entries=True,
    )


# --------------------------------------------------------------------- #
# 2. Host-engine surface (SURVEY §2.3)                                   #
# --------------------------------------------------------------------- #


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_c,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(100 - ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS sum_disc_price_c,
           CAST(COUNT(*) AS BIGINT) AS count_order,
           CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS avg_qty
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf):
    li = _li(spark, sf).filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("double").alias("sum_qty"),
        F.sum(_cents("l_extendedprice")).alias("sum_price_c"),
        F.sum(
            _cents("l_extendedprice")
            * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        ).alias("sum_disc_price_c"),
        F.count(F.lit(1)).alias("count_order"),
        (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias("avg_qty"),
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(100 - ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_c DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf):
    c = load_table(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _li(spark, sf).filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                _cents("l_extendedprice")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c")
        )
        .select(
            "l_orderkey",
            "revenue_c",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue_c"), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(100 - ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = _li(spark, sf)
    s = load_table(spark, sf, "supplier")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum(
                _cents("l_extendedprice")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c")
        )
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND ROUND(l_discount*100) BETWEEN 5 AND 7
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf):
    li = _li(spark, sf).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.round(F.col("l_discount") * 100).between(5, 7)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(
            _cents("l_extendedprice") * F.round(F.col("l_discount") * 100).cast("long")
        ).alias("revenue_c"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "orders_window_top3",
    oracle="""
    SELECT o_custkey, o_orderkey, rn FROM (
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
                  ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      FROM orders) t
    WHERE rn <= 3
    """,
)
def orders_window_top3(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "semi_join_urgent_customers",
    oracle="""
    SELECT c_custkey, c_nationkey FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def semi_join_urgent_customers(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_nationkey"
    )


@register(
    "anti_join_customers_no_orders",
    oracle="""
    SELECT c_custkey FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def anti_join_customers_no_orders(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "distinct_category_dictionary",
    oracle="SELECT DISTINCT l_linenumber FROM lineitem ORDER BY l_linenumber",
)
def distinct_category_dictionary(spark, sf):
    """The reference's category-dictionary query (partition.cpp:722-733)."""
    return _li(spark, sf).select("l_linenumber").distinct().orderBy("l_linenumber")


@register(
    "union_partition_counts",
    oracle="""
    SELECT 'low' AS bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE l_quantity < 25
    UNION ALL
    SELECT 'high' AS bucket, CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem WHERE l_quantity >= 25
    """,
)
def union_partition_counts(spark, sf):
    li = _li(spark, sf)
    low = li.filter("l_quantity < 25").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("low").alias("bucket"), "n"
    )
    high = li.filter("l_quantity >= 25").agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("high").alias("bucket"), "n"
    )
    return low.unionAll(high)


@register(
    "mean_mode_stats",
    oracle="""
    SELECT 'mean_qty' AS stat,
           CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*) AS value
    FROM lineitem
    UNION ALL
    SELECT 'mode_linenumber' AS stat, CAST(m AS DOUBLE) AS value FROM (
      SELECT l_linenumber AS m FROM lineitem
      GROUP BY l_linenumber ORDER BY COUNT(*) DESC, l_linenumber LIMIT 1) t
    """,
)
def mean_mode_stats(spark, sf):
    """AVG + MODE — the MICE pre-fill statistics (partition.cpp:43-57)."""
    li = _li(spark, sf)
    mean = li.agg(
        (F.sum("l_quantity").cast("double") / F.count(F.lit(1))).alias("value")
    ).select(F.lit("mean_qty").alias("stat"), "value")
    mode = (
        li.groupBy("l_linenumber")
        .count()
        .orderBy(F.desc("count"), "l_linenumber")
        .limit(1)
        .select(
            F.lit("mode_linenumber").alias("stat"),
            F.col("l_linenumber").cast("double").alias("value"),
        )
    )
    return mean.unionAll(mode)


@register(
    "case_when_null_buckets",
    oracle="""
    SELECT CASE WHEN l_quantity < 10 THEN 'small'
                WHEN l_quantity < 30 THEN 'mid'
                ELSE 'large' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returned
    FROM lineitem
    GROUP BY 1
    """,
)
def case_when_null_buckets(spark, sf):
    li = _li(spark, sf)
    bucket = (
        F.when(F.col("l_quantity") < 10, "small")
        .when(F.col("l_quantity") < 30, "mid")
        .otherwise("large")
    )
    return li.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returned"),
    )


@register(
    "casts_and_dates",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS year,
           CAST(CAST(l_quantity AS INT) AS BIGINT) AS qty_int,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def casts_and_dates(spark, sf):
    li = _li(spark, sf)
    return li.groupBy(
        F.year("l_shipdate").alias("year"),
        F.col("l_quantity").cast("int").cast("long").alias("qty_int"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "list_extract_position",
    oracle="""
    SELECT l_linenumber,
           list_extract(['a','b','c','d','e','f','g'],
             list_position([1,2,3,4,5,6,7], l_linenumber)) AS letter,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2
    """,
)
def list_extract_position(spark, sf):
    """The coefficient-lookup pattern of generated predict SQL
    (partition.cpp:749-801): list_extract + list_position."""
    li = _li(spark, sf)
    letters = F.array(*[F.lit(x) for x in "abcdefg"])
    idx = F.array(*[F.lit(i) for i in range(1, 8)])
    return li.groupBy(
        "l_linenumber",
        F.element_at(letters, F.array_position(idx, F.col("l_linenumber")).cast("int")).alias(
            "letter"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "math_scalar_functions",
    oracle="""
    SELECT l_linenumber,
           ROUND(sqrt(CAST(l_linenumber AS DOUBLE)), 6) AS sqrt_ln,
           ROUND(ln(CAST(l_linenumber AS DOUBLE)), 6) AS log_ln,
           ROUND(cos(2 * pi() * l_linenumber / 7), 6) + 0.0 AS cos_ln,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY 1, 2, 3, 4
    """,
)
def math_scalar_functions(spark, sf):
    """sqrt/ln/cos/pi — the Box–Muller ingredient functions
    (imputation_low.cpp:136), rounded to dodge libm last-ulp skew."""
    import math

    li = _li(spark, sf)
    x = F.col("l_linenumber").cast("double")
    return li.groupBy(
        "l_linenumber",
        F.round(F.sqrt(x), 6).alias("sqrt_ln"),
        F.round(F.log(x), 6).alias("log_ln"),
        (F.round(F.cos(F.lit(2 * math.pi) * x / 7), 6) + F.lit(0.0)).alias("cos_ln"),
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "events_microsecond_exact",
    oracle="""
    SELECT user_id,
           strftime(MIN(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS first_us,
           strftime(MAX(CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S.%f') AS last_us
    FROM events WHERE user_id < 50 GROUP BY user_id
    """,
)
def events_microsecond_exact(spark, sf):
    """Microsecond-exact timestamps: the events parquet stores
    TIMESTAMP(NANOS); our loader truncates ns→µs with INTEGER division,
    matching DuckDB's CAST bit-for-bit (ADVICE r1: double division was
    256 ns off for ~13% of rows — masked while every verified query
    truncated to seconds; this query pins the full µs precision)."""
    e = load_table(spark, sf, "events").filter("user_id < 50")
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return e.groupBy("user_id").agg(
        F.date_format(F.min("ts"), fmt).alias("first_us"),
        F.date_format(F.max("ts"), fmt).alias("last_us"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_extract_events(spark, sf):
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@register(
    "events_hourly_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM events GROUP BY 1, 2
    """,
)
def events_hourly_rollup(spark, sf):
    """Batch equivalent of the streaming hourly rollup (min/max/count are
    accumulation-order-independent, hence hash-exact)."""
    ev = load_table(spark, sf, "events")
    return ev.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00").alias("hour"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


# --------------------------------------------------------------------- #
# 3. ML path with a SQL-expressible oracle                               #
# --------------------------------------------------------------------- #


@register(
    "linreg_via_triple_vs_regr",
    oracle="""
    SELECT ROUND(regr_slope(l_quantity, CAST(day(l_shipdate) AS DOUBLE)), 4) + 0.0 AS slope,
           ROUND(regr_intercept(l_quantity, CAST(day(l_shipdate) AS DOUBLE)), 4) + 0.0 AS intercept
    FROM lineitem
    """,
)
def linreg_via_triple_vs_regr(spark, sf):
    """linreg_train on a 2-column triple vs DuckDB's regr_slope/intercept:
    the whole aggregate→collect→train path has an exact SQL oracle.
    Cells are ROUND(,4)+0.0 — the stat-class tier (regression
    coefficients are second-moment statistics; the sf0.01 slope sits
    3.6e-7 from its ROUND(,6) boundary, inside the 5e-7 stat budget —
    caught by oracle_margin the round this row rotated back into the
    driver window, same discipline as grouped_covariance r7)."""
    li = _li(spark, sf).withColumn("x", F.dayofmonth("l_shipdate").cast("double"))
    t = Triple.from_entries(triple_entries(li, ["l_quantity", "x"]).collect(), 2, 0)
    m = linreg_train(t, label=0, method="closed")
    return spark.createDataFrame(
        [(round(m.coef_num[0], 4) + 0.0, round(m.intercept, 4) + 0.0)], "slope double, intercept double"
    )


@register(
    "mice_single_col_sql_oracle",
    oracle="""
    WITH masked AS (
      SELECT l_orderkey, l_linenumber,
             CAST(day(l_shipdate) AS DOUBLE) AS x,
             CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_quantity END AS y
      FROM lineitem
    ), fit AS (
      SELECT regr_slope(y, x) AS b1, regr_intercept(y, x) AS b0
      FROM masked WHERE y IS NOT NULL
    )
    SELECT l_orderkey, l_linenumber,
           ROUND(COALESCE(y, b0 + b1 * x), 4) AS y_imputed
    FROM masked, fit
    """,
)
def mice_single_col_sql_oracle(spark, sf):
    """MICE baseline, 1 iter, 1 numeric column, no noise — small enough to
    have a full ANSI-SQL oracle (deterministic l_orderkey%5 mask)."""
    from .mice import mice_impute

    li = _li(spark, sf).select(
        "l_orderkey",
        "l_linenumber",
        F.dayofmonth("l_shipdate").cast("double").alias("x"),
        F.when(F.col("l_orderkey") % 5 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("y"),
    )
    res = mice_impute(
        li,
        cont_cols=["y", "x"],
        cat_cols=[],
        cont_nulls=["y"],
        cat_nulls=[],
        iters=1,
        strategy="baseline",
        noise=False,
    )
    return res.df.select(
        "l_orderkey", "l_linenumber", F.round("y", 4).alias("y_imputed")
    )


_MICE_MASKED_SQL = """
    WITH masked AS (
      SELECT l_orderkey, l_linenumber,
             CAST(day(l_shipdate) AS DOUBLE) AS x,
             CASE WHEN l_orderkey % 5 = 0 THEN NULL ELSE l_quantity END AS y
      FROM lineitem
    )"""


def _mice_single_col(spark, sf, strategy: str):
    from .mice import mice_impute

    li = _li(spark, sf).select(
        "l_orderkey",
        "l_linenumber",
        F.dayofmonth("l_shipdate").cast("double").alias("x"),
        F.when(F.col("l_orderkey") % 5 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("y"),
    )
    res = mice_impute(
        li, cont_cols=["y", "x"], cat_cols=[], cont_nulls=["y"], cat_nulls=[],
        iters=1, strategy=strategy, noise=False,
    )
    return res.df.select(
        "l_orderkey", "l_linenumber", F.round("y", 4).alias("y_imputed")
    )


@register(
    "mice_low_sql_oracle",
    oracle=_MICE_MASKED_SQL + """
    , fit AS (
      SELECT regr_slope(y, x) AS b1, regr_intercept(y, x) AS b0
      FROM masked WHERE y IS NOT NULL
    )
    SELECT l_orderkey, l_linenumber,
           ROUND(COALESCE(y, b0 + b1 * x), 4) AS y_imputed
    FROM masked, fit
    """,
)
def mice_low_sql_oracle(spark, sf):
    """MICE-low (incremental: full cofactor ⊖ delta, ⊕ delta′ after
    imputation — imputation_low.cpp:42-194) against the SAME oracle as
    the baseline strategy: the ⊕/⊖ ring algebra must reproduce the
    direct train bit-for-bit on integer-valued sums, so the hash row
    verifies the incremental bookkeeping end-to-end."""
    return _mice_single_col(spark, sf, "low")


@register(
    "mice_high_sql_oracle",
    oracle=_MICE_MASKED_SQL + """
    , stats AS (SELECT avg(y) AS m FROM masked),
    filled AS (
      SELECT l_orderkey, l_linenumber, x, y, COALESCE(y, m) AS yf
      FROM masked, stats
    ), fit AS (
      SELECT regr_slope(yf, x) AS b1, regr_intercept(yf, x) AS b0 FROM filled
    )
    SELECT l_orderkey, l_linenumber,
           ROUND(COALESCE(y, b0 + b1 * x), 4) AS y_imputed
    FROM filled, fit
    """,
)
def mice_high_sql_oracle(spark, sf):
    """MICE-high (static cofactor over the fully-null partition ⊕
    per-column delta, imputation_high.cpp:20-35,70,211).  By design the
    static partition contributes MEAN-FILLED rows to training — the
    oracle mirrors that semantic (train on COALESCE(y, avg(y)) over all
    rows), distinguishing high's model from baseline/low's."""
    return _mice_single_col(spark, sf, "high")


@register(
    "mice_recovery_rmse",
    oracle=_MICE_MASKED_SQL + """
    , fit AS (
      SELECT regr_slope(y, x) AS b1, regr_intercept(y, x) AS b0
      FROM masked WHERE y IS NOT NULL
    ), cells AS (
      SELECT CAST(ROUND((b0 + b1 * m.x - l.l_quantity) * 10000)
                  AS BIGINT) AS e
      FROM masked m
      JOIN lineitem l USING (l_orderkey, l_linenumber), fit
      WHERE m.y IS NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_masked,
           CAST(SUM(e * e) AS BIGINT) AS sse_e8,
           SQRT(CAST(SUM(e * e) AS DOUBLE) / COUNT(*)) / 10000.0 AS rmse
    FROM cells
    """,
)
def mice_recovery_rmse(spark, sf):
    """MICE end-to-end RECOVERY quality (SURVEY §5(d) / VERDICT r8 #4):
    mask l_quantity on the deterministic 20 %-of-keys seed
    (l_orderkey % 5 = 0 — the seeded-missingness shape of the
    reference demo, main.cpp:40-81), run run_MICE_baseline
    (mice/run.py, 1 iter, no noise), then score the RECOVERED values
    against the held-back ground truth — the check the per-cell
    equivalence rows don't make: not "does the engine match its SQL
    twin" but "how well does the algorithm recover what was erased",
    with the DuckDB side re-deriving the same recovery from the same
    algorithm replica.

    Exact-integer discipline: each masked cell's error is rounded at
    the integer ten-thousandth tier (CAST(ROUND((ŷ−y)·10⁴) AS
    BIGINT)), so SSE = Σe² is an EXACT integer — accumulation-order-
    independent, bit-identical cross-engine — and RMSE =
    √(SSE/n)/10⁴ is one transcendental of two exact integers (both
    engines compute the identical double).  No fractional-tier ROUND
    anywhere.

    Scale shape: the MICE fit is the factorized cofactor aggregate
    (one scan); scoring is one equi-join on the (orderkey,
    linenumber) key and one exact-integer aggregate — nothing
    row-sized ever sits on the driver."""
    from .mice import mice_impute

    li = _li(spark, sf)
    masked = li.select(
        "l_orderkey",
        "l_linenumber",
        F.dayofmonth("l_shipdate").cast("double").alias("x"),
        F.when(F.col("l_orderkey") % 5 == 0, None)
        .otherwise(F.col("l_quantity"))
        .alias("y"),
    )
    res = mice_impute(
        masked, cont_cols=["y", "x"], cat_cols=[], cont_nulls=["y"],
        cat_nulls=[], iters=1, strategy="baseline", noise=False,
    )
    truth = li.select(
        "l_orderkey", "l_linenumber", F.col("l_quantity").alias("__yt")
    )
    e = F.round((F.col("y") - F.col("__yt")) * 10000).cast("long")
    cells = (
        res.df.where(F.col("l_orderkey") % 5 == 0)
        .join(truth, ["l_orderkey", "l_linenumber"])
        .select((e * e).alias("__e2"))
    )
    return cells.agg(
        F.count(F.lit(1)).cast("long").alias("n_masked"),
        F.sum("__e2").cast("long").alias("sse_e8"),
        (
            F.sqrt(F.sum("__e2").cast("double") / F.count(F.lit(1)))
            / F.lit(10000.0)
        ).alias("rmse"),
    )


_MICE_CAT_REL = (
    "(SELECT l_orderkey, l_linenumber, l_quantity AS q, "
    "CAST(ROUND(l_discount*100) AS DOUBLE) AS disc, "
    "CAST(ROUND(l_tax*100) AS DOUBLE) AS tax, "
    "CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_linenumber END AS ln "
    "FROM {src})"
)


@register("mice_categorical_sql_oracle")
def mice_categorical_sql_oracle(spark, sf):
    """Categorical MICE — the reference's headline flow (imputation via
    LDA, imputation_base.cpp:46-49 with lda_train): mask l_linenumber on
    a deterministic key, train LDA on the clean partition, impute the
    masked rows with the argmax class.  Hash-gated end to end via the
    baked-coefficient oracle factory (DuckDB-trained bit-identical LDA,
    shared first-max argmax)."""
    from .mice import mice_impute

    li = _li(spark, sf).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("q"),
        F.round(F.col("l_discount") * 100).cast("double").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("double").alias("tax"),
        F.when(F.col("l_orderkey") % 7 == 0, None)
        .otherwise(F.col("l_linenumber"))
        .alias("ln"),
    )
    res = mice_impute(
        li, cont_cols=["q", "disc", "tax"], cat_cols=["ln"],
        cont_nulls=[], cat_nulls=["ln"], iters=1, strategy="baseline",
        noise=False,
    )
    return res.df.select(
        "l_orderkey", "l_linenumber", F.col("ln").cast("int").alias("ln_imputed")
    )


def _mice_cat_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml import sql_twin as _tw
    from .ml.lda import lda_train

    con = duckdb.connect()
    rel = _MICE_CAT_REL.format(src=_pq(sf_dir, "lineitem"))
    clean = f"(SELECT * FROM {rel} WHERE ln IS NOT NULL)"
    t = _tw.full_triple_duckdb(con, clean, ["q", "disc", "tax"], ["ln"])
    model = lda_train(t, label=0)
    pred = _tw.lda_predict_sql(model, ["q", "disc", "tax"])
    return f"""
    SELECT l_orderkey, l_linenumber,
           CAST(CASE WHEN ln IS NULL THEN {pred} ELSE ln END AS INT) AS ln_imputed
    FROM {_MICE_CAT_REL.format(src='lineitem')}
    """


ORACLE_FACTORIES["mice_categorical_sql_oracle"] = _mice_cat_oracle


# --------------------------------------------------------------------- #
# 4. Training-data pipeline ops: text analysis, dedup, similarity       #
# --------------------------------------------------------------------- #

from .operators import textstats as _ts  # noqa: E402
from .operators import dedup as _dd  # noqa: E402
from .operators import simsearch as _ss  # noqa: E402
from .operators.hashing import (  # noqa: E402
    md5_int32,
    md5_int32_sql,
    shingles_sql,
    ws_tokens_sql,
)


@register(
    "text_stats_documents",
    oracle=f"""
    SELECT doc_id,
           {_ts.token_count_ws_sql('text')} AS n_ws_tokens,
           {_ts.token_count_regex_sql('text')} AS n_re_tokens,
           {_ts.fingerprint_sql('text')} AS fp,
           {_ts.quality_score_sql('text')} AS quality,
           {_ts.lang_id_sql('text')} AS lang
    FROM documents
    """,
)
def text_stats_documents(spark, sf):
    """Token counting, fingerprinting, quality scoring and language ID in
    one pass over the documents table (single-bind struct: the text is
    tokenized once per row)."""
    from .operators.hashing import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf, "documents"))
    # materialize the struct in its own projection — field access on an
    # inline struct expression would re-evaluate it per field
    return d.select("doc_id", _ts.text_stats(F.col("text")).alias("__s")).select(
        "doc_id",
        F.col("__s.n_ws_tokens").alias("n_ws_tokens"),
        F.col("__s.n_re_tokens").alias("n_re_tokens"),
        F.col("__s.fp").alias("fp"),
        F.col("__s.quality").alias("quality"),
        F.col("__s.lang").alias("lang"),
    )


_GOPHER_SW_SQL = "['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']"


@register(
    "gopher_rules_documents",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, COALESCE(text, '') AS t,
             {ws_tokens_sql('text')} AS toks
      FROM documents
    ), feats AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS BIGINT) AS sum_word_len,
             CAST((length(t) - length(replace(t, '#', '')))
                  + (length(t) - length(replace(t, '...', ''))) // 3
                  AS BIGINT) AS n_symbol,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter({_GOPHER_SW_SQL},
                    w -> list_contains(list_transform(toks, x -> lower(x)), w)))
                  AS BIGINT) AS n_gopher_stopwords
      FROM base
    ), ruled AS (
      SELECT *,
             CAST(n_words BETWEEN 10 AND 100000 AS BIGINT) AS rule_word_count,
             CAST(n_words > 0 AND sum_word_len >= 2 * n_words
                  AND sum_word_len <= 10 * n_words AS BIGINT)
               AS rule_mean_word_len,
             CAST(n_symbol * 10 <= n_words AS BIGINT) AS rule_symbol_ratio,
             CAST(n_alpha_words * 5 >= n_words * 4 AS BIGINT)
               AS rule_alpha_words,
             CAST(n_gopher_stopwords >= 1 AS BIGINT) AS rule_stopwords
      FROM feats
    )
    SELECT doc_id, n_words, sum_word_len, n_symbol, n_alpha_words,
           n_gopher_stopwords, rule_word_count, rule_mean_word_len,
           rule_symbol_ratio, rule_alpha_words, rule_stopwords,
           CAST(rule_word_count * rule_mean_word_len * rule_symbol_ratio
                * rule_alpha_words * rule_stopwords AS BIGINT) AS keep
    FROM ruled
    """,
)
def gopher_rules_documents(spark, sf):
    """Gopher-style quality-rule filter (textstats.gopher_rules — Rae
    et al. 2021 §A.1.1, the rule family behind MassiveWeb and
    RedPajama-v2 quality signals): per-document integer features and
    one boolean per rule (word count, mean word length via integer
    cross-multiplication, symbol ratio, alphabetic-word fraction,
    mandatory-stopword count), plus the conjunction ``keep``.  Every
    emitted column is integer-typed — ratios are compared by
    cross-multiplication, so the row has ZERO rounding-boundary
    surface (the oracle_margin fragility class designed out).  One
    pass, all built-in Column functions, trivially data-parallel at
    any scale."""
    d = load_table(spark, sf, "documents")
    r = _ts.gopher_rules(F.col("text"))
    cols = [
        "n_words", "sum_word_len", "n_symbol", "n_alpha_words",
        "n_gopher_stopwords",
    ]
    flags = [
        "rule_word_count", "rule_mean_word_len", "rule_symbol_ratio",
        "rule_alpha_words", "rule_stopwords", "keep",
    ]
    return d.select(
        "doc_id",
        *[r[c].alias(c) for c in cols],
        *[r[f].cast("long").alias(f) for f in flags],
    )


@register(
    "fuzzy_pairs_customer_names",
    oracle="""
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS distance
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND abs(length(a.c_name) - length(b.c_name)) <= 1
     AND levenshtein(a.c_name, b.c_name) <= 1
    WHERE length(a.c_name) >= 3 AND length(b.c_name) >= 3
    """,
)
def fuzzy_pairs_customer_names(spark, sf):
    """Edit-distance-1 record-linkage pairs over customer names via
    SymSpell deletion-variant blocking (operators/fuzzyjoin.py
    fuzzy_self_pairs): explode each name into its <=1-deletion
    variants, equi-join on the variant, verify candidates with the
    JVM levenshtein — NEVER the all-pairs cross join the oracle runs
    (DuckDB brute-forces 1.1M comparisons; the Spark plan shuffles
    only variant-blocked candidates).  Blocking is LOSSLESS for the
    threshold (a substitution at i = deleting i from both sides), so
    the result equals the exact quadratic answer — 19.5k near-key
    pairs at sf0.01, the fat-fingered-identifier face of dedup."""
    from .operators.fuzzyjoin import fuzzy_self_pairs

    c = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    return fuzzy_self_pairs(
        c, "c_custkey", "c_name", max_distance=1
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("distance").cast("int").alias("distance"),
    )


@register(
    "heavy_hitter_tokens",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({ws_tokens_sql('text')}) AS v FROM documents
    ), c AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY v
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk
    )
    SELECT v AS value, cnt FROM c, n WHERE cnt * 51 > n
    """,
)
def heavy_hitter_tokens(spark, sf):
    """EXACT heavy-hitter tokens via the Misra–Gries two-pass plan
    (operators/sketches.py heavy_hitters, k=50): per-partition
    bounded-state candidate summaries (k counters per task — never a
    full GROUP BY over the vocabulary), then exact counts of only the
    broadcast candidate set, filtered by integer cross-multiplication
    ``cnt * 51 > N``.  The candidate union provably contains every
    value above N/(k+1) (pigeonhole over partitions), so the result
    equals the oracle's naive GROUP BY ... HAVING — while at corpus
    scale the Spark shuffle carries candidate rows only.  All-integer
    output: zero rounding surface."""
    from .operators.sketches import heavy_hitters

    d = load_table(spark, sf, "documents")
    tk = d.select(F.explode(_dd.ws_tokens(F.col("text"))).alias("token"))
    return heavy_hitters(tk, "token", k=50)


@register(
    "heavy_hitter_tokens_by_source",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({ws_tokens_sql('text')}) AS v
      FROM documents WHERE source IS NOT NULL
    ), c AS (
      SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk GROUP BY source, v
    ), n AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY source
    )
    SELECT c.source, v AS value, cnt
    FROM c JOIN n USING (source) WHERE cnt * 31 > n
    """,
)
def heavy_hitter_tokens_by_source(spark, sf):
    """PER-GROUP exact heavy hitters (operators/sketches.py
    heavy_hitters_grouped, k=30): tokens exceeding 1/31 of their
    SOURCE's token stream — the per-stratum face of the Misra–Gries
    two-pass plan (frequent tokens per domain, boilerplate per crawl
    slice).  The pigeonhole bound localizes per group (a group-heavy
    value survives some partition's per-group summary), so phase 1
    state is k counters per (partition, local group) and phase 2
    counts only (group, candidate) pairs against one group-keyed
    totals aggregate — never a GROUP BY over the corpus-sized
    (source, token) key space.  Equals the naive per-group
    GROUP BY ... HAVING oracle; integer threshold, all-integer
    output."""
    from .operators.sketches import heavy_hitters_grouped

    d = load_table(spark, sf, "documents")
    tk = d.select(
        "source", F.explode(_dd.ws_tokens(F.col("text"))).alias("token")
    )
    return heavy_hitters_grouped(tk, "token", ["source"], k=30)


def _profile_col_sql(c: str, numeric: bool) -> str:
    if numeric:
        stats = f"""
           ROUND(AVG(CAST({c} AS DOUBLE)), 3) + 0.0 AS mean,
           ROUND(stddev_pop(CAST({c} AS DOUBLE)), 4) + 0.0 AS std,
           ROUND(quantile_cont({c}, 0.25), 4) + 0.0 AS q25,
           ROUND(quantile_cont({c}, 0.5), 4) + 0.0 AS q50,
           ROUND(quantile_cont({c}, 0.75), 4) + 0.0 AS q75"""
    else:
        stats = """
           CAST(NULL AS DOUBLE) AS mean, CAST(NULL AS DOUBLE) AS std,
           CAST(NULL AS DOUBLE) AS q25, CAST(NULL AS DOUBLE) AS q50,
           CAST(NULL AS DOUBLE) AS q75"""
    return f"""
    SELECT '{c}' AS column, CAST(COUNT({c}) AS BIGINT) AS count,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value,{stats}
    FROM lineitem"""


@register(
    "profile_lineitem",
    oracle=" UNION ALL ".join(
        [
            _profile_col_sql("l_quantity", True),
            _profile_col_sql("l_extendedprice", True),
            _profile_col_sql("l_discount", True),
            _profile_col_sql("l_returnflag", False),
            _profile_col_sql("l_linestatus", False),
        ]
    ),
)
def profile_lineitem(spark, sf):
    """The DuckDB SUMMARIZE surface (operators/profile.py
    profile_table): per-column count / nulls / exact distincts /
    min-max (string form) / mean / population std / exact
    interpolated quartiles over five lineitem columns — computed as
    ONE wide aggregation over ONE scan (verified on the executed
    plan; Catalyst folds the exact-distinct family in via Expand),
    then unpivoted from the single result row.  The oracle is the
    per-column UNION ALL a DuckDB user would write by hand; Spark's
    exact `percentile` matches DuckDB's `quantile_cont` definition.
    Moment cells ride the ROUND(,4)+0.0 stat tier, EXCEPT the means
    at ROUND(,3): mean(l_quantity) is the exact rational 25.40225 at
    sf0.01 — ON the tier-4 half boundary, where the two engines'
    rounding directions can diverge (the margin check flagged it);
    one digit coarser puts it 0.25 steps clear."""
    from .operators.profile import profile_table

    li = _li(spark, sf)
    out = profile_table(
        li,
        [
            "l_quantity", "l_extendedprice", "l_discount",
            "l_returnflag", "l_linestatus",
        ],
    )
    return out.select(
        "column", "count", "n_null", "n_distinct", "min_value",
        "max_value",
        (F.round("mean", 3) + F.lit(0.0)).alias("mean"),
        (F.round("std", 4) + F.lit(0.0)).alias("std"),
        (F.round("q25", 4) + F.lit(0.0)).alias("q25"),
        (F.round("q50", 4) + F.lit(0.0)).alias("q50"),
        (F.round("q75", 4) + F.lit(0.0)).alias("q75"),
    )


@register(
    "fuzzy_join_part_typos",
    oracle="""
    WITH typo AS (
      SELECT p_partkey AS typo_id,
             substr(p_name, 1, 2) || substr(p_name, 4) AS tname
      FROM part WHERE length(p_name) >= 4 AND p_partkey % 7 = 0
    )
    SELECT a.p_partkey AS part_id, b.typo_id,
           CAST(levenshtein(a.p_name, b.tname) AS INT) AS distance
    FROM part a JOIN typo b
      ON abs(length(a.p_name) - length(b.tname)) <= 1
     AND levenshtein(a.p_name, b.tname) <= 1
    WHERE length(a.p_name) >= 3 AND length(b.tname) >= 3
    """,
)
def fuzzy_join_part_typos(spark, sf):
    """TWO-TABLE fuzzy join (operators/fuzzyjoin.py fuzzy_join — the
    record-linkage shape, vs fuzzy_self_pairs' dedup shape): part
    names joined against a deterministically corrupted twin (3rd
    character deleted from every 7th part), threshold levenshtein<=1.
    Every typo links back to its source name AND to every other part
    within one edit — part names repeat heavily (color x noun), so
    one typo fans out to all carriers of the source name, the
    many-to-many case record linkage actually faces.  Blocking is the
    deletion-variant equi-join on both sides; the oracle is the
    quadratic cross join the Spark plan must never run."""
    from .operators.fuzzyjoin import fuzzy_join

    p = load_table(spark, sf, "part").select("p_partkey", "p_name")
    typo = p.where(
        (F.length("p_name") >= 4) & (F.col("p_partkey") % 7 == 0)
    ).select(
        F.col("p_partkey").alias("typo_id"),
        F.concat(
            F.substring("p_name", 1, 2), F.expr("substr(p_name, 4)")
        ).alias("tname"),
    )
    return fuzzy_join(
        p, typo, "p_name", "tname", "p_partkey", "typo_id",
        max_distance=1,
    ).select(
        F.col("p_partkey").cast("long").alias("part_id"),
        F.col("typo_id").cast("long").alias("typo_id"),
        F.col("distance").cast("int").alias("distance"),
    )


@register(
    "exact_dedup_documents",
    oracle="""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 5
    )
    SELECT doc_id FROM unioned
    QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
    """,
)
def exact_dedup_documents(spark, sf):
    """Exact dedup (hash-groupBy, keep min id) over documents plus five
    injected exact copies."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    copies = d.filter("doc_id < 5").select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return _dd.exact_dedup(d.unionAll(copies), "text", "doc_id").select("doc_id")


def _minhash_slot_sql(a: int, b: int, shingle: int) -> str:
    sh = shingles_sql("text", shingle)
    base = f"list_transform({sh}, s -> {md5_int32_sql('s')})"
    return (
        f"list_min(list_transform({base}, "
        f"h -> (CAST({a} AS BIGINT) * h + {b}) % 2147483647))"
    )


_MINHASH_ORACLE = "\nUNION ALL\n".join(
    f"SELECT doc_id, CAST({i} AS INT) AS hash_idx, "
    f"{_minhash_slot_sql(a, b, 5)} AS minhash "
    f"FROM documents WHERE doc_id < 100"
    for i, (a, b) in enumerate(_dd.minhash_params(8))
)


@register("minhash_signatures", oracle=_MINHASH_ORACLE)
def minhash_signatures(spark, sf):
    """MinHash signatures (k=8, 5-char shingles), exploded to one row per
    hash slot — bit-exact across engines via the seeded md5 family."""
    d = load_table(spark, sf, "documents").filter("doc_id < 100")
    sig = _dd.minhash_signature(F.col("text"), k=8, shingle=5)
    return d.select("doc_id", F.posexplode(sig).alias("hash_idx", "minhash"))


@register(
    "ngram_jaccard_dups",
    oracle="""
    WITH unioned AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text || ' extraword' AS text
      FROM documents WHERE doc_id < 5
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, GREATEST(length(toks) - 2, 1) + 1),
               i -> array_to_string(toks[CAST(i AS INT):CAST(i AS INT)+2], ' ')
             )) AS g
      FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM unioned)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(length(list_intersect(a.g, b.g)) AS DOUBLE)
                 / length(list_distinct(list_concat(a.g, b.g))), 6) AS jaccard
    FROM grams a, grams b
    WHERE a.doc_id < b.doc_id
      AND CAST(length(list_intersect(a.g, b.g)) AS DOUBLE)
          / length(list_distinct(list_concat(a.g, b.g))) >= 0.3
    """,
)
def ngram_jaccard_dups(spark, sf):
    """Token-3-gram Jaccard near-dup pairs over documents plus injected
    near-copies; the oracle computes all-pairs Jaccard (blocking only
    changes what is *computed*, not what passes the threshold)."""
    d = load_table(spark, sf, "documents").filter("doc_id < 40").select("doc_id", "text")
    near = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 5")
        .select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        )
    )
    return _dd.ngram_jaccard_pairs(
        d.unionAll(near), "text", "doc_id", n=3, threshold=0.3
    )


@register(
    "simhash_documents",
    oracle="""
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60), b ->
             CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> b) & 1))
                       > length(hs)
                  THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
           )) AS BIGINT) AS sh
    FROM (
      SELECT doc_id,
             list_transform(
               CASE WHEN length(trim(text)) = 0 THEN []
                    ELSE regexp_split_to_array(trim(text), '\\s+') END,
               t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hs
      FROM documents WHERE doc_id < 100)
    """,
)
def simhash_documents(spark, sf):
    """60-bit SimHash per document — per-bit majority of md5'd tokens,
    bit-exact across engines (token hashes materialized once)."""
    from .operators.hashing import ensure_parallelism

    d = ensure_parallelism(load_table(spark, sf, "documents").filter("doc_id < 100"))
    return d.select(
        "doc_id", _dd.token_hashes(F.col("text")).alias("__hs")
    ).select("doc_id", _dd.simhash_from_hashes(F.col("__hs")).alias("sh"))


def _emb_query_vec(sf: str | None = None) -> list[float]:
    """Fixed synthetic unit query (dim 64, sin-derived) — data- and
    scale-factor-independent so the SQL oracle can inline it."""
    import numpy as _np

    v = _np.sin(_np.arange(1, 65, dtype=_np.float64))
    return list(v / _np.linalg.norm(v))


@register("embedding_cosine_scores")
def embedding_cosine_scores(spark, sf):
    """Brute-force cosine against a fixed synthetic query, ALL rows —
    set-equality is robust to rank ties; the dot is an explicitly
    sequential fold in both engines, so the rounded doubles are
    bit-identical."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    from .operators.simsearch import _dot

    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = F.array(*[F.lit(x) for x in q])
    score = F.round(_dot(v, qv) / F.sqrt(_dot(v, v)), 6) + F.lit(0.0)
    return e.select("vec_id", score.alias("score"))


def _embedding_oracle(sf: str | None = None) -> str:
    q = _emb_query_vec(sf)
    qlit = "[" + ", ".join(repr(x) for x in q) + "]"
    dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, length(embedding) + 1), "
        f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ({qlit})[CAST(i AS INT)])), "
        "(a, b) -> a + b)"
    )
    self_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(1, length(embedding) + 1), "
        "i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * CAST(embedding[CAST(i AS INT)] AS DOUBLE))), "
        "(a, b) -> a + b)"
    )
    return (
        f"SELECT vec_id, ROUND({dot} / sqrt({self_dot}), 6) + 0.0 AS score FROM embeddings"
    )


ORACLES["embedding_cosine_scores"] = " ".join(_embedding_oracle().split())


def _hybrid_rrf_oracle() -> str:
    from .operators.retrieval import bm25_topk_sql

    bm25 = bm25_topk_sql(
        "documents", ws_tokens_sql("text"), "doc_id",
        ["hash", "join", "filter"], k=50,
    )
    cos = _embedding_oracle()
    return f"""
    WITH b0 AS (SELECT * FROM ({bm25})),
    b AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM b0
    ),
    c0 AS (
      SELECT vec_id AS doc_id, score FROM ({cos})
      ORDER BY score DESC, doc_id LIMIT 50
    ),
    c AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM c0
    ),
    u AS (SELECT * FROM b UNION ALL SELECT * FROM c)
    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lists,
           ROUND(SUM(1.0 / (60.0 + CAST(rnk AS DOUBLE))), 6) + 0.0
             AS rrf_score
    FROM u GROUP BY doc_id
    ORDER BY rrf_score DESC, doc_id LIMIT 15
    """


@register("hybrid_rrf_documents", oracle=_hybrid_rrf_oracle())
def hybrid_rrf_documents(spark, sf):
    """Hybrid search: Reciprocal Rank Fusion (operators/retrieval.py
    rrf_fuse, Cormack et al. SIGIR 2009, k=60) of the BM25 top-50
    (terms hash/join/filter) with the dense cosine top-50 against the
    fixed synthetic query vector — the rank-based combiner that needs
    no score calibration between the incomparable lexical and dense
    scales.  Both input rankings use the established rounded-score +
    id tie-break discipline, so their ranks are cross-engine
    deterministic; ranks come from a constant-key window over the
    50-row heads (bounded frames — the prefix.py pattern, no
    SinglePartition funnel); the fusion is one union + one keyed agg
    over ≤ 100 rows.  Each RRF term is one exact-integer division;
    the two-term sum is order-independent in IEEE."""
    from pyspark.sql import Window

    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.simsearch import _dot

    d = load_table(spark, sf, "documents")
    b0 = bm25_topk(d, "text", "doc_id", ["hash", "join", "filter"], k=50)
    wb = Window.partitionBy(
        F.pmod(F.xxhash64("doc_id"), F.lit(1))
    ).orderBy(F.desc("score"), F.col("doc_id"))
    b = b0.select("doc_id", F.row_number().over(wb).alias("rnk"))

    e = load_table(spark, sf, "embeddings")
    q = _emb_query_vec(sf)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qv = F.array(*[F.lit(x) for x in q])
    score = F.round(_dot(v, qv) / F.sqrt(_dot(v, v)), 6) + F.lit(0.0)
    c0 = (
        e.select(F.col("vec_id").alias("doc_id"), score.alias("score"))
        .orderBy(F.desc("score"), F.col("doc_id"))
        .limit(50)
    )
    c = c0.select("doc_id", F.row_number().over(wb).alias("rnk"))

    return rrf_fuse([b, c], "doc_id", "rnk", k=60, topk=15)


def _ivf_catalog_centroids(X) -> "np.ndarray":
    import numpy as _np

    return _ss.kmeans_np(_np.asarray(X, dtype=_np.float64), nlist=8, seed=42)


@register("ann_ivf_topk")
def ann_ivf_topk_query(spark, sf):
    """IVF approximate nearest neighbours (nprobe=4 of nlist=8),
    hash-gated end to end: k-means trains on a DETERMINISTIC sorted
    subset (vec_id % 5 = 0, ordered) so the oracle factory reproduces the
    exact centroid bits from the same parquet with the same NumPy code,
    then bakes centroids, probe list and the query vector into plain SQL
    (sequential-fold dots, first-max assignment — the engine's own
    argmax semantics)."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    cent = _ivf_catalog_centroids([r[0] for r in sub])
    return _ss.ann_ivf_topk(e, q, k=10, nlist=8, nprobe=4, centroids=cent)


def _ann_ivf_oracle(sf_dir: str) -> str:
    import duckdb
    import numpy as np

    from .ml.sql_twin import flit

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    cent = _ivf_catalog_centroids([list(r[0]) for r in rows])
    dim = cent.shape[1]
    q = np.asarray(_emb_query_vec(), dtype=np.float64)
    probes = [int(i) for i in ((cent - q[None, :]) ** 2).sum(1).argsort()[:4]]
    # _cosine re-normalizes the query vector; bake the renormalized bits
    q2 = q / np.linalg.norm(q)

    def dot_sql(vec_lit: str) -> str:
        # sequential fold, same order as Spark's aggregate(zip_with(...))
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ({vec_lit})[CAST(i AS INT)])), "
            "(a, b) -> a + b)"
        )

    def vlit(v) -> str:
        return "[" + ", ".join(flit(x) for x in v) + "]"

    scores = ", ".join(
        f"({dot_sql(vlit(c))} - {flit(float(c @ c) / 2.0)})" for c in cent
    )
    cos = f"{dot_sql(vlit(q2))} / sqrt({dot_sql('embedding')})"
    # self-dot: Spark computes _dot(v, v) on the cast-to-double array
    self_dot = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        "i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * CAST(embedding[CAST(i AS INT)] AS DOUBLE))), "
        "(a, b) -> a + b)"
    )
    cos = f"{dot_sql(vlit(q2))} / sqrt({self_dot})"
    return f"""
    WITH scored AS (
      SELECT vec_id, embedding, [{scores}] AS s FROM embeddings
    ), probed AS (
      SELECT vec_id, embedding FROM scored
      WHERE list_position(s, list_max(s)) - 1 IN ({', '.join(map(str, probes))})
    )
    SELECT vec_id, ROUND({cos}, 6) AS score FROM probed
    ORDER BY score DESC, vec_id LIMIT 10
    """


ORACLE_FACTORIES["ann_ivf_topk"] = _ann_ivf_oracle


def _embedding_pairs_ctes(
    union_sql: str,
    n_planes: int = 16, bands: int = 4, dim: int = 64,
    thr: float = 0.95, cap: int = 512, seed: int = 42,
) -> str:
    """CTE chain twinning operators/dedup.py embedding_dup_pairs over
    ``union_sql`` (the input relation), ending in ``ver`` =
    (id_a, id_b, cosine) verified pairs: the seeded hyperplanes are
    regenerated with the same NumPy call and inlined as literals; sign
    bits, band buckets, the 2..cap bucket filter, ordered candidate
    pairs and the exact-cosine verify all mirror the Spark pipeline
    expression for expression (sequential-fold dots, so the float64
    signs and rounded cosines are bit-identical)."""
    import numpy as np

    from .ml.sql_twin import flit

    planes = np.random.default_rng(seed).normal(size=(n_planes, dim))

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    def dot(vec: str, other: str) -> str:
        # sequential left fold, same order as Spark's
        # aggregate(zip_with(a, b, x*y), 0.0, acc+v)
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[CAST(i AS INT)] AS DOUBLE) * {other})), "
            "(a, b) -> a + b)"
        )

    bits = ", ".join(
        "CASE WHEN "
        + dot("embedding", f"({vlit(p)})[CAST(i AS INT)]")
        + " > 0 THEN 1 ELSE 0 END"
        for p in planes
    )
    width = n_planes // bands
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT vec_id, {b} AS band, "
        + " || ".join(
            f"CAST(bit[{b * width + r + 1}] AS VARCHAR)" for r in range(width)
        )
        + " AS bucket FROM bits"
        for b in range(bands)
    )
    pair_dot = dot("a.embedding", "CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)")
    self_dot_a = dot("a.embedding", "CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)")
    self_dot_b = dot("b.embedding", "CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)")
    return f"""unioned AS (
      {union_sql}
    ), bits AS (
      SELECT vec_id, [{bits}] AS bit FROM unioned
    ), banded AS (
      {band_rows}
    ), kept AS (
      SELECT band, bucket FROM banded GROUP BY band, bucket
      HAVING COUNT(*) BETWEEN 2 AND {cap}
    ), cand AS (
      SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
      FROM banded l JOIN kept USING (band, bucket)
           JOIN banded r USING (band, bucket)
      WHERE l.vec_id < r.vec_id
    ), ver AS (
      SELECT id_a, id_b, cosine FROM (
        SELECT c.id_a, c.id_b,
               ROUND({pair_dot} / (sqrt({self_dot_a}) * sqrt({self_dot_b})), 6)
                 AS cosine
        FROM cand c JOIN unioned a ON a.vec_id = c.id_a
                    JOIN unioned b ON b.vec_id = c.id_b
      ) WHERE cosine >= {thr}
    )"""


_EMBED_DUP_UNION = """SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10"""


def _embedding_dup_oracle() -> str:
    return f"""
    WITH {_embedding_pairs_ctes(_EMBED_DUP_UNION)}
    SELECT id_a, id_b, cosine FROM ver
    """


def _quantized_topk_oracle(q: "list[float] | None" = None) -> str:
    """SQL twin of simsearch.quantize_int8 + quantized_cosine_topk: the
    quantized query ints and its norm are computed driver-side with the
    same half-away-from-zero rule and inlined; per-vector quantization
    mirrors the Spark expressions (round is HALF_UP in both engines —
    verified on ties), and the integer dot products are order-exact.
    ``q`` parameterizes the probe query (default: the fixed synthetic
    vector every single-query ANN row uses — callers passing nothing
    get the byte-identical historical SQL); the batch recall row feeds
    its other probe vectors through here."""
    from .operators import simsearch as _ssm

    q = _emb_query_vec() if q is None else list(q)
    qq = _ssm.quantize_int8_py(q)
    import numpy as _np

    qq_norm = repr(float(_np.sqrt(sum(x * x for x in qq))))
    qlit = "[" + ", ".join(str(int(x)) for x in qq) + "]"

    def idot(a: str, b: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0 AS BIGINT), "
            "list_transform(range(1, 65), "
            f"i -> CAST({a}[CAST(i AS INT)] AS BIGINT) * {b}[CAST(i AS INT)])), "
            "(a, b) -> a + b)"
        )

    return f"""
    WITH amaxed AS (
      SELECT vec_id,
             embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) AS amax
      FROM embeddings
    ), scaled AS (
      SELECT vec_id, embedding,
             CASE WHEN amax / CAST(127.0 AS DOUBLE) > 0
                  THEN amax / CAST(127.0 AS DOUBLE)
                  ELSE CAST(1.0 AS DOUBLE) END AS scale
      FROM amaxed
    ), qt AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INT)) AS qvec
      FROM scaled
    ), scored AS (
      SELECT vec_id,
             {idot('qvec', 'qvec')} AS self2,
             ROUND(CAST({idot('qvec', f'({qlit})')} AS DOUBLE)
                   / (sqrt(CAST({idot('qvec', 'qvec')} AS DOUBLE)) * {qq_norm}),
                   6) AS qscore
      FROM qt
    )
    SELECT vec_id, qscore FROM scored WHERE self2 > 0
    ORDER BY qscore DESC, vec_id LIMIT 10
    """


_SEMANTIC_DEDUP_UNION = """SELECT vec_id, embedding FROM embeddings WHERE vec_id < 60
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT vec_id + 20000 AS vec_id, embedding FROM embeddings WHERE vec_id < 10"""


def _semantic_dedup_oracle() -> str:
    """Verified cosine pairs → recursive transitive closure → drop every
    component member except its minimum id — the SQL twin of
    dedup.embedding_dedup's survivor set."""
    return f"""
    WITH RECURSIVE {_embedding_pairs_ctes(_SEMANTIC_DEDUP_UNION)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver
    ), reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, re.r FROM sym s JOIN reach re ON re.id = s.dst
    )
    SELECT vec_id FROM unioned WHERE vec_id NOT IN (
      SELECT id FROM reach GROUP BY id HAVING MIN(r) != id
    )
    """


@register("embedding_dup_pairs_lsh", oracle=_embedding_dup_oracle())
def embedding_dup_pairs_lsh(spark, sf):
    """Embedding near-duplicate pairs by random-hyperplane LSH + exact
    cosine verify (the embedding-space member of the dedup family, the
    last one without a hash row).  Ten exact copies (vec_id+10000) are
    unioned in so the ≥0.95 verify has true positives; random cross
    pairs that share a 4-bit band bucket are real candidates the exact
    verify must reject — both paths are hash-gated."""
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    dup = e.filter("vec_id < 10").select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding"
    )
    u = e.filter("vec_id < 60").unionAll(dup)
    return _dd.embedding_dup_pairs(
        u, "embedding", "vec_id", dim=64, threshold=0.95,
        n_planes=16, bands=4, seed=42,
    )


def _pq_catalog_codebooks(X) -> "np.ndarray":
    import numpy as _np

    return _ss.pq_train_np(
        _np.asarray(X, dtype=_np.float64), m=8, ksub=16, seed=42
    )


@register("pq_cosine_topk")
def pq_cosine_topk_query(spark, sf):
    """Product-quantization ANN (m=8 subspaces × 16 centroids → 8
    nibbles per vector, 32× compression): codebooks train on the same
    deterministic sorted subset as the IVF row, asymmetric-distance
    scoring via inlined lookup tables.  The oracle factory retrains
    bit-identical codebooks from the same parquet and replays code
    assignment (first-max argmax) and the fixed-order table-sum in
    SQL."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    cb = _pq_catalog_codebooks([r[0] for r in sub])
    return _ss.pq_topk(e, q, cb, k=10)


def _pq_catalog_cb(sf_dir: str) -> "np.ndarray":
    """Codebooks retrained from the same deterministic parquet subset the
    Spark query collects (sorted, % 5) — bit-identical NumPy path."""
    import duckdb

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    return _pq_catalog_codebooks([list(r[0]) for r in rows])


def _pq_score_sql(cb, source: str) -> str:
    """coded/pqscored CTE chain + final top-10 SELECT twinning
    operators/simsearch.pq_topk over relation ``source`` (which must
    expose vec_id, embedding)."""
    import numpy as np

    from .ml.sql_twin import flit

    m, ksub, dsub = cb.shape
    q = np.asarray(_emb_query_vec(), dtype=np.float64)
    qu = q / np.linalg.norm(q)

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    def sub_dot(j: int, clit: str) -> str:
        # sequential fold over subspace j, same order as Spark's
        # aggregate(zip_with(slice(...), c)) — offset into the embedding
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dsub + 1}), "
            f"i -> CAST(embedding[CAST(i AS INT) + {j * dsub}] AS DOUBLE)"
            f" * ({clit})[CAST(i AS INT)])), (a, b) -> a + b)"
        )

    code_cols = []
    for j in range(m):
        scores = ", ".join(
            f"({sub_dot(j, vlit(c))} - {flit(float(c @ c) / 2.0)})"
            for c in cb[j]
        )
        # 1-based first-max position == Spark's (array_position-1)+1 lookup
        code_cols.append(
            f"list_position([{scores}], list_max([{scores}])) AS c{j}"
        )
    num = " + ".join(
        f"({vlit(qu[j * dsub:(j + 1) * dsub] @ cb[j].T)})[c{j}]" for j in range(m)
    )
    den2 = " + ".join(
        f"({vlit([float(c @ c) for c in cb[j]])})[c{j}]" for j in range(m)
    )
    return f"""coded AS (
      SELECT vec_id, {', '.join(code_cols)} FROM {source}
    ), pqscored AS (
      SELECT vec_id,
             CAST(0.0 AS DOUBLE) + {den2} AS den2,
             ROUND((CAST(0.0 AS DOUBLE) + {num})
                   / sqrt(CAST(0.0 AS DOUBLE) + {den2}), 6) AS pq_score
      FROM coded
    )
    SELECT vec_id, pq_score FROM pqscored WHERE den2 > 0
    ORDER BY pq_score DESC, vec_id LIMIT 10"""


def _pq_topk_oracle(sf_dir: str) -> str:
    return f"\n    WITH {_pq_score_sql(_pq_catalog_cb(sf_dir), 'embeddings')}\n    "


ORACLE_FACTORIES["pq_cosine_topk"] = _pq_topk_oracle


@register("ann_ivfpq_topk")
def ann_ivfpq_topk_query(spark, sf):
    """IVF+PQ composed (the FAISS IVFx,PQy recipe): coarse-centroid
    probe pruning (nprobe=4 of nlist=8, same deterministic training
    subset as ann_ivf_topk) followed by PQ asymmetric-distance scoring
    of the survivors.  Hash-gated end to end — the oracle replays
    first-max cluster assignment, the probe filter, code assignment and
    the fixed-order table sums."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    X = [r[0] for r in sub]
    cent = _ivf_catalog_centroids(X)
    cb = _pq_catalog_codebooks(X)
    return _ss.ann_ivfpq_topk(e, q, cent, cb, k=10, nprobe=4)


def _ivfpq_topk_oracle(sf_dir: str) -> str:
    import duckdb
    import numpy as np

    from .ml.sql_twin import flit

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    X = [list(r[0]) for r in rows]
    cent = _ivf_catalog_centroids(X)
    cb = _pq_catalog_codebooks(X)
    dim = cent.shape[1]
    q = np.asarray(_emb_query_vec(), dtype=np.float64)
    probes = [int(i) for i in ((cent - q[None, :]) ** 2).sum(1).argsort()[:4]]

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    def dot_sql(vec_lit: str) -> str:
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ({vec_lit})[CAST(i AS INT)])), "
            "(a, b) -> a + b)"
        )

    scores = ", ".join(
        f"({dot_sql(vlit(c))} - {flit(float(c @ c) / 2.0)})" for c in cent
    )
    return f"""
    WITH ivfscored AS (
      SELECT vec_id, embedding, [{scores}] AS s FROM embeddings
    ), probed AS (
      SELECT vec_id, embedding FROM ivfscored
      WHERE list_position(s, list_max(s)) - 1 IN ({', '.join(map(str, probes))})
    ), {_pq_score_sql(cb, 'probed')}
    """


ORACLE_FACTORIES["ann_ivfpq_topk"] = _ivfpq_topk_oracle


@register("quantized_cosine_topk", oracle=_quantized_topk_oracle())
def quantized_cosine_topk_query(spark, sf):
    """int8 scalar-quantized cosine top-10 against the fixed synthetic
    query (simsearch.quantize_int8 → quantized_cosine_topk): per-vector
    scales cancel in the cosine, so the score path is exact integer dot
    products plus one rounded float division — bit-reproducible across
    engines without the sequential-fold discipline the float path
    needs."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    return _ss.quantized_cosine_topk(e, q, k=10)


def _lsh_planes(n_planes: int = 12, dim: int = 64, seed: int = 42):
    """The exact plane bits ann_lsh_topk derives (same numpy call) —
    shared so the SQL twin bakes identical hyperplanes."""
    import numpy as _np

    return _np.random.default_rng(seed).normal(size=(n_planes, dim))


def _seq_fold_sql(vec_lit: str, dim: int = 64) -> str:
    """DuckDB sequential fold Σ embedding·vec, same order as Spark's
    aggregate(zip_with(...)) — the shared dot discipline."""
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ({vec_lit})[CAST(i AS INT)])), "
        "(a, b) -> a + b)"
    )


def _self_fold_sql(dim: int = 64) -> str:
    return (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, {dim + 1}), "
        "i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)"
        " * CAST(embedding[CAST(i AS INT)] AS DOUBLE))), "
        "(a, b) -> a + b)"
    )


def _ann_recall_oracle(sf_dir: str) -> str:
    """Recall@10 oracle: the exact-cosine top-10 CTE plus ONE subquery
    per ANN variant — IVF/PQ/IVF+PQ reuse their row factories verbatim
    (nested WITH subqueries), int8 reuses the static twin, and LSH /
    PCA-shortlist get their SQL twins here (seeded hyperplane signs +
    hamming filter; fold-minus-shift subspace scores → top-40 shortlist
    → exact rerank) — every pruning replayed bit-identically, then one
    GROUP BY counts the overlaps."""
    import numpy as np

    from .ml.sql_twin import flit

    q = np.asarray(_emb_query_vec(), dtype=np.float64)
    q2 = q / np.linalg.norm(q)  # _cosine's renormalized bits

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    cos = f"ROUND({_seq_fold_sql(vlit(q2))} / sqrt({_self_fold_sql()}), 6)"
    truth = (
        f"SELECT vec_id, {cos} AS score FROM embeddings "
        "ORDER BY score DESC, vec_id LIMIT 10"
    )
    # --- LSH twin: seeded hyperplane signs, hamming <= 3, exact rerank
    planes = _lsh_planes()
    qbits = (planes @ q > 0).astype(int)
    ham = " + ".join(
        f"(CASE WHEN ({_seq_fold_sql(vlit(p))} > 0.0) != {bool(b)} "
        "THEN 1 ELSE 0 END)"
        for p, b in zip(planes, qbits)
    )
    lsh = f"""
      SELECT vec_id, {cos} AS score
      FROM embeddings WHERE ({ham}) <= 3
      ORDER BY score DESC, vec_id LIMIT 10"""
    # --- PCA-shortlist twin: subspace scores (fold - baked mean shift),
    # top-40 by approximate score, exact rerank of the shortlist
    import duckdb as _duckdb

    rows = _duckdb.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    model = _pca_catalog_model([list(r[0]) for r in rows])
    qp = (q - model.mean) @ model.components.T
    approx = "CAST(0.0 AS DOUBLE)"
    for j in range(_PCA_K):
        comp = model.components[j]
        shift = flit(float(np.dot(model.mean, comp)))
        approx += (
            f" + ({_seq_fold_sql(vlit(comp))} - {shift})"
            f" * {flit(float(qp[j]))}"
        )
    pca = f"""
      SELECT vec_id, {cos} AS score FROM embeddings
      WHERE vec_id IN (
        SELECT vec_id FROM (
          SELECT vec_id, {approx} AS a FROM embeddings
          ORDER BY a DESC, vec_id LIMIT 40))
      ORDER BY score DESC, vec_id LIMIT 10"""
    variants = [
        ("ivf", f"({_ann_ivf_oracle(sf_dir)})"),
        ("lsh", f"({lsh})"),
        ("int8", f"({_quantized_topk_oracle()})"),
        ("pq", f"({_pq_topk_oracle(sf_dir)})"),
        ("ivfpq", f"({_ivfpq_topk_oracle(sf_dir)})"),
        ("pca", f"({pca})"),
    ]
    tagged = "\n      UNION ALL\n      ".join(
        f"SELECT '{name}' AS variant, vec_id FROM {sql} t_{name}"
        for name, sql in variants
    )
    return f"""
    WITH truth AS ({truth}),
    tagged AS (
      {tagged}
    ), scored AS (
      SELECT variant, vec_id,
             CASE WHEN vec_id IN (SELECT vec_id FROM truth)
                  THEN 1 ELSE 0 END AS hit
      FROM tagged
    )
    SELECT variant, CAST(10 AS INT) AS k,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS truth_n,
           CAST(COUNT(*) AS BIGINT) AS returned,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS hits,
           CAST(ROUND(COALESCE(SUM(hit), 0) * 1000.0
                / (SELECT COUNT(*) FROM truth)) AS BIGINT)
             AS recall_pm
    FROM scored GROUP BY variant
    """


@register("ann_recall_at_k")
def ann_recall_at_k_query(spark, sf):
    """Recall@10 of every ANN variant against exact cosine ground truth
    (simsearch.ann_recall_at_k — VERDICT r10 missing #2): the six
    pruning strategies (IVF, hyperplane LSH, int8 scalar quantization,
    PQ, IVF+PQ, PCA shortlist) run on the fixed synthetic query over
    the same corpus, each top-10 joined against cosine_topk's top-10 —
    exact integer hit counts, recall as an integer-tier rounded
    rational, short returns visible in `returned`, and the denominator
    visible in `truth_n` (ADVICE r11 #2 — recall normalizes by the
    truth frame's actual size, never the requested k).  This measures the
    APPROXIMATION quality the per-variant hash rows cannot (each of
    those proves its pruning is implemented as specified, not that the
    pruning keeps the right neighbours).  Training constants
    (centroids, codebooks, PCA model) derive from the deterministic
    sorted subset shared with the ann_ivf/pq rows; LSH planes are the
    seeded numpy bits; the oracle replays every pruning end-to-end in
    SQL and counts the same overlaps.  Scale shape: six TakeOrdered
    top-k frames + one broadcast of 10 truth ids + ONE groupBy over
    ≤ 60 tagged rows."""
    q = _emb_query_vec(sf)
    e = load_table(spark, sf, "embeddings")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    X = [r[0] for r in sub]
    cent = _ivf_catalog_centroids(X)
    cb = _pq_catalog_codebooks(X)
    model = _pca_catalog_model([list(x) for x in X])
    truth = _ss.cosine_topk(e, q, k=10)
    variants = {
        "ivf": _ss.ann_ivf_topk(e, q, k=10, nlist=8, nprobe=4, centroids=cent),
        "lsh": _ss.ann_lsh_topk(e, q, k=10, n_planes=12, max_hamming=3),
        "int8": _ss.quantized_cosine_topk(e, q, k=10),
        "pq": _ss.pq_topk(e, q, cb, k=10),
        "ivfpq": _ss.ann_ivfpq_topk(e, q, cent, cb, k=10, nprobe=4),
        "pca": _ss.ann_pca_topk(e, q, model, k=10, rerank=4),
    }
    return _ss.ann_recall_at_k(truth, variants, k=10)


ORACLE_FACTORIES["ann_recall_at_k"] = _ann_recall_oracle


@register("semantic_dedup_survivors", oracle=_semantic_dedup_oracle())
def semantic_dedup_survivors(spark, sf):
    """SemDeDup-style semantic dedup (dedup.embedding_dedup): embedding
    near-dup clusters keep only their min-id representative.  Two copy
    generations (vec_id+10000, vec_id+20000) make every duplicated
    vector a 3-member component, so the transitive closure and the
    keep-one-per-component rule are both load-bearing; the oracle closes
    the verified-pair graph with a recursive CTE."""
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    dups = [
        e.filter("vec_id < 10").select(
            (F.col("vec_id") + off).alias("vec_id"), "embedding"
        )
        for off in (10000, 20000)
    ]
    u = e.filter("vec_id < 60").unionAll(dups[0]).unionAll(dups[1])
    return _dd.embedding_dedup(
        u, "embedding", "vec_id", dim=64, threshold=0.95,
        n_planes=16, bands=4, seed=42,
    ).select("vec_id")


@register("semantic_dedup_clustered")
def semantic_dedup_clustered(spark, sf):
    """SemDeDup with the PUBLISHED candidate generator (Abbas et al.
    2023 §2: k-means partition, cluster-LOCAL pruning — VERDICT r8 #6):
    the same 3-member-component fixture as `semantic_dedup_survivors`,
    but candidate pairs come from nearest-centroid cluster
    co-membership (dedup.embedding_dedup ``centroids=`` mode,
    simsearch.assign_clusters first-max argmax) instead of LSH bands —
    pairs never cross a cluster boundary, the paper's recall/cost
    trade.  Centroids train on the same deterministic sorted subset as
    the IVF rows so the oracle factory reproduces the exact bits with
    the same NumPy code, then replays assignment, the 2..cap cluster
    filter, exact-cosine verify, recursive closure and min-id
    survivors in SQL."""
    e = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    cent = _ivf_catalog_centroids([r[0] for r in sub])
    dups = [
        e.filter("vec_id < 10").select(
            (F.col("vec_id") + off).alias("vec_id"), "embedding"
        )
        for off in (10000, 20000)
    ]
    u = e.filter("vec_id < 60").unionAll(dups[0]).unionAll(dups[1])
    return _dd.embedding_dedup(
        u, "embedding", "vec_id", dim=64, threshold=0.95,
        centroids=cent, cluster_cap=512,
    ).select("vec_id")


def _semantic_dedup_clustered_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml.sql_twin import flit

    con = duckdb.connect()
    rows = con.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    cent = _ivf_catalog_centroids([list(r[0]) for r in rows])
    dim = cent.shape[1]

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    def dot(vec: str, other: str) -> str:
        # sequential left fold — same order as the Spark aggregate
        return (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform(range(1, {dim + 1}), "
            f"i -> CAST({vec}[CAST(i AS INT)] AS DOUBLE) * {other})), "
            "(a, b) -> a + b)"
        )

    scores = ", ".join(
        f"({dot('embedding', f'({vlit(c)})[CAST(i AS INT)]')} "
        f"- {flit(float(c @ c) / 2.0)})"
        for c in cent
    )
    pair_dot = dot("a.embedding", "CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)")
    self_a = dot("a.embedding", "CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)")
    self_b = dot("b.embedding", "CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)")
    return f"""
    WITH RECURSIVE unioned AS (
      {_SEMANTIC_DEDUP_UNION}
    ), assigned AS (
      SELECT vec_id, embedding,
             list_position([{scores}], list_max([{scores}])) - 1 AS cl
      FROM unioned
    ), kept AS (
      SELECT cl FROM assigned GROUP BY cl HAVING COUNT(*) BETWEEN 2 AND 512
    ), ver AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM assigned a JOIN assigned b
        ON a.cl = b.cl AND a.vec_id < b.vec_id
      WHERE a.cl IN (SELECT cl FROM kept)
        AND ROUND(({pair_dot}) / (SQRT({self_a}) * SQRT({self_b})), 6)
            >= 0.95
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver
    ), reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, re.r FROM sym s JOIN reach re ON re.id = s.dst
    )
    SELECT vec_id FROM unioned WHERE vec_id NOT IN (
      SELECT id FROM reach GROUP BY id HAVING MIN(r) != id
    )
    """


ORACLE_FACTORIES["semantic_dedup_clustered"] = _semantic_dedup_clustered_oracle


@register(
    "line_dedup_documents",
    oracle="""
    WITH pieces AS (
      SELECT doc_id, substr(text, 1, 50) AS piece FROM documents
    ), built AS (
      SELECT b.doc_id,
             b.piece || chr(10) || p7.piece || chr(10) || p13.piece AS text
      FROM pieces b
      JOIN pieces p7 ON p7.doc_id = b.doc_id % 7
      JOIN pieces p13 ON p13.doc_id = b.doc_id % 13
      WHERE b.doc_id < 100
    ), lines AS (
      SELECT doc_id,
             unnest(generate_series(1, len(parts))) AS pos,
             unnest(parts) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM built)
    ), kept AS (
      SELECT doc_id, pos, line FROM lines
      QUALIFY (CASE WHEN length(line) >= 10
               THEN row_number() OVER (PARTITION BY line ORDER BY doc_id, pos)
               ELSE 1 END) = 1
    )
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM kept GROUP BY doc_id
    """,
)
def line_dedup_documents(spark, sf):
    """C4-style cross-document line dedup (dedup.line_dedup): 100 docs
    are built as 3-line composites whose 2nd/3rd lines are shared with
    the doc at id%7 / id%13, so within-doc repeats, cross-doc repeats
    and first-occurrence-wins are all load-bearing; the oracle replays
    winner election and reassembly in SQL."""
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 50).alias("piece")
    )
    base = d.filter("doc_id < 100")
    p7 = d.select(F.col("doc_id").alias("k7"), F.col("piece").alias("piece7"))
    p13 = d.select(F.col("doc_id").alias("k13"), F.col("piece").alias("piece13"))
    built = (
        base.join(p7, base["doc_id"] % 7 == p7["k7"])
        .join(p13, base["doc_id"] % 13 == p13["k13"])
        .select(
            "doc_id",
            F.concat_ws("\n", "piece", "piece7", "piece13").alias("text"),
        )
    )
    return _dd.line_dedup(built, "text", "doc_id")


def _minhash_pairs_ctes(
    union_sql: str, k: int = 16, bands: int = 4, cap: int = 512, thr: float = 0.5
) -> str:
    """Shared CTE chain mirroring operators/dedup.py bit-for-bit: distinct
    shingles → seeded md5 signature → band md5 buckets → bucket cap →
    candidate pairs → exact-Jaccard verify (table ``ver``: id_a, id_b)."""
    from .operators.hashing import md5_int32_sql

    rows_per = k // bands
    sh = shingles_sql("text", 5)
    slots = ", ".join(
        f"list_min(list_transform(bh, h -> (CAST({a} AS BIGINT) * h + {b}) % 2147483647))"
        for a, b in _dd.minhash_params(k)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(
            f"CAST(sig[{b * rows_per + r + 1}] AS VARCHAR)" for r in range(rows_per)
        )
        + ")) AS bucket FROM sig"
        for b in range(bands)
    )
    return f"""unioned AS (
      {union_sql}
    ), shing AS (
      SELECT doc_id, list_distinct({sh}) AS s FROM unioned
    ), sig AS (
      SELECT doc_id, [{slots}] AS sig
      FROM (SELECT doc_id, list_transform(s, h -> {md5_int32_sql('h')}) AS bh
            FROM shing)
    ), banded AS (
      {band_rows}
    ), kept AS (
      SELECT band, bucket FROM banded GROUP BY band, bucket
      HAVING COUNT(*) BETWEEN 2 AND {cap}
    ), cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM banded l JOIN kept USING (band, bucket)
           JOIN banded r USING (band, bucket)
      WHERE l.doc_id < r.doc_id
    ), ver AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN shing a ON a.doc_id = c.id_a
                  JOIN shing b ON b.doc_id = c.id_b
      WHERE ROUND(CAST(length(list_intersect(a.s, b.s)) AS DOUBLE)
                  / length(list_distinct(list_concat(a.s, b.s))), 6) >= {thr}
    )"""


_SURVIVORS_UNION = """SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text || ' extraword' AS text
      FROM documents WHERE doc_id < 5"""


def _minhash_survivors_oracle() -> str:
    """SQL twin of the full MinHash-LSH dedup pipeline ending in the
    min-id anti-join, so the survivor set hash-matches."""
    return f"""
    WITH {_minhash_pairs_ctes(_SURVIVORS_UNION)}
    SELECT doc_id FROM unioned
    WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM ver)
    """


_COMPONENTS_UNION = """SELECT doc_id, text FROM documents WHERE doc_id < 40
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text || ' extraword' AS text
      FROM documents WHERE doc_id < 5
      UNION ALL
      SELECT doc_id + 20000 AS doc_id, text || ' extraword extrasecond' AS text
      FROM documents WHERE doc_id < 5"""


def _dedup_components_oracle() -> str:
    """Transitive closure of verified MinHash pairs as a recursive CTE:
    canonical(id) = MIN(reachable id) — exactly what the distributed
    min-label propagation (dedup.py dedup_components) converges to."""
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes(_COMPONENTS_UNION)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver
    ), reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, re.r FROM sym s JOIN reach re ON re.id = s.dst
    )
    SELECT id AS doc_id, MIN(r) AS canonical FROM reach GROUP BY id
    """


@register("dedup_components_transitive", oracle=_dedup_components_oracle())
def dedup_components_transitive(spark, sf):
    """Connected components over verified near-duplicate pairs (two-hop
    duplicate chains force genuine transitive merging); hash-gated
    against a recursive-CTE closure in the oracle."""
    d = load_table(spark, sf, "documents").filter("doc_id < 40").select("doc_id", "text")
    l1 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    l2 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword extrasecond")).alias("text"),
    )
    pairs = _dd.minhash_lsh_pairs(
        d.unionAll(l1).unionAll(l2), "text", "doc_id",
        k=16, bands=4, shingle=5, threshold=0.5,
    )
    return _dd.dedup_components(pairs).select(
        F.col("id").alias("doc_id"), "canonical"
    )


_DECONTAM_UNION = """SELECT doc_id * 2 AS doc_id, text FROM documents
      UNION ALL
      SELECT (doc_id - 400) * 2 + 1 AS doc_id, text || ' extraword' AS text
      FROM documents WHERE doc_id BETWEEN 400 AND 419"""


def _decontaminate_oracle() -> str:
    """Cross-source near-dup pairs (train uid even, eval uid odd) →
    survivors = train docs whose uid never appears on the train side of
    a verified cross pair."""
    return f"""
    WITH {_minhash_pairs_ctes(_DECONTAM_UNION)}
    SELECT doc_id FROM documents WHERE doc_id NOT IN (
      SELECT (CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2
      FROM ver WHERE (id_a % 2) != (id_b % 2)
    )
    """


@register("decontaminate_documents", oracle=_decontaminate_oracle())
def decontaminate_documents(spark, sf):
    """Test-set decontamination: training docs that near-duplicate any
    eval/benchmark doc are dropped (a core LLM-pipeline op — eval
    leakage inflates benchmarks).  Eval set = 20 near-copies of docs
    400-419; the oracle reproduces the tagged-union LSH pipeline and the
    cross-source filter."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    eval_df = d.filter("doc_id BETWEEN 400 AND 419").select(
        (F.col("doc_id") - 400).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    return _dd.minhash_decontaminate(d, eval_df, "text", "doc_id").select("doc_id")


@register("minhash_dedup_survivors", oracle=_minhash_survivors_oracle())
def minhash_dedup_survivors(spark, sf):
    """End-to-end MinHash-LSH dedup with a full SQL oracle twin — the
    flagship LLM-pipeline operator is hash-gated stage by stage."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    near = d.filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    return _dd.minhash_dedup(
        d.unionAll(near), "text", "doc_id", k=16, bands=4, shingle=5, threshold=0.5
    ).select("doc_id")


from .operators import textprep as _tp  # noqa: E402


def _pii_oracle() -> str:
    injected = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com"
        " or 10.0.0.' || CAST(doc_id % 256 AS VARCHAR) ||"
        " ' via https://ex.com/p/' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
    SELECT doc_id, {_tp.scrub_pii_sql(injected)} AS scrubbed
    FROM documents WHERE doc_id < 100
    """


@register("pii_scrub_documents", oracle=_pii_oracle())
def pii_scrub_documents(spark, sf):
    """PII scrubbing (emails / IPv4 / phone runs / URLs → typed
    placeholders) over documents with synthetic PII injected — the
    standard pre-training redaction pass, as a pure codegen'd
    regexp_replace chain with a shared Java-regex/RE2 pattern subset."""
    d = load_table(spark, sf, "documents").filter("doc_id < 100")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 10.0.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit(" via https://ex.com/p/"), F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", _tp.scrub_pii(injected).alias("scrubbed"))


# memoized shard boundaries for the packing prefix sum, keyed by
# (sf_dir, n_shards) — a pure function of the (immutable) dataset
_PACK_BOUNDS_CACHE: dict[tuple[str, int], list[float]] = {}


def _pack_oracle() -> str:
    n = _ts.token_count_ws_sql("text")
    mean_len = f"(length(trim(text)) - ({n} - 1.0)) / {n}"
    keep = _tp.deterministic_sample_sql("doc_id", 800)
    return f"""
    WITH toks AS (
      SELECT doc_id, {n} AS n_tokens, {mean_len} AS mean_len FROM documents
    ), filtered AS (
      SELECT doc_id, n_tokens FROM toks
      WHERE n_tokens >= 5 AND n_tokens <= 100000 AND mean_len <= 15.0
    ), sampled AS (
      SELECT doc_id, n_tokens FROM filtered WHERE {keep}
    ), packed AS (
      SELECT doc_id, n_tokens,
             CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id) - n_tokens)
                        / 512.0) AS BIGINT) AS bin
      FROM sampled
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY bin
    """


@register("pack_documents_bins", oracle=_pack_oracle())
def pack_documents_bins(spark, sf):
    """The LLM-data packing pipeline end to end: quality gate →
    deterministic md5 sampling (repartition-stable, unlike rand()) →
    context-window sequence packing (512-token bins via exclusive
    prefix sum) → per-bin stats."""
    d = load_table(spark, sf, "documents")
    filtered = _tp.quality_filter(d, "text", min_tokens=5, max_tokens=100_000)
    sampled = _tp.deterministic_sample(filtered, "doc_id", 800)
    slim = sampled.select(
        "doc_id", _ts.token_count_ws(F.col("text")).alias("n_tokens")
    )
    # shard boundaries: sketched from the pruned raw id column (no
    # tokenize) and memoized per dataset — any placement is correct, so
    # the 100 TB pattern is sketch-once-per-dataset-version, reuse
    # everywhere
    from .operators.prefix import default_n_shards as _dns

    key = (sf, _dns(slim))
    bounds = _PACK_BOUNDS_CACHE.get(key)
    if bounds is None:
        qs = [i / key[1] for i in range(1, key[1])]
        bounds = (
            d.select("doc_id").stat.approxQuantile("doc_id", qs, 0.001)
            if qs
            else []
        )
        _PACK_BOUNDS_CACHE[key] = bounds
    packed = _tp.pack_sequences(slim, "n_tokens", "doc_id", 512, bounds=bounds)
    return packed.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("bin_tokens"),
    )


def _chunk_oracle() -> str:
    from .operators.hashing import ws_tokens_sql

    t = ws_tokens_sql("text")
    return f"""
    WITH toks AS (
      SELECT doc_id, {t} AS t FROM documents WHERE doc_id < 50
    )
    SELECT doc_id,
           CAST(i // 96 AS INT) AS chunk_idx,
           array_to_string(t[CAST(i + 1 AS INT):CAST(i + 128 AS INT)], ' ') AS chunk_text,
           CAST(GREATEST(LEAST(128, length(t) - i), 0) AS INT) AS chunk_tokens
    FROM toks, UNNEST(range(0, GREATEST(length(t) - 1, 0) + 1, 96)) AS u(i)
    """


@register("chunk_documents_catalog", oracle=_chunk_oracle())
def chunk_documents_catalog(spark, sf):
    """Long-document chunking into overlapping context windows (128
    tokens, 32 overlap) — rows out = Σ ceil(n/96) per doc, pure
    sequence+slice+posexplode."""
    d = load_table(spark, sf, "documents").filter("doc_id < 50")
    return _tp.chunk_documents(d, "text", "doc_id", chunk_tokens=128, overlap=32)


from .operators.hashing import ws_tokens_sql as _ws_sql  # noqa: E402


@register(
    "vocabulary_top_tokens",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({_ws_sql('text')}) AS token
      FROM documents
    ), counts AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS count FROM tk GROUP BY token
    )
    SELECT token, count,
           CAST(row_number() OVER (ORDER BY count DESC, token) AS BIGINT) AS token_id
    FROM counts QUALIFY token_id <= 200
    """,
)
def vocabulary_top_tokens(spark, sf):
    """Corpus vocabulary by global token frequency, top 200 — tokenizer
    training prep; ids deterministic (count desc, token asc)."""
    d = load_table(spark, sf, "documents")
    return _tp.build_vocabulary(d, "text", top_k=200)


@register(
    "encode_documents_vocab",
    oracle=f"""
    WITH tk0 AS (
      SELECT unnest({_ws_sql('text')}) AS token FROM documents
    ), vocab AS (
      SELECT token, token_id FROM (
        SELECT token, CAST(COUNT(*) AS BIGINT) AS count,
               CAST(row_number() OVER (ORDER BY COUNT(*) DESC, token) AS BIGINT)
                 AS token_id
        FROM tk0 GROUP BY token
      ) WHERE token_id <= 200
    ), pos AS (
      SELECT doc_id, unnest(t) AS token,
             unnest(range(1, len(t) + 1)) AS i
      FROM (SELECT doc_id, {_ws_sql('text')} AS t FROM documents)
    ), enc AS (
      SELECT p.doc_id, p.i, COALESCE(v.token_id, -1) AS tid
      FROM pos p LEFT JOIN vocab v USING (token)
    ), agg AS (
      SELECT doc_id, list(tid ORDER BY i) AS token_ids,
             CAST(SUM(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
      FROM enc GROUP BY doc_id
    ), enc_full AS (
      SELECT d.doc_id,
             COALESCE(a.token_ids, []) AS token_ids,
             COALESCE(a.n_oov, 0) AS n_oov
      FROM (SELECT doc_id FROM documents) d LEFT JOIN agg a USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(token_ids) AS BIGINT) AS n_tokens,
           md5(array_to_string(token_ids, ' ')) AS ids_md5,
           n_oov
    FROM enc_full
    """,
)
def encode_documents_vocab(spark, sf):
    """Tokenizer-apply: encode every document as a token-id array under
    the corpus's own top-200 vocabulary (build_vocabulary →
    encode_with_vocabulary).  Broadcast vocab join, one doc-id shuffle,
    OOV → -1 with a per-doc count.

    The driver row projects scalar digests of the id array — doc_id,
    n_tokens, md5 of the space-joined ids, n_oov — because the driver's
    canonicalizer sorts rows by every column and cannot order raw array
    columns (the r5 red row).  `encode_with_vocabulary` itself keeps
    the array-returning API; the digest is row-local projection only."""
    d = load_table(spark, sf, "documents")
    vocab = _tp.build_vocabulary(d, "text", top_k=200)
    out = _tp.encode_with_vocabulary(d, "text", "doc_id", vocab)
    return out.select(
        "doc_id",
        F.size("token_ids").cast("long").alias("n_tokens"),
        F.md5(
            F.concat_ws(
                " ", F.transform("token_ids", lambda x: x.cast("string"))
            )
        ).alias("ids_md5"),
        "n_oov",
    )


@register(
    "stratified_sample_documents",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, {_ts.lang_id_sql('text')} AS lang,
             {md5_int32_sql("'strat' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ) QUALIFY row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) <= 20
    """,
)
def stratified_sample_documents(spark, sf):
    """Balanced per-stratum downsampling: ≤20 docs per detected language,
    chosen by deterministic md5 order (stable under repartitioning,
    unlike rand())."""
    d = load_table(spark, sf, "documents").withColumn(
        "lang", _ts.lang_id(F.col("text"))
    )
    return _tp.stratified_sample(d, "lang", "doc_id", k=20).select("doc_id", "lang")


@register(
    "temperature_mix_sample",
    oracle=f"""
    SELECT doc_id, source FROM (
      {_tp.temperature_sample_sql('documents', 'source', 'doc_id', target_frac=0.5)}
    )
    """,
)
def temperature_mix_sample(spark, sf):
    """Temperature-weighted domain mixing (α=0.5 multinomial sampling a
    la XLM-R/mT5): per-source keep rates ∝ √n_s, deterministic md5 row
    selection, expected half the corpus.  Head sources are damped, tail
    sources up-weighted — the standard pretraining-mixture sampler,
    hash-gated against its SQL twin."""
    d = load_table(spark, sf, "documents")
    return _tp.temperature_sample(d, "source", "doc_id", target_frac=0.5).select(
        "doc_id", "source"
    )


@register(
    "unigram_logprob_scores",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
    ), vocab AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY token
    ), tot AS (SELECT SUM(c) AS t FROM vocab)
    SELECT doc_id,
           ROUND(SUM(ln(c / t)) / COUNT(*), 6) AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk JOIN vocab USING (token), tot
    GROUP BY doc_id
    """,
)
def unigram_logprob_scores(spark, sf):
    """CCNet-style quality signal: per-document mean unigram
    log-probability under the corpus's own unigram LM (explode → count →
    broadcast join → per-doc mean).  Low scores flag out-of-distribution
    or junk documents.  The LM join is broadcast-able (vocabulary-sized);
    the per-doc aggregate is one shuffle on doc_id."""
    d = load_table(spark, sf, "documents")
    tk = d.select("doc_id", F.explode(_dd.ws_tokens(F.col("text"))).alias("token"))
    vocab = tk.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    scored = tk.join(F.broadcast(vocab), "token").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.round(F.sum(F.log(F.col("c") / F.col("t"))) / F.count(F.lit(1)), 6).alias(
            "avg_logprob"
        ),
        F.count(F.lit(1)).alias("n_tokens"),
    )


@register(
    "token_entropy_documents",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
    ), per AS (
      SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS c FROM tk
      GROUP BY doc_id, token
    ), n AS (
      SELECT doc_id, SUM(c) AS n FROM per GROUP BY doc_id
    )
    SELECT doc_id, ROUND(-SUM((c / n) * ln(c / n)), 6) AS entropy
    FROM per JOIN n USING (doc_id)
    GROUP BY doc_id
    """,
)
def token_entropy_documents(spark, sf):
    """Per-document Shannon entropy of the token distribution — a
    repetition detector (boilerplate / looped generations score low)."""
    d = load_table(spark, sf, "documents")
    tk = d.select("doc_id", F.explode(_dd.ws_tokens(F.col("text"))).alias("token"))
    per = tk.groupBy("doc_id", "token").agg(F.count(F.lit(1)).cast("double").alias("c"))
    n = per.groupBy("doc_id").agg(F.sum("c").alias("n"))
    j = per.join(n, "doc_id")
    p = F.col("c") / F.col("n")
    return j.groupBy("doc_id").agg(F.round(-F.sum(p * F.log(p)), 6).alias("entropy"))


def _repetition_oracle() -> str:
    tk = f"list_filter({_ws_sql('text')}, t -> length(t) > 0)"
    lines = (
        "list_filter(list_transform(CASE WHEN length(trim(COALESCE(text, ''))) = 0 "
        "THEN [] ELSE regexp_split_to_array(trim(COALESCE(text, '')), '\\n') END, "
        "l -> trim(l)), l -> length(l) > 0)"
    )
    grams = (
        f"CASE WHEN length({tk}) >= 2 THEN "
        f"list_transform(range(1, length({tk})), "
        f"i -> array_to_string(({tk})[i:i+1], ' ')) ELSE [] END"
    )
    return f"""
    WITH g AS (
      SELECT doc_id, {grams} AS grams, {lines} AS L FROM documents
    ), top AS (
      SELECT doc_id, MAX(c) AS topc FROM (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
        GROUP BY doc_id, gram
      ) GROUP BY doc_id
    )
    SELECT g.doc_id,
      ROUND(CASE WHEN len(L) = 0 THEN 0
        ELSE (len(L) - len(list_distinct(L))) / CAST(len(L) AS DOUBLE) END, 6)
        AS dup_line_frac,
      ROUND(CASE WHEN len(grams) = 0 THEN 0
        ELSE (len(grams) - len(list_distinct(grams))) / CAST(len(grams) AS DOUBLE) END, 6)
        AS dup_ngram_frac,
      ROUND(CASE WHEN len(grams) = 0 THEN 0
        ELSE COALESCE(topc, 0) / CAST(len(grams) AS DOUBLE) END, 6)
        AS top_ngram_frac
    FROM g LEFT JOIN top USING (doc_id)
    """


@register("repetition_metrics_documents", oracle=_repetition_oracle())
def repetition_metrics_documents(spark, sf):
    """Gopher-style repetition filters (duplicate-line / duplicate- and
    top-2-gram fractions) per document — the standard boilerplate-loop
    detectors for web-scale corpora.  One narrow scan, O(k log k) per
    doc (sorted-run fold for the top gram, not count-per-distinct)."""
    d = load_table(spark, sf, "documents")
    m = _ts.repetition_metrics(F.col("text"), n=2)
    return d.select("doc_id", m.alias("__m")).select(
        "doc_id",
        "__m.dup_line_frac",
        "__m.dup_ngram_frac",
        "__m.top_ngram_frac",
    )


def _ngram_decontaminate_oracle(mod: int = 97) -> str:
    from .operators.hashing import md5_int60_sql

    def grams(col: str) -> str:
        toks = _ws_sql(col)
        return (
            f"CASE WHEN length({toks}) >= 13 THEN "
            f"list_transform(range(1, length({toks}) - 12 + 1), "
            f"i -> array_to_string(({toks})[CAST(i AS INT):CAST(i AS INT) + 12], ' ')) "
            f"ELSE [array_to_string({toks}, ' ')] END"
        )

    h = md5_int60_sql("g")
    return f"""
    WITH tg AS (
      SELECT DISTINCT {h} AS h FROM (
        SELECT unnest({grams('text')}) AS g
        FROM documents WHERE doc_id % {mod} = 0
      )
    ), bad AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id, {h} AS h FROM (
          SELECT doc_id, unnest(list_distinct({grams('text')})) AS g
          FROM documents
        )
      ) WHERE h IN (SELECT h FROM tg)
    )
    SELECT doc_id FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM bad)
    """


def _novelty_oracle(n: int = 8, mod: int = 3) -> str:
    from .operators.hashing import md5_int60_sql

    def grams(col: str) -> str:
        toks = _ws_sql(col)
        return (
            f"CASE WHEN length({toks}) >= {n} THEN "
            f"list_transform(range(1, length({toks}) - {n - 1} + 1), "
            f"i -> array_to_string(({toks})[CAST(i AS INT):CAST(i AS INT) + {n - 1}], ' ')) "
            f"ELSE [array_to_string({toks}, ' ')] END"
        )

    h = md5_int60_sql("g")
    return f"""
    WITH rg AS (
      SELECT DISTINCT {h} AS h FROM (
        SELECT unnest({grams('text')}) AS g
        FROM documents WHERE doc_id % {mod} = 0
      )
    ), dg AS (
      SELECT doc_id, {h} AS h FROM (
        SELECT doc_id, unnest(list_distinct({grams('text')})) AS g
        FROM documents
      )
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (h NOT IN (SELECT h FROM rg))
                AS BIGINT) AS n_novel
    FROM dg GROUP BY doc_id
    """


@register("novelty_scores_documents", oracle=_novelty_oracle())
def novelty_scores_documents(spark, sf):
    """Per-document 8-gram NOVELTY vs a reference third of the corpus
    (dedup.novelty_scores, exact path): how many of a doc's distinct
    token 8-grams appear nowhere in the doc_id%3==0 reference — the
    "how new is this shard" curation metric, the set-level complement
    of the decontamination family on the SAME gram pipeline.  The row
    emits the two integer counts only (the novelty ratio is
    client-side arithmetic): zero rounding surface.  One gram-keyed
    anti-join; the Bloom-prefiltered corpus path (map-side
    definitely-absent resolution) is unit-tested identical."""
    from .operators.dedup import novelty_scores

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    ref = d.where(F.col("doc_id") % 3 == 0)
    return novelty_scores(d, ref, "text", "doc_id", n=8).select(
        "doc_id", "n_grams", "n_novel"
    )


def _dup_passage_oracle(n: int = 5, min_run: int = 3) -> str:
    from .operators.hashing import md5_int60_sql

    def grams(col: str) -> str:
        toks = _ws_sql(col)
        return (
            f"CASE WHEN length({toks}) >= {n} THEN "
            f"list_transform(range(1, length({toks}) - {n - 1} + 1), "
            f"i -> array_to_string(({toks})[CAST(i AS INT):CAST(i AS INT) + {n - 1}], ' ')) "
            f"ELSE [array_to_string({toks}, ' ')] END"
        )

    h = md5_int60_sql("g")
    return f"""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 5
    ), grams AS (
      SELECT doc_id, pos, {h} AS h FROM (
        SELECT doc_id,
               unnest(generate_series(1, length(gs))) AS pos,
               unnest(gs) AS g
        FROM (SELECT doc_id, {grams('text')} AS gs FROM unioned)
      )
    ), shared AS (
      SELECT h FROM (
        SELECT h, COUNT(*) AS c
        FROM (SELECT DISTINCT doc_id, h FROM grams) GROUP BY h
      ) WHERE c >= 2
    ), runs AS (
      SELECT doc_id,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM grams WHERE h IN (SELECT h FROM shared)
    ), mx AS (
      SELECT doc_id, MAX(c) AS max_dup_run FROM (
        SELECT doc_id, grp, COUNT(*) AS c FROM runs GROUP BY doc_id, grp
      ) GROUP BY doc_id
    )
    SELECT u.doc_id,
           COALESCE(mx.max_dup_run, 0) AS max_dup_run,
           CAST(COALESCE(mx.max_dup_run, 0) >= {min_run} AS INT) AS flagged
    FROM unioned u LEFT JOIN mx USING (doc_id)
    """


def _mh_sig_ctes(prefix: str, rel: str, k: int = 16, bands: int = 4) -> str:
    """Signature + banded CTEs (``{prefix}sig``, ``{prefix}banded``) for
    relation ``rel`` — the same seeded md5 pipeline as
    _minhash_pairs_ctes, parameterized so the index oracle can run it
    over two relations (corpus and batch)."""
    from .operators.hashing import md5_int32_sql

    rows_per = k // bands
    sh = shingles_sql("text", 5)
    slots = ", ".join(
        f"list_min(list_transform(bh, h -> (CAST({a} AS BIGINT) * h + {b}) % 2147483647))"
        for a, b in _dd.minhash_params(k)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws(',', "
        + ", ".join(
            f"CAST(sig[{b * rows_per + r + 1}] AS VARCHAR)" for r in range(rows_per)
        )
        + ")) AS bucket FROM {p}sig"
        for b in range(bands)
    ).replace("{p}", prefix)
    return f"""{prefix}sig AS (
      SELECT doc_id, [{slots}] AS sig
      FROM (SELECT doc_id, list_transform(list_distinct({sh}), h -> {md5_int32_sql('h')}) AS bh
            FROM {rel})
    ), {prefix}banded AS (
      {band_rows}
    )"""


_MH_INDEX_BATCH = """SELECT doc_id + 5000 AS doc_id, text FROM documents WHERE doc_id < 3
      UNION ALL
      SELECT doc_id, text FROM documents WHERE doc_id BETWEEN 300 AND 304"""


@register(
    "corpus_data_card",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM({_ts.token_count_ws_sql('text')}) AS BIGINT) AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars,
           ROUND(AVG({_ts.quality_score_sql('text')}), 6) AS mean_quality,
           CAST(COUNT(DISTINCT {_ts.lang_id_sql('text')}) AS BIGINT) AS n_langs
    FROM documents GROUP BY source
    """,
)
def corpus_data_card(spark, sf):
    """Per-source corpus data card (the summary sheet a dataset release
    ships): document count, token volume, char-length range, mean
    heuristic quality, detected-language count — one scan, one
    map-side-combined shuffle on source, every expression an existing
    hash-gated textstats twin."""
    d = load_table(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(_ts.token_count_ws(F.col("text"))).cast("long").alias("total_tokens"),
        F.min("n_chars").cast("long").alias("min_chars"),
        F.max("n_chars").cast("long").alias("max_chars"),
        F.round(F.avg(_ts.quality_score(F.col("text"))), 6).alias("mean_quality"),
        F.countDistinct(_ts.lang_id(F.col("text"))).alias("n_langs"),
    )


@register(
    "salted_join_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def salted_join_segment_revenue(spark, sf):
    """Skew-salted join (operators/skew.salted_join) hash-gated for
    semantics: orders (big, salted on full row content) joins customer
    (small, replicated per salt) — the explicit mitigation for hot keys
    AQE can't rewrite — and the result must equal the plain SQL join
    exactly.  Salting changes the physical shuffle layout only; any
    semantic drift (lost rows, duplicated small-side matches) breaks
    the hash."""
    from .operators.skew import salted_join

    o = load_table(spark, sf, "orders").select(
        "o_custkey", _cents("o_totalprice").alias("price_c")
    )
    c = load_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, on=["o_custkey"], n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("price_c").cast("long").alias("revenue_c"),
    )


def _minhash_index_oracle() -> str:
    """Index-dedup twin: corpus and batch each get the signature/band
    pipeline; candidates share a (band, bucket); the MinHash estimator
    (matching-slot fraction, multiples of 1/16 — exact doubles) gates
    the taint; survivors are the batch's anti-set."""
    return f"""
    WITH corpus_rel AS (
      SELECT doc_id, text FROM documents WHERE doc_id < 200
    ), batch_rel AS (
      {_MH_INDEX_BATCH}
    ), {_mh_sig_ctes('c_', 'corpus_rel')}, {_mh_sig_ctes('b_', 'batch_rel')},
    cand AS (
      SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
      FROM b_banded b JOIN c_banded c USING (band, bucket)
    ), tainted AS (
      SELECT DISTINCT new_id FROM cand
      JOIN b_sig bs ON bs.doc_id = cand.new_id
      JOIN c_sig cs ON cs.doc_id = cand.corpus_id
      WHERE CAST(length(list_filter(
              list_transform(range(1, 17),
                i -> bs.sig[CAST(i AS INT)] = cs.sig[CAST(i AS INT)]),
              x -> x)) AS DOUBLE) / 16.0 >= 0.5
    )
    SELECT doc_id FROM batch_rel
    WHERE doc_id NOT IN (SELECT new_id FROM tainted)
    """


@register("minhash_index_dedup_new", oracle=_minhash_index_oracle())
def minhash_index_dedup_new(spark, sf):
    """Incremental dedup against the persisted-signature MinHash index
    (operators/minhash_index.py): a new batch of 3 exact copies + 5
    fresh docs dedups against a 200-doc indexed corpus without re-
    signaturing it; survivors hash-gated against a full SQL replay of
    signatures, banding, and the matching-slot Jaccard estimator."""
    from .operators.minhash_index import minhash_index as _mhi

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    corpus = d.filter("doc_id < 200")
    batch = (
        d.filter("doc_id < 3")
        .select((F.col("doc_id") + 5000).alias("doc_id"), "text")
        .unionAll(d.filter("doc_id BETWEEN 300 AND 304"))
    )
    idx = _mhi(corpus, "text", "doc_id", k=16, bands=4, shingle=5)
    return idx.dedup_new(batch, "text", "doc_id", threshold=0.5).select("doc_id")


@register("duplicate_passage_flags", oracle=_dup_passage_oracle())
def duplicate_passage_flags_query(spark, sf):
    """Span-dedup signal (dedup.duplicate_passage_flags, 5-grams,
    min_run=3): five exact copies guarantee full-length duplicated
    runs, and the small synthetic vocabulary makes natural cross-doc
    5-gram collisions a real no-flag/short-run negative path; the
    oracle replays gram df counting and gaps-and-islands run detection
    in SQL."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    copies = d.filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return _dd.duplicate_passage_flags(
        d.unionAll(copies), "text", "doc_id", n=5, min_run=3
    )


@register("ngram_decontaminate_documents", oracle=_ngram_decontaminate_oracle())
def ngram_decontaminate_documents(spark, sf):
    """GPT-3-style 13-gram-overlap decontamination of the corpus against
    a stand-in benchmark slice (doc_id % 97): surviving doc ids.  Taint
    grams travel as md5-int60 hashes, broadcast — one corpus scan, no
    corpus shuffle."""
    d = load_table(spark, sf, "documents")
    ev = d.filter("doc_id % 97 = 0")
    return _dd.ngram_decontaminate(d, ev, "text", "doc_id", n=13).select("doc_id")


def _bm25_oracle() -> str:
    from .operators.retrieval import bm25_topk_sql

    return bm25_topk_sql(
        "documents", _ws_sql("text"), "doc_id",
        ["hash", "join", "filter"], k=15,
    )


@register("bm25_search_documents", oracle=_bm25_oracle())
def bm25_search_documents(spark, sf):
    """Full-text BM25 retrieval: top-15 documents for a 3-term query —
    one corpus scan, term stats broadcast, TakeOrdered winners only."""
    from .operators.retrieval import bm25_topk

    d = load_table(spark, sf, "documents")
    return bm25_topk(d, "text", "doc_id", ["hash", "join", "filter"], k=15)


def _bm25_index_oracle() -> str:
    from .operators.retrieval import bm25_topk_sql

    return bm25_topk_sql(
        "documents", _ws_sql("text"), "doc_id",
        ["group", "sort", "scan"], k=12,
    )


@register("bm25_index_search_documents", oracle=_bm25_index_oracle())
def bm25_index_search_documents(spark, sf):
    """The prebuilt-index retrieval path (operators/retrieval.bm25_index):
    postings with denormalized doc lengths built once, search touches
    only the index — same scores as the one-shot scorer, which is what
    the oracle checks.  persist=False here because the driver runs each
    catalog query once (the index pays off from the second query on)."""
    from .operators.retrieval import bm25_index

    d = load_table(spark, sf, "documents")
    idx = bm25_index(d, "text", "doc_id", persist=False)
    return idx.search(["group", "sort", "scan"], k=12)


@register(
    "multimodal_decode_netpbm",
    oracle="""
    WITH px AS (
      SELECT doc_id, r, c,
             (doc_id * 31 + ((2 * r) * 16 + 2 * c) * 7) % 256 AS v
      FROM documents, UNNEST(range(0, 8)) t1(r), UNNEST(range(0, 8)) t2(c)
      WHERE doc_id < 50
    )
    SELECT doc_id AS id,
           CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY r, c)) AS pixel_digest
    FROM px GROUP BY doc_id
    """,
)
def multimodal_decode_netpbm(spark, sf):
    """REAL image decode end to end: deterministic P5/PGM payloads are
    synthesized IN-ENGINE (header + unhex'd pixel bytes, pixel(i) =
    (doc_id·31 + i·7) mod 256 over a 16×16 grid), decoded by the real
    netpbm parser (header parse + np.frombuffer, multimodal.py
    decode_netpbm_bytes) through an Arrow-batched mapInPandas stage,
    nearest-neighbor-resized 16×16 → 8×8 (keeps pixels at even (r,c)),
    and verified pixel-for-pixel: the oracle recomputes the generating
    formula in SQL and md5-digests the same pixel sequence."""
    from .operators.multimodal import decode_images

    side = 16
    header = F.encode(F.lit(f"P5\n{side} {side}\n255\n"), "utf-8")
    idx = F.sequence(F.lit(0), F.lit(side * side - 1))
    hexstr = F.concat_ws(
        "",
        F.transform(
            idx,
            lambda i: F.lpad(
                F.hex(F.pmod(F.col("doc_id") * 31 + i * 7, F.lit(256))), 2, "0"
            ),
        ),
    )
    d = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 50")
        .select("doc_id", F.concat(header, F.unhex(hexstr)).alias("payload"))
    )
    out = decode_images(d, "payload", "doc_id", height=8, width=8, fake=False)
    return out.select(
        "id",
        "width",
        "height",
        F.aggregate(
            F.col("pixels"), F.lit(0).cast("long"), lambda a, v: a + v
        ).alias("sum_pixels"),
        F.md5(
            F.encode(
                F.concat_ws(
                    ",", F.transform(F.col("pixels"), lambda v: v.cast("string"))
                ),
                "utf-8",
            )
        ).alias("pixel_digest"),
    )


@register(
    "multimodal_decode_wav",
    oracle="""
    WITH s AS (
      SELECT doc_id, i, ((doc_id * 7 + i * 13) % 2003) - 1001 AS v
      FROM documents, UNNEST(range(0, 64)) u(i)
      WHERE doc_id < 40
    )
    SELECT doc_id AS id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(1 AS INT) AS n_channels,
           CAST(64 AS BIGINT) AS n_samples,
           ROUND(sqrt(SUM((v / 32768.0) * (v / 32768.0)) / 64), 6) AS rms,
           ROUND(MAX(abs(v)) / 32768.0, 6) AS peak
    FROM s GROUP BY doc_id
    """,
)
def multimodal_decode_wav(spark, sf):
    """REAL audio decode end to end: PCM16 mono WAV payloads synthesized
    IN-ENGINE — a constant 44-byte RIFF/fmt/data header literal plus
    little-endian samples s(i) = ((doc_id·7 + i·13) mod 2003) − 1001 —
    decoded by the real stdlib ``wave`` parser (multimodal.py
    decode_audio_wav) through Arrow-batched mapInPandas.  RMS is exact
    cross-engine: the squared samples are dyadic rationals whose 64-term
    sum fits float64 exactly, so sqrt/round agree bit-for-bit with the
    SQL oracle recomputing the generating formula."""
    from .operators.multimodal import decode_audio_wav

    n, rate = 64, 8000
    data_size = n * 2
    header = (
        b"RIFF"
        + (36 + data_size).to_bytes(4, "little")
        + b"WAVEfmt "
        + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little")      # PCM
        + (1).to_bytes(2, "little")      # mono
        + rate.to_bytes(4, "little")
        + (rate * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")      # block align
        + (16).to_bytes(2, "little")     # bits/sample
        + b"data"
        + data_size.to_bytes(4, "little")
    )
    idx = F.sequence(F.lit(0), F.lit(n - 1))

    def le16(i):
        # two's-complement int16, little-endian hex
        v = F.pmod(
            F.pmod(F.col("doc_id") * 7 + i * 13, F.lit(2003)) - 1001,
            F.lit(65536),
        )
        return F.concat(
            F.lpad(F.hex(v % 256), 2, "0"),
            F.lpad(F.hex(F.floor(v / 256).cast("long")), 2, "0"),
        )

    hexstr = F.concat_ws("", F.transform(idx, le16))
    d = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 40")
        .select(
            "doc_id",
            F.concat(F.lit(header), F.unhex(hexstr)).alias("payload"),
        )
    )
    out = decode_audio_wav(d, "payload", "doc_id")
    return out.select(
        "id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round("rms", 6).alias("rms"),
        F.round("peak", 6).alias("peak"),
    )


@register(
    "multimodal_media_meta",
    oracle="""
    SELECT doc_id, 'text/plain' AS fmt,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha
    FROM documents WHERE doc_id < 200
    """,
)
def multimodal_media_meta(spark, sf):
    """Typed media metadata without decoding (the cheap cataloging pass
    over opaque binary columns): byte length + sha-256 digest, flattened
    from attach_media_meta's struct and hash-verified against DuckDB's
    sha256/octet_length on the same bytes."""
    from .operators.multimodal import attach_media_meta

    d = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 200")
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    out = attach_media_meta(d, "payload", fmt="text/plain")
    return out.select(
        "doc_id",
        F.col("payload_meta.format").alias("fmt"),
        F.col("payload_meta.n_bytes").alias("n_bytes"),
        F.col("payload_meta.sha").alias("sha"),
    )


@register(
    "multimodal_image_features_netpbm",
    oracle="""
    WITH px AS (
      SELECT doc_id, r, c,
             CAST((doc_id * 31 + ((4 * r) * 16 + 4 * c) * 7) % 256 AS DOUBLE) AS v
      FROM documents, UNNEST(range(0, 4)) t1(r), UNNEST(range(0, 4)) t2(c)
      WHERE doc_id < 50
    ), nrm AS (
      SELECT doc_id, sqrt(SUM(v * v)) AS nn FROM px GROUP BY doc_id
    )
    SELECT px.doc_id AS id, CAST(16 AS INT) AS n_dims,
           ROUND(MAX(CASE WHEN r = 0 AND c = 0 THEN v END) / MAX(nn), 6) AS f0,
           ROUND(sqrt(SUM((v / nn) * (v / nn))), 6) AS f_l2,
           md5(string_agg(
             CAST(CAST(ROUND(v / nn * 1000000, 0) AS BIGINT) AS VARCHAR),
             ',' ORDER BY r, c)) AS feat_digest
    FROM px JOIN nrm ON px.doc_id = nrm.doc_id
    GROUP BY px.doc_id
    """,
)
def multimodal_image_features_netpbm(spark, sf):
    """REAL image feature extraction end to end (the tiny-image
    descriptor): deterministic 16×16 P5 payloads synthesized IN-ENGINE
    (pixel(i) = (doc_id·31 + i·7) mod 256, same generator as the decode
    row), decoded by the real netpbm parser, nearest-neighbor
    downsampled to a 4×4 grid (keeps pixels at (4r, 4c)), flattened and
    L2-normalized (multimodal.image_features fake=False) through an
    Arrow-batched mapInPandas stage.  Verified feature-for-feature: the
    oracle recomputes the sampled pixels + normalization in SQL and
    digests the micro-quantized (×1e6) feature ints — integer strings,
    so no float-formatting hazard crosses engines."""
    from .operators.multimodal import image_features

    side = 16
    header = F.encode(F.lit(f"P5\n{side} {side}\n255\n"), "utf-8")
    idx = F.sequence(F.lit(0), F.lit(side * side - 1))
    hexstr = F.concat_ws(
        "",
        F.transform(
            idx,
            lambda i: F.lpad(
                F.hex(F.pmod(F.col("doc_id") * 31 + i * 7, F.lit(256))), 2, "0"
            ),
        ),
    )
    d = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 50")
        .select("doc_id", F.concat(header, F.unhex(hexstr)).alias("payload"))
    )
    out = image_features(d, "payload", "doc_id", dim=16, fake=False)
    micro = F.transform(
        F.col("feature"),
        lambda x: F.round(x * 1e6, 0).cast("long").cast("string"),
    )
    return out.select(
        "id",
        F.size("feature").alias("n_dims"),
        F.round(F.element_at("feature", 1), 6).alias("f0"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.col("feature"), F.lit(0.0), lambda a, x: a + x * x
                )
            ),
            6,
        ).alias("f_l2"),
        F.md5(F.encode(F.concat_ws(",", micro), "utf-8")).alias("feat_digest"),
    )


@register(
    "multimodal_video_frames_netpbm",
    oracle="""
    WITH px AS (
      SELECT doc_id, f, i, (doc_id * 31 + f * 101 + i * 7) % 256 AS v
      FROM documents, UNNEST([0, 2]) t1(f), UNNEST(range(0, 64)) t2(i)
      WHERE doc_id < 30
    )
    SELECT doc_id AS id, CAST(f AS INT) AS frame_idx,
           CAST(75 AS BIGINT) AS frame_len,
           CAST(SUM(v) AS BIGINT) AS sum_pixels,
           md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY i)) AS pixel_digest
    FROM px GROUP BY doc_id, f
    """,
)
def multimodal_video_frames_netpbm(spark, sf):
    """REAL video frame-sampling end to end over the netpbm-concat
    container (back-to-back P5 frames — the MJPEG idea with a codec this
    environment can parse): 4-frame 8×8 payloads synthesized IN-ENGINE
    (pixel(f, i) = (doc_id·31 + f·101 + i·7) mod 256), demuxed by the
    real header-length walker (multimodal.demux_netpbm_frames), every
    2nd frame sampled up to 2 frames → container indices {0, 2}.  Each
    emitted frame is then verified byte-for-byte IN THE ENGINE: its hex
    dump is sliced back into pixel ints with JVM expressions (no Python
    re-decode) and digest-matched against the SQL generating formula."""
    from .operators.multimodal import sample_video_frames

    side, nframes = 8, 4
    header = F.encode(F.lit(f"P5\n{side} {side}\n255\n"), "utf-8")
    idx = F.sequence(F.lit(0), F.lit(side * side - 1))
    def frame_payload(f: int):
        # NB: single-arg lambda — a 2-arg transform lambda would be
        # interpreted as (element, index), clobbering the closure
        return F.concat(
            header,
            F.unhex(
                F.concat_ws(
                    "",
                    F.transform(
                        idx,
                        lambda i: F.lpad(
                            F.hex(
                                F.pmod(
                                    F.col("doc_id") * 31 + f * 101 + i * 7,
                                    F.lit(256),
                                )
                            ),
                            2,
                            "0",
                        ),
                    ),
                )
            ),
        )

    frames = [frame_payload(f) for f in range(nframes)]
    d = (
        load_table(spark, sf, "documents")
        .filter("doc_id < 30")
        .select("doc_id", F.concat(*frames).alias("payload"))
    )
    out = sample_video_frames(
        d, "payload", "doc_id", every_n=2, max_frames=2, fake=False
    )
    hx = F.hex("frame")
    hdr_len = len(f"P5\n{side} {side}\n255\n")
    pix = F.transform(
        F.sequence(F.lit(0), F.lit(side * side - 1)),
        lambda i: F.conv(
            F.substring(hx, F.lit(hdr_len * 2 + 1) + i * 2, 2), 16, 10
        ).cast("long"),
    )
    return out.select(
        "id",
        "frame_idx",
        F.length("frame").cast("long").alias("frame_len"),
        F.aggregate(pix, F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "sum_pixels"
        ),
        F.md5(
            F.encode(
                F.concat_ws(",", F.transform(pix, lambda v: v.cast("string"))),
                "utf-8",
            )
        ).alias("pixel_digest"),
    )


@register(
    "snapshot_diff_documents",
    oracle="""
    WITH newsnap AS (
      SELECT doc_id,
             CASE WHEN doc_id % 53 = 0 THEN text || ' [edited]' ELSE text END
               AS text,
             lang, source
      FROM documents WHERE doc_id % 97 <> 0
      UNION ALL
      SELECT doc_id + 10000000, text, lang, source
      FROM documents WHERE doc_id % 41 = 0
    ), d AS (
      SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.text IS DISTINCT FROM n.text
                    OR o.lang IS DISTINCT FROM n.lang
                    OR o.source IS DISTINCT FROM n.source THEN 'changed'
             END AS change_type
      FROM documents o FULL OUTER JOIN newsnap n ON o.doc_id = n.doc_id
    )
    SELECT doc_id, change_type FROM d WHERE change_type IS NOT NULL
    """,
)
def snapshot_diff_documents(spark, sf):
    """Corpus snapshot diff (dataset versioning for incremental
    pipelines, operators/snapshot.py): a simulated next snapshot —
    doc_id % 97 rows dropped, % 53 texts edited, % 41 re-added under
    shifted ids — diffed against the original via null-sentinel content
    digests and one full outer key join; output is delta-sized.  The
    oracle recomputes the classification with a plain FULL OUTER JOIN
    and IS DISTINCT FROM column compares — digest-free, so it also
    cross-checks that the md5 digest introduces no false (in)equality."""
    from .operators.snapshot import snapshot_diff

    d = load_table(spark, sf, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    new = (
        d.filter(F.col("doc_id") % 97 != 0)
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 53 == 0, F.concat("text", F.lit(" [edited]"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            d.filter(F.col("doc_id") % 41 == 0).withColumn(
                "doc_id", F.col("doc_id") + 10000000
            )
        )
    )
    return snapshot_diff(d, new, ["doc_id"], ["text", "lang", "source"])


@register(
    "sketch_distinct_tokens",
    oracle="""
    WITH tk AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE trim(COALESCE(text, '')) <> ''
    )
    SELECT source,
           CAST(COUNT(DISTINCT t) AS BIGINT) AS n_exact,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           TRUE AS merge_within_1pct,
           TRUE AS est_within_5pct
    FROM tk GROUP BY source
    """,
)
def sketch_distinct_tokens(spark, sf):
    """Mergeable HLL distinct sketches (operators/sketches.py) over
    per-source token vocabularies.  The exact distinct count and token
    count are hash-matched against DuckDB; the sketch itself is
    verified IN THE ENGINE through the two properties that make it a
    100 TB tool, emitted as oracle-gated booleans: (a) merge_within_1pct
    — union of per-half sketches agrees with one whole-corpus sketch to
    1% of the estimate (the merge is register-lossless; the union
    estimator may differ from single-pass HIP by a fraction of the
    error envelope — sketches.py module docstring), (b) est_within_5pct
    — the estimate lands inside the documented HLL error envelope of
    the exact count.  A broken sketch flips a boolean and fails the
    hash gate."""
    from .operators.hashing import ws_tokens
    from .operators.sketches import (
        distinct_sketch,
        estimate_distinct,
        merge_distinct_sketches,
    )

    toks = (
        load_table(spark, sf, "documents")
        .select("doc_id", "source", F.explode(ws_tokens(F.col("text"))).alias("t"))
    )
    whole = estimate_distinct(
        distinct_sketch(toks, "t", ["source"]), ["source"]
    ).select(
        "source",
        F.col("n_distinct").alias("est_whole"),
        F.col("n_rows").alias("n_tokens"),
    )
    halves = merge_distinct_sketches(
        distinct_sketch(toks.filter(F.col("doc_id") % 2 == 0), "t", ["source"]),
        distinct_sketch(toks.filter(F.col("doc_id") % 2 == 1), "t", ["source"]),
        by_cols=["source"],
    )
    merged = estimate_distinct(halves, ["source"]).select(
        "source", F.col("n_distinct").alias("est_merged")
    )
    exact = toks.groupBy("source").agg(
        F.countDistinct("t").alias("n_exact")
    )
    return (
        exact.join(whole, "source")
        .join(merged, "source")
        .select(
            "source",
            "n_exact",
            "n_tokens",
            (
                F.abs(F.col("est_merged") - F.col("est_whole"))
                <= 0.01 * F.col("est_whole")
            ).alias("merge_within_1pct"),
            (
                F.abs(F.col("est_whole") - F.col("n_exact"))
                / F.col("n_exact")
                <= 0.05
            ).alias("est_within_5pct"),
        )
    )


@register(
    "sequence_id_generation",
    oracle="""
    SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT) AS seq_id,
           doc_id
    FROM documents WHERE doc_id < 100
    """,
)
def sequence_id_generation(spark, sf):
    """Sequence / id generation (reference CREATE SEQUENCE + nextval,
    main.cpp:55-56) — deterministic row_number over a total order,
    computed with the two-pass shard-offset pattern (operators/prefix.py)
    instead of a single-partition global window."""
    from .operators.prefix import default_n_shards, global_row_number

    d = load_table(spark, sf, "documents").filter("doc_id < 100")
    out = global_row_number(d, "doc_id", default_n_shards(d), out_col="seq_id")
    return out.select(F.col("seq_id").cast("long"), "doc_id")


@register(
    "triple_factorized_join_grouped",
    oracle=triple_entries_sql(
        "(SELECT * FROM lineitem JOIN orders ON l_orderkey = o_orderkey)",
        ["l_quantity", "CAST(month(o_orderdate) AS DOUBLE)"],
        ["l_linenumber"],
        group_by=["l_returnflag"],
    ),
)
def triple_factorized_join_grouped(spark, sf):
    """Factorized cofactor with a GROUP BY above the join (the reference's
    grouped README pattern, generalized to group != join key)."""
    li = _li(spark, sf)
    o = (
        load_table(spark, sf, "orders")
        .withColumn("o_month", F.month("o_orderdate").cast("double"))
        .withColumnRenamed("o_orderkey", "l_orderkey")
        .select("l_orderkey", "o_month")
    )
    return triple_over_join(
        li, o, on="l_orderkey",
        num1=["l_quantity"], cat1=["l_linenumber"],
        num2=["o_month"], cat2=[],
        group_by=["l_returnflag"],
        unique_right=True,  # orders PK: one join plus one cofactor scan
        flat_entries=True,  # flat output row — no nested assembly
    )


@register(
    "cross_join_triples",
    oracle=triple_entries_sql(
        "(SELECT l.l_quantity, n.n_nationkey FROM "
        "(SELECT l_quantity FROM lineitem WHERE l_linenumber = 1) l, "
        "(SELECT n_nationkey FROM nation) n)",
        ["l_quantity"],
        ["n_nationkey"],
    ),
)
def cross_join_triples(spark, sf):
    """Cross-join factorized form (reference test_mul.py INNER JOIN ON
    TRUE): A ⊗ B of two full-table triples == the cofactor over the
    cartesian product — computed WITHOUT materializing it."""
    li = _li(spark, sf).filter("l_linenumber = 1")
    n = load_table(spark, sf, "nation")
    a = sum_to_triple(li, ["l_quantity"], [], result_col="A")
    b = sum_to_triple(n, [], ["n_nationkey"], result_col="B")
    from .operators.multiply import multiply_triples

    # both sides are 1-row triples; the broadcast hint keeps the plan a
    # deterministic BroadcastNestedLoopJoin under the measured-sizes
    # posture (an unhinted crossJoin plans CartesianProduct statically)
    prod = a.crossJoin(F.broadcast(b)).select(
        multiply_triples(F.col("A"), F.col("B"), (1, 0), (0, 1)).alias("triple")
    )
    return flatten_triple(prod, 1, 1)


_WIDE_NUM_SQL = [
    "l_quantity",
    "ROUND(l_discount*100)",
    "ROUND(l_tax*100)",
    "CAST(day(l_shipdate) AS DOUBLE)",
    "CAST(month(l_shipdate) AS DOUBLE)",
    "CAST(quarter(l_shipdate) AS DOUBLE)",
    "CAST(dayofyear(l_shipdate) AS DOUBLE)",
    "CAST(year(l_shipdate) - 1995 AS DOUBLE)",
]
_WIDE_CAT_SQL = [
    "l_linenumber",
    "CAST(year(l_shipdate) AS INT)",
    "CAST(month(l_shipdate) AS INT)",
    "CAST(quarter(l_shipdate) AS INT)",
]


@register(
    "triple_lineitem_wide",
    oracle=triple_entries_sql(
        "lineitem", _WIDE_NUM_SQL, _WIDE_CAT_SQL, group_by=["l_returnflag"]
    ),
)
def triple_lineitem_wide(spark, sf):
    """Column-scalability shape (the reference's column_scalability.h
    experiment): 8 continuous x 4 categorical grouped cofactor —
    44 dense sums + 4 maps + 32 num-cat maps + 10 pair maps."""
    li = (
        _li(spark, sf)
        .withColumn("disc_c", F.round(F.col("l_discount") * 100).cast("double"))
        .withColumn("tax_c", F.round(F.col("l_tax") * 100).cast("double"))
        .withColumn("d_day", F.dayofmonth("l_shipdate").cast("double"))
        .withColumn("d_month", F.month("l_shipdate").cast("double"))
        .withColumn("d_quarter", F.quarter("l_shipdate").cast("double"))
        .withColumn("d_doy", F.dayofyear("l_shipdate").cast("double"))
        .withColumn("d_yr", (F.year("l_shipdate") - 1995).cast("double"))
        .withColumn("c_ln", F.col("l_linenumber"))
        .withColumn("c_year", F.year("l_shipdate"))
        .withColumn("c_month", F.month("l_shipdate"))
        .withColumn("c_quarter", F.quarter("l_shipdate"))
    )
    return triple_entries(
        li,
        ["l_quantity", "disc_c", "tax_c", "d_day", "d_month", "d_quarter", "d_doy", "d_yr"],
        ["c_ln", "c_year", "c_month", "c_quarter"],
        group_by=["l_returnflag"],
    )


_SHARED_SQL_Q = """
SELECT l_returnflag,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c,
       CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_quantity < 30
GROUP BY l_returnflag
"""


@register("sql_passthrough_shared_dialect", oracle=_SHARED_SQL_Q)
def sql_passthrough_shared_dialect(spark, sf):
    """The SAME SQL text executed by spark.sql and by the DuckDB oracle —
    the engine's SQL entry point is dialect-compatible for the shared
    ANSI core the reference's generated queries use."""
    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SHARED_SQL_Q)


_SUBQ_SQL = """
SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_c
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity >= 49)
  AND o_orderkey NOT IN (SELECT l_orderkey FROM lineitem WHERE l_tax > 0.07)
"""


@register("correlated_subqueries_orders", oracle=_SUBQ_SQL)
def correlated_subqueries_orders(spark, sf):
    """Scalar subquery + correlated EXISTS + NOT IN in one statement —
    the SAME SQL text on both engines (Catalyst rewrites the EXISTS to a
    semi join and the NOT IN to a null-aware anti join; .explain shows no
    per-row subquery execution)."""
    load_table(spark, sf, "orders").createOrReplaceTempView("orders")
    load_table(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SUBQ_SQL)


@register(
    "rollup_lineitem",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem(spark, sf):
    """Hierarchical ROLLUP aggregation (beyond the reference's surface —
    Spark gives grouping sets natively; NULL grouping markers normalized
    so both engines emit identical rows)."""
    return (
        _li(spark, sf)
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_qty",
            "n",
        )
    )


@register(
    "pivot_order_status",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_order_status(spark, sf):
    """PIVOT: order counts cross-tabulated priority × status.  Spark's
    native pivot with explicit values (no extra distinct pass); the
    oracle uses the equivalent conditional aggregation, which is also the
    scale-safe form PIVOT compiles to."""
    return (
        load_table(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("f"),
            F.coalesce("O", F.lit(0)).alias("o"),
            F.coalesce("P", F.lit(0)).alias("p"),
        )
    )


@register(
    "unpivot_lineitem_charges",
    oracle="""
    SELECT l_returnflag, kind, CAST(SUM(v) AS BIGINT) AS total_c
    FROM (
      SELECT l_returnflag, 'price' AS kind, ROUND(l_extendedprice * 100) AS v FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'disc', ROUND(l_discount * 100) FROM lineitem
      UNION ALL
      SELECT l_returnflag, 'tax', ROUND(l_tax * 100) FROM lineitem
    ) GROUP BY l_returnflag, kind
    """,
)
def unpivot_lineitem_charges(spark, sf):
    """UNPIVOT (melt): wide charge columns → long (kind, value) rows,
    aggregated per returnflag — Spark's native unpivot, one scan."""
    li = _li(spark, sf).select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).alias("price"),
        F.round(F.col("l_discount") * 100).alias("disc"),
        F.round(F.col("l_tax") * 100).alias("tax"),
    )
    return (
        li.unpivot("l_returnflag", ["price", "disc", "tax"], "kind", "v")
        .groupBy("l_returnflag", "kind")
        .agg(F.sum("v").cast("long").alias("total_c"))
    )


@register(
    "cube_lineitem",
    oracle="""
    SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
           COALESCE(l_linestatus, '<all>') AS linestatus,
           CAST(SUM(ROUND(l_extendedprice * 100)) AS BIGINT) AS sum_price_c,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_lineitem(spark, sf):
    """Full CUBE grouping sets (all four combinations) — completes the
    grouping-sets family next to ROLLUP."""
    return (
        _li(spark, sf)
        .cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100)).cast("long").alias("sum_price_c"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("linestatus"),
            "sum_price_c",
            "n",
        )
    )


@register(
    "intersect_except_parts",
    oracle="""
    SELECT 'both' AS src, p_type FROM (
      SELECT p_type FROM part WHERE p_size > 30
      INTERSECT
      SELECT p_type FROM part WHERE p_retailprice > 1500
    )
    UNION ALL
    SELECT 'large_only' AS src, p_type FROM (
      SELECT p_type FROM part WHERE p_size > 30
      EXCEPT
      SELECT p_type FROM part WHERE p_retailprice > 1500
    )
    """,
)
def intersect_except_parts(spark, sf):
    """INTERSECT / EXCEPT set operators (distinct semantics on both
    engines), tagged and unioned into one result."""
    p = load_table(spark, sf, "part")
    large = p.filter("p_size > 30").select("p_type")
    pricey = p.filter("p_retailprice > 1500").select("p_type")
    both = large.intersect(pricey).select(F.lit("both").alias("src"), "p_type")
    # subtract = distinct EXCEPT (a row present on BOTH sides is excluded
    # regardless of multiplicities) — exceptAll().distinct() is bag
    # difference then distinct, which WRONGLY keeps a value whose left
    # multiplicity exceeds its right multiplicity
    only = large.subtract(pricey).select(
        F.lit("large_only").alias("src"), "p_type"
    )
    return both.unionAll(only)


@register(
    "string_functions_parts",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS up,
           lower(p_type) AS lo,
           substr(p_name, 1, 8) AS pre,
           replace(p_type, ' ', '_') AS rep,
           CAST(length(p_name) AS INT) AS len,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS padded,
           reverse(p_brand) AS rev,
           split_part(p_type, ' ', 2) AS midword,
           CAST(levenshtein(p_brand, p_name) AS INT) AS lev
    FROM part WHERE p_partkey < 500
    """,
)
def string_functions_parts(spark, sf):
    """String-function surface shared by both dialects: case mapping,
    substring, replace, length, padding, reverse, split_part and
    Levenshtein distance."""
    return (
        load_table(spark, sf, "part")
        .filter("p_partkey < 500")
        .select(
            "p_partkey",
            F.upper("p_brand").alias("up"),
            F.lower("p_type").alias("lo"),
            F.substring("p_name", 1, 8).alias("pre"),
            F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("rep"),
            F.length("p_name").alias("len"),
            F.lpad(F.col("p_size").cast("string"), 4, "0").alias("padded"),
            F.reverse("p_brand").alias("rev"),
            F.split_part(F.col("p_type"), F.lit(" "), F.lit(2)).alias("midword"),
            F.levenshtein("p_brand", "p_name").alias("lev"),
        )
    )


@register(
    "percentile_quantities",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS q25,
           quantile_cont(l_quantity, 0.5) AS q50,
           quantile_cont(l_quantity, 0.75) AS q75,
           CAST(quantile_disc(l_quantity, 0.9) AS DOUBLE) AS q90_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_quantities(spark, sf):
    """Exact percentiles (continuous interpolation + discrete) per group —
    integer-valued input keeps the interpolated doubles identical across
    engines."""
    return (
        _li(spark, sf)
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", F.lit(0.25)).alias("q25"),
            F.percentile("l_quantity", F.lit(0.5)).alias("q50"),
            F.percentile("l_quantity", F.lit(0.75)).alias("q75"),
            F.expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)")
            .cast("double")
            .alias("q90_disc"),
        )
    )


# Shared feature projections for the ML train+predict queries: {src} is
# either the driver-registered view name (predict oracle) or a
# read_parquet() call (oracle-side training).  Features are
# integer-valued so both engines' triple sums are bit-exact.
_LDA_REL = (
    "(SELECT l_quantity AS q, CAST(ROUND(l_discount*100) AS DOUBLE) AS disc, "
    "CAST(ROUND(l_tax*100) AS DOUBLE) AS tax, l_linenumber AS ln FROM {src})"
)
_NB_REL = (
    "(SELECT CAST(month(o_orderdate) AS DOUBLE) AS m, "
    "CAST(day(o_orderdate) AS DOUBLE) AS d, ascii(o_orderpriority) AS prio, "
    "ascii(o_orderstatus) AS status FROM {src})"
)


def _pq(sf_dir: str, table: str) -> str:
    # Spark-written tables are DIRECTORIES of part files; DuckDB needs a
    # glob for those, a plain path for single-file testdata
    import os

    path = f"{sf_dir}/{table}.parquet"
    if os.path.isdir(path):
        return f"read_parquet('{path}/*.parquet')"
    return f"read_parquet('{path}')"


def _hist_sql(pred_sql: str, rel_view: str) -> str:
    return (
        f"SELECT pred, COUNT(*) AS n FROM "
        f"(SELECT {pred_sql} AS pred FROM {rel_view}) GROUP BY pred"
    )


def _class_triples(df, num_cols, cat_cols, label, nb=False):
    """One triple per class of ``label``: one ``triple_entries`` scan
    grouped by the label, each class's entries folded on the driver.
    Classes ascend, as in ``sql_twin.class_triples_duckdb``, so train
    order (and argmax tie-breaking) matches the oracle's."""
    by_class = {}
    for r in triple_entries(df, num_cols, cat_cols, group_by=[label], nb=nb).collect():
        by_class.setdefault(r[label], []).append(r)
    labels = sorted(by_class)
    d, c = len(num_cols), len(cat_cols)
    return labels, [Triple.from_entries(by_class[lv], d, c, nb=nb) for lv in labels]


@register("lda_train_predict_histogram")
def lda_train_predict_histogram(spark, sf):
    """Full LDA train+predict loop in-catalog: cofactor → driver train →
    Column-expr argmax scoring; output = predicted-class histogram.
    Hash-gated: the oracle factory retrains the same model from
    DuckDB-computed triples and bakes the (bit-identical) coefficients
    into generated SQL — the reference's own oracle pattern
    (imputation_low.cpp:125-136)."""
    from .ml.lda import lda_train

    li = _li(spark, sf).select(
        F.col("l_quantity").alias("q"),
        F.round(F.col("l_discount") * 100).cast("double").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("double").alias("tax"),
        F.col("l_linenumber").alias("ln"),
    )
    t = Triple.from_entries(triple_entries(li, ["q", "disc", "tax"], ["ln"]).collect(), 3, 1)
    model = lda_train(t, label=0)
    return (
        li.withColumn("pred", model.predict_expr(["q", "disc", "tax"], []))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _lda_hist_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml import sql_twin as _tw
    from .ml.lda import lda_train

    con = duckdb.connect()
    t = _tw.full_triple_duckdb(
        con, _LDA_REL.format(src=_pq(sf_dir, "lineitem")), ["q", "disc", "tax"], ["ln"]
    )
    model = lda_train(t, label=0)
    pred = _tw.lda_predict_sql(model, ["q", "disc", "tax"])
    return _hist_sql(pred, _LDA_REL.format(src="lineitem"))


ORACLE_FACTORIES["lda_train_predict_histogram"] = _lda_hist_oracle


@register("nb_train_predict_histogram")
def nb_train_predict_histogram(spark, sf):
    """Gaussian+categorical NB: per-class NB aggregates via GROUP BY label
    → driver train → log-space Column-expr scoring.  Hash-gated via the
    baked-coefficient oracle factory (class rows sorted by label so
    argmax tie-breaking matches the oracle's class order)."""
    from .ml.nb import nb_train

    o = load_table(spark, sf, "orders").select(
        F.month("o_orderdate").cast("double").alias("m"),
        F.dayofmonth("o_orderdate").cast("double").alias("d"),
        F.ascii("o_orderpriority").alias("prio"),
        F.ascii("o_orderstatus").alias("status"),
    )
    labels, triples = _class_triples(o, ["m", "d"], ["prio"], "status", nb=True)
    model = nb_train(triples, labels=labels)
    return (
        o.withColumn("pred", model.predict_expr(["m", "d"], ["prio"]))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _nb_hist_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml import sql_twin as _tw
    from .ml.nb import nb_train

    con = duckdb.connect()
    labels, triples = _tw.class_triples_duckdb(
        con, _NB_REL.format(src=_pq(sf_dir, "orders")), ["m", "d"], ["prio"],
        "status", nb=True,
    )
    model = nb_train(triples, labels=labels)
    pred = _tw.nb_predict_sql(model, ["m", "d"], ["prio"])
    return _hist_sql(pred, _NB_REL.format(src="orders"))


ORACLE_FACTORIES["nb_train_predict_histogram"] = _nb_hist_oracle


@register("qda_train_predict_histogram")
def qda_train_predict_histogram(spark, sf):
    """Full QDA flow matching the reference's README.md:179 usage:
    per-class cofactors via GROUP BY label (list(agg) per class →
    qda_train, qda.cpp:27-328), driver-side SVD train, per-row quadratic
    scoring (qda.cpp:338-498), predicted-class histogram.

    Scoring uses the shared-dialect SQL form (ml/sql_twin.qda_predict_sql)
    via ``F.expr`` on BOTH engines so the quadratic-form accumulation
    order is identical — the pandas-UDF scorer (qda_predict_expr) is the
    generic API but its einsum order is not specified cross-platform;
    tests assert both scorers agree."""
    from .ml.qda import qda_train
    from .ml.sql_twin import qda_predict_sql

    li = _li(spark, sf).select(
        F.col("l_quantity").alias("q"),
        F.round(F.col("l_discount") * 100).cast("double").alias("disc"),
        F.round(F.col("l_tax") * 100).cast("double").alias("tax"),
        F.col("l_linenumber").alias("ln"),
    )
    labels, triples = _class_triples(li, ["q", "disc", "tax"], [], "ln")
    model = qda_train(triples, labels=labels)
    pred = qda_predict_sql(model, ["q", "disc", "tax"])
    return (
        li.withColumn("pred", F.expr(pred))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _qda_hist_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml import sql_twin as _tw
    from .ml.qda import qda_train

    con = duckdb.connect()
    labels, triples = _tw.class_triples_duckdb(
        con, _LDA_REL.format(src=_pq(sf_dir, "lineitem")), ["q", "disc", "tax"],
        [], "ln",
    )
    model = qda_train(triples, labels=labels)
    pred = _tw.qda_predict_sql(model, ["q", "disc", "tax"])
    return _hist_sql(pred, _LDA_REL.format(src="lineitem"))


ORACLE_FACTORIES["qda_train_predict_histogram"] = _qda_hist_oracle


# documents-table NB relation: integer-valued features (char count,
# whitespace token count — bit-exact triple sums), source id as the
# categorical feature, language (2nd char: n/e/h/r/s — the 1st collides
# on en/es) as the class label
_DOCNB_REL = (
    "(SELECT CAST(n_chars AS DOUBLE) AS nc, "
    "CAST({tc} AS DOUBLE) AS tc, "
    "CAST(substr(source, 4) AS INT) AS src, "
    "ascii(substr(lang, 2, 1)) AS lg FROM {{src}})"
)


@register("doc_quality_nb_histogram")
def doc_quality_nb_histogram(spark, sf):
    """The reference's in-database ML applied to the LLM-pipeline tables:
    Gaussian+categorical NB trained from per-class ring aggregates
    (GROUP BY language) over document features — char count, token
    count, source id — then per-document language prediction, output as
    a histogram.  Same train/predict machinery as
    nb_train_predict_histogram (nb entries per class → nb_train →
    log-space Column scoring); the oracle factory retrains from
    DuckDB-computed class triples and bakes the coefficients."""
    from .ml.nb import nb_train

    d = load_table(spark, sf, "documents").select(
        F.col("n_chars").cast("double").alias("nc"),
        _ts.token_count_ws(F.col("text")).cast("double").alias("tc"),
        F.substring("source", 4, 10).cast("int").alias("src"),
        F.ascii(F.substring("lang", 2, 1)).alias("lg"),
    )
    labels, triples = _class_triples(d, ["nc", "tc"], ["src"], "lg", nb=True)
    model = nb_train(triples, labels=labels)
    return (
        d.withColumn("pred", model.predict_expr(["nc", "tc"], ["src"]))
        .groupBy("pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _doc_nb_hist_oracle(sf_dir: str) -> str:
    import duckdb

    from .ml import sql_twin as _tw
    from .ml.nb import nb_train

    rel = _DOCNB_REL.format(tc=_ts.token_count_ws_sql("text"))
    con = duckdb.connect()
    labels, triples = _tw.class_triples_duckdb(
        con, rel.format(src=_pq(sf_dir, "documents")), ["nc", "tc"], ["src"],
        "lg", nb=True,
    )
    model = nb_train(triples, labels=labels)
    pred = _tw.nb_predict_sql(model, ["nc", "tc"], ["src"])
    return _hist_sql(pred, rel.format(src="documents"))


ORACLE_FACTORIES["doc_quality_nb_histogram"] = _doc_nb_hist_oracle


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, date_trunc('second', ts) AS ts FROM events
    ), v AS (SELECT user_id, MIN(ts) AS t_view FROM ev
             WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT ev.user_id, MIN(ev.ts) AS t_click
          FROM ev JOIN v ON ev.user_id = v.user_id
          WHERE event_type = 'click' AND ev.ts >= v.t_view GROUP BY ev.user_id),
    p AS (SELECT ev.user_id, MIN(ev.ts) AS t_purchase
          FROM ev JOIN c ON ev.user_id = c.user_id
          WHERE event_type = 'purchase' AND ev.ts >= c.t_click GROUP BY ev.user_id)
    SELECT 'view' AS stage, CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'click' AS stage, CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_users
    UNION ALL
    SELECT 'purchase' AS stage, CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_users
    """,
)
def funnel_view_click_purchase(spark, sf):
    """Ordered funnel analysis over the event stream: users who viewed,
    then clicked at-or-after their first view, then purchased
    at-or-after that first qualifying click — per-stage user counts
    (the standard product-analytics conversion funnel).  Three
    map-side-combined min-aggregations chained by user-id joins; no
    window over the full stream."""
    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", F.date_trunc("second", "ts").alias("ts")
    )
    v = (
        ev.filter("event_type = 'view'")
        .groupBy("user_id").agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter("event_type = 'click'")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id").agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter("event_type = 'purchase'")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id").agg(F.min("ts").alias("t_purchase"))
    )
    spark_counts = [
        v.agg(F.count(F.lit(1)).cast("long").alias("n_users")).withColumn("stage", F.lit("view")),
        c.agg(F.count(F.lit(1)).cast("long").alias("n_users")).withColumn("stage", F.lit("click")),
        p.agg(F.count(F.lit(1)).cast("long").alias("n_users")).withColumn("stage", F.lit("purchase")),
    ]
    out = spark_counts[0]
    for s in spark_counts[1:]:
        out = out.unionAll(s)
    return out.select("stage", "n_users")


@register(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_minhash_pairs_ctes(_COMPONENTS_UNION)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver
    ), reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, re.r FROM sym s JOIN reach re ON re.id = s.dst
    ), comp AS (
      SELECT id, MIN(r) AS canonical FROM reach GROUP BY id
    ), sizes AS (
      SELECT canonical, COUNT(*) AS cluster_size FROM comp GROUP BY canonical
    )
    SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
    FROM sizes GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark, sf):
    """Duplicate-cluster size histogram (the dedup audit artifact: how
    much of the corpus sits in how-large duplicate families) from the
    transitive components of verified MinHash pairs — same input as
    dedup_components_transitive, aggregated to (cluster_size,
    n_clusters)."""
    d = load_table(spark, sf, "documents").filter("doc_id < 40").select("doc_id", "text")
    l1 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    l2 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword extrasecond")).alias("text"),
    )
    pairs = _dd.minhash_lsh_pairs(
        d.unionAll(l1).unionAll(l2), "text", "doc_id",
        k=16, bands=4, shingle=5, threshold=0.5,
    )
    comp = _dd.dedup_components(pairs)
    return (
        comp.groupBy("canonical")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    )


_SESSIONIZE_ORACLE = """
    WITH trunc AS (
      SELECT user_id, date_trunc('second', ts) AS ts,
             CAST(ROUND(value * 100) AS BIGINT) AS value_c
      FROM events
    ), marked AS (
      SELECT user_id, ts, value_c,
             CASE WHEN epoch(ts) - epoch(lag(ts, 1, TIMESTAMP '1970-01-01')
                  OVER (PARTITION BY user_id ORDER BY ts)) > 600
                  THEN 1 ELSE 0 END AS new_s
      FROM trunc
    ), sess AS (
      SELECT user_id, ts, value_c,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS INT) AS n_events,
           CAST(SUM(value_c) AS BIGINT) AS sum_value_c
    FROM sess GROUP BY user_id, sid
"""


@register("sessionize_events", oracle=_SESSIONIZE_ORACLE)
def sessionize_events(spark, sf):
    """Gap-based sessionization of the events stream table (batch form of
    the stateful streaming operator; 10-minute inactivity gap).  Values
    in cents and second-truncated timestamps keep both engines exact."""
    from .streaming.sessionize import sessionize_batch

    ev = load_table(spark, sf, "events").select(
        F.date_trunc("second", "ts").alias("ts"),
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    out = sessionize_batch(ev, gap_seconds=600, value_col="value_c")
    return out.select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        F.col("sum_value").cast("long").alias("sum_value_c"),
    )


@register("streaming_sessionize_events", oracle=_SESSIONIZE_ORACLE)
def streaming_sessionize_events(spark, sf):
    """The LIVE sessionizer end to end (streaming/sessionize.py
    sessionize_stream on applyInPandasWithState, EventTimeTimeout):
    the event stream replays under availableNow with ONE sentinel row
    (user_id −1) a day past the data's horizon — the sentinel advances
    the final watermark past every real session's timeout, and Spark's
    no-data micro-batch then fires the timed-out state, so every real
    session flushes to the append sink (the sentinel's own session
    stays open and is filtered with its user).  State per user is one
    open session (four scalars), O(active users) never O(events).  The
    closed-session set must equal the batch gap-sessionization row for
    row — the SAME oracle as `sessionize_events` verifies both."""
    import os
    import shutil
    import tempfile

    from .streaming.sessionize import sessionize_stream

    ev = load_table(spark, sf, "events").select(
        F.date_trunc("second", "ts").alias("ts"),
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel = spark.createDataFrame(
        [(max_ts, -1, 0)], "ts timestamp, user_id long, value_c long"
    ).select(
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
        "user_id",
        "value_c",
    )
    src_df = ev.unionByName(sentinel)
    tmp = tempfile.mkdtemp(prefix="sessionize_stream_row_")
    outdir = f"{_session_scratch('sessionize_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        src_df.coalesce(1).write.parquet(f"{tmp}/h0")
        part = [
            f for f in os.listdir(f"{tmp}/h0") if f.endswith(".parquet")
        ][0]
        shutil.copy(f"{tmp}/h0/{part}", f"{src}/all.parquet")
        stream = spark.readStream.schema(src_df.schema).parquet(src)
        q = (
            sessionize_stream(
                stream,
                gap_seconds=600,
                value_col="value_c",
                watermark="10 minutes",
            )
            .writeStream.format("parquet")
            .option("path", outdir)
            .option("checkpointLocation", f"{tmp}/cp")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.read.parquet(outdir).where(F.col("user_id") >= 0)
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            F.col("sum_value").cast("long").alias("sum_value_c"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "brand_revenue",
    oracle="""
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
                    * CAST(100 - ROUND(l_discount*100) AS BIGINT)) AS BIGINT) AS revenue_c,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(MAX(p_retailprice) AS DOUBLE) AS max_retail
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def brand_revenue(spark, sf):
    """lineitem ⋈ part revenue by brand (broadcast dim join; completes
    catalog coverage of every testdata table)."""
    li = _li(spark, sf)
    p = load_table(spark, sf, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(
                _cents("l_extendedprice")
                * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
            ).alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
            F.max("p_retailprice").cast("double").alias("max_retail"),
        )
    )


@register(
    "rolling_customer_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS rolling_spend_c,
           CAST(COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS window_n
    FROM orders
    """,
)
def rolling_customer_spend(spark, sf):
    """Rolling 3-order spend per customer — window frames (ROWS BETWEEN)
    with a deterministic total order."""
    o = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .over(w)
        .alias("rolling_spend_c"),
        F.count(F.lit(1)).over(w).alias("window_n"),
    )


@register(
    "asof_join_click_to_view",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, date_trunc('second', ts) AS ts
      FROM events WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, date_trunc('second', ts) AS vts,
             CAST(ROUND(value*100) AS BIGINT) AS view_value_c
      FROM events WHERE event_type = 'view'
    )
    SELECT c.event_id,
           strftime(v.vts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           v.view_value_c
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND v.vts <= c.ts
    """,
)
def asof_join_click_to_view(spark, sf):
    """As-of join (union-marker + window, one shuffle): each click matched
    to the user's latest preceding view; DuckDB's native ASOF JOIN is the
    oracle."""
    from .operators.asof import as_of_join

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", "ts").alias("ts"),
        F.round(F.col("value") * 100).cast("long").alias("value_c"),
    )
    clicks = ev.filter("event_type = 'click'").select("event_id", "user_id", "ts")
    views = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("ts").alias("vts"),
        F.col("value_c").alias("view_value_c"),
    )
    out = as_of_join(clicks, views, on="user_id", left_ts="ts", right_ts="vts")
    return out.select(
        "event_id",
        F.date_format("vts_matched", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        "view_value_c",
    )


@register(
    "range_join_click_view_window",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS cts
      FROM events WHERE event_type = 'click'
    ), views AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS vlo,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 3600 AS vhi,
             event_id AS view_id
      FROM events WHERE event_type = 'view'
    )
    SELECT c.event_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           MIN(v.view_id) AS first_view_id
    FROM clicks c JOIN views v
      ON c.user_id = v.user_id AND c.cts BETWEEN v.vlo AND v.vhi
    GROUP BY c.event_id
    """,
)
def range_join_click_view_window(spark, sf):
    """Range/interval-containment join (DuckDB IEJoin surface, SURVEY
    §2.3) as a bucketed EQUI-join: clicks matched to every view whose
    1-hour window contains them.  The naive Spark formulation is a
    nested-loop theta join; operators/rangejoin.py restores the
    shuffle-join path (explode intervals to covered buckets, equi-join
    on (user_id, bucket), exact residual BETWEEN filter — each pair
    surfaces exactly once, no dedup)."""
    from .operators.rangejoin import range_join

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts").cast("timestamp"))
        .cast("long")
        .alias("ets"),
    )
    clicks = ev.filter("event_type = 'click'").select(
        "event_id", "user_id", F.col("ets").alias("cts")
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("ets").alias("vlo"),
        (F.col("ets") + 3600).alias("vhi"),
        F.col("event_id").alias("view_id"),
    )
    out = range_join(
        clicks, views, "cts", "vlo", "vhi", on="user_id", bucket_width=3600.0
    )
    return out.groupBy("event_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.min("view_id").alias("first_view_id"),
    )


# --------------------------------------------------------------------- #
# BPE subword tokenizer (operators/bpe.py)                               #
# --------------------------------------------------------------------- #

_BPE_NUM_MERGES = 40
_BPE_ORACLE_MERGES: dict[str, list] = {}
_BPE_SPARK_MERGES: dict[str, list] = {}


def _bpe_merges_duckdb(sf_dir: str) -> list:
    """Oracle-side training twin: word frequencies computed by DuckDB
    (engine-independent of the Spark counting pass), merges from the
    shared pure-Python learner — the trained-coefficient-twin pattern
    the ML histogram oracles use."""
    if sf_dir not in _BPE_ORACLE_MERGES:
        import duckdb

        from .operators.bpe import PRETOKEN_RE, learn_merges

        rows = duckdb.sql(
            f"""SELECT word, CAST(count(*) AS BIGINT) AS c FROM (
                  SELECT unnest(regexp_extract_all(lower(text),
                                '{PRETOKEN_RE}')) AS word
                  FROM {_pq(sf_dir, 'documents')})
                GROUP BY word ORDER BY c DESC, word LIMIT 100000"""
        ).fetchall()
        _BPE_ORACLE_MERGES[sf_dir] = learn_merges(
            {w: int(c) for w, c in rows}, _BPE_NUM_MERGES
        )
    return _BPE_ORACLE_MERGES[sf_dir]


def _bpe_merges_spark(spark, sf_dir: str) -> list:
    if sf_dir not in _BPE_SPARK_MERGES:
        from .operators.bpe import bpe_train

        _BPE_SPARK_MERGES[sf_dir] = bpe_train(
            load_table(spark, sf_dir, "documents"), "text", _BPE_NUM_MERGES
        )
    return _BPE_SPARK_MERGES[sf_dir]


def _bpe_encode_oracle(sf_dir: str) -> str:
    from .operators.bpe import bpe_encode_sql_ctes

    ctes = bpe_encode_sql_ctes(
        "text", "documents", "doc_id", _bpe_merges_duckdb(sf_dir)
    )
    return f"""
    WITH {ctes}
    SELECT id AS doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           md5(array_to_string(toks, ' ')) AS toks_md5
    FROM bpe_enc
    """


@register("bpe_encode_documents")
def bpe_encode_documents(spark, sf):
    """BPE-encode the corpus with merges learned from it (train: one
    word-count shuffle + driver loop over the bounded frequency table;
    encode: Arrow-batched pandas UDF with a per-worker word memo).  The
    oracle re-trains from DuckDB's own word counts and re-encodes with
    a chunked replace-chain CTE — both engines must agree on every
    document's token count and exact token stream (md5)."""
    from .operators.bpe import bpe_encode

    d = load_table(spark, sf, "documents")
    out = bpe_encode(d, "text", _bpe_merges_spark(spark, sf))
    return out.select(
        "doc_id",
        F.size("bpe_tokens").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "bpe_tokens")).alias("toks_md5"),
    )


ORACLE_FACTORIES["bpe_encode_documents"] = _bpe_encode_oracle


def _bpe_train_oracle(sf_dir: str) -> str:
    vals = ", ".join(
        f"({i}, '{l}', '{r}')"
        for i, (l, r) in enumerate(_bpe_merges_duckdb(sf_dir))
    )
    return f"""
    SELECT CAST(r AS INTEGER) AS merge_rank, l AS lhs, rr AS rhs
    FROM (VALUES {vals}) AS t(r, l, rr)
    """


@register("bpe_train_merges")
def bpe_train_merges(spark, sf):
    """The learned merge table itself.  The oracle's VALUES literal is
    trained from DUCKDB word counts, so the row verifies that the
    distributed frequency pass matches DuckDB's exactly and that merge
    learning is deterministic; the learner code is shared (the encode
    row above is the cross-engine check of the full algorithm)."""
    from .operators.bpe import bpe_merge_table

    return bpe_merge_table(spark, _bpe_merges_spark(spark, sf))


ORACLE_FACTORIES["bpe_train_merges"] = _bpe_train_oracle


def _remove_passages_oracle(n: int = 5, min_run: int = 3) -> str:
    from .operators.hashing import md5_int60_sql

    def gsql(col: str) -> str:
        toks = _ws_sql(col)
        return (
            f"CASE WHEN length({toks}) >= {n} THEN "
            f"list_transform(range(1, length({toks}) - {n - 1} + 1), "
            f"i -> array_to_string(({toks})[CAST(i AS INT):CAST(i AS INT) + {n - 1}], ' ')) "
            f"ELSE [array_to_string({toks}, ' ')] END"
        )

    h = md5_int60_sql("g")
    return f"""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 5
    ), grams AS (
      SELECT doc_id, pos, {h} AS h FROM (
        SELECT doc_id,
               unnest(generate_series(1, length(gs))) AS pos,
               unnest(gs) AS g
        FROM (SELECT doc_id, {gsql('text')} AS gs FROM unioned)
      )
    ), shared AS (
      SELECT h FROM (
        SELECT h, COUNT(*) AS c
        FROM (SELECT DISTINCT doc_id, h FROM grams) GROUP BY h
      ) WHERE c >= 2
    ), marked AS (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM grams WHERE h IN (SELECT h FROM shared)
    ), runs AS (
      SELECT doc_id, MIN(pos) AS s, COUNT(*) AS r
      FROM marked GROUP BY doc_id, grp HAVING COUNT(*) >= {min_run}
    ), covered AS (
      SELECT DISTINCT doc_id, unnest(generate_series(s, s + r + {n - 2})) AS tpos
      FROM runs
    ), toks AS (
      SELECT doc_id,
             unnest(generate_series(1, length(t))) AS tpos,
             unnest(t) AS tok
      FROM (SELECT doc_id, {_ws_sql('text')} AS t FROM unioned)
    ), kept AS (
      SELECT t.doc_id, t.tpos, t.tok
      FROM toks t LEFT JOIN covered c
        ON t.doc_id = c.doc_id AND t.tpos = c.tpos
      WHERE c.doc_id IS NULL
    ), reb AS (
      SELECT doc_id,
             string_agg(tok, ' ' ORDER BY tpos) AS clean_text,
             COUNT(*) AS n_kept
      FROM kept GROUP BY doc_id
    ), orig AS (
      SELECT doc_id, length({_ws_sql('text')}) AS ntok FROM unioned
    )
    SELECT o.doc_id,
           md5(COALESCE(reb.clean_text, '')) AS clean_md5,
           CAST(o.ntok - COALESCE(reb.n_kept, 0) AS BIGINT) AS n_removed
    FROM orig o LEFT JOIN reb USING (doc_id)
    """


@register("remove_duplicate_passages_catalog", oracle=_remove_passages_oracle())
def remove_duplicate_passages_catalog(spark, sf):
    """Span-level dedup REMOVAL (dedup.remove_duplicate_passages): the
    same 5-copy corpus as duplicate_passage_flags, but the flagged
    passages are cut and each document rebuilt from surviving tokens;
    the oracle replays run detection, covered-token expansion, anti
    join, and ordered reassembly in SQL — clean text md5-exact."""
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    copies = d.filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    out = _dd.remove_duplicate_passages(
        d.unionAll(copies), "text", "doc_id", n=5, min_run=3
    )
    return out.select(
        "doc_id",
        F.md5("clean_text").alias("clean_md5"),
        "n_removed",
    )


# --------------------------------------------------------------------- #
# PCA over embeddings (operators/pca.py)                                 #
# --------------------------------------------------------------------- #

_PCA_K = 4


def _pca_catalog_model(X_rows):
    """Shared numpy path (single X.T @ X — bit-identical for both
    engines' deterministically-ordered subset)."""
    import numpy as np

    from .operators.pca import pca_np

    X = np.asarray(X_rows, dtype=np.float64)
    return pca_np(len(X), X.sum(0), X.T @ X, _PCA_K)


def _pca_model_duckdb(sf_dir: str):
    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM {_pq(sf_dir, 'embeddings')} "
        "WHERE vec_id % 5 = 0 ORDER BY vec_id"
    ).fetchall()
    return _pca_catalog_model([list(r[0]) for r in rows])


def _pca_project_oracle(sf_dir: str) -> str:
    model = _pca_model_duckdb(sf_dir)
    cols = []
    for j in range(_PCA_K):
        comp = model.components[j]
        clit = "[" + ", ".join(repr(float(c)) for c in comp) + "]"
        shift = repr(float((model.mean * comp).sum()))
        fold = (
            "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(1, length(embedding) + 1), "
            f"i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE) * ({clit})[CAST(i AS INT)])), "
            "(a, b) -> a + b)"
        )
        cols.append(f"ROUND({fold} - {shift}, 6) + 0.0 AS pc{j}")
    return f"SELECT vec_id, {', '.join(cols)} FROM embeddings"


@register("pca_project_embeddings")
def pca_project_embeddings(spark, sf):
    """PCA projection of every embedding onto the top-4 principal
    components (operators/pca.py).  The catalog twin trains on the same
    deterministic sorted subset as the PQ/IVF rows (bit-identical NumPy
    on both engines — the trained-constant convention); the projection
    itself is a sequential JVM fold matching DuckDB's list_reduce order,
    so rounded scores are bit-exact.  The full-corpus EXACT training
    path is gram_stats/pca_train (mapInPandas partial Gram matrices, no
    shuffle) — unit-tested against this numpy twin."""
    from .operators.pca import pca_project

    e = load_table(spark, sf, "embeddings")
    sub = e.filter("vec_id % 5 = 0").orderBy("vec_id").select("embedding").collect()
    model = _pca_catalog_model([list(r[0]) for r in sub])
    return pca_project(e, "embedding", model, round_to=6).select(
        "vec_id", *[f"pc{j}" for j in range(_PCA_K)]
    )


ORACLE_FACTORIES["pca_project_embeddings"] = _pca_project_oracle


def _hash_split_oracle() -> str:
    from .operators.textprep import hash_split_sql

    case = hash_split_sql("doc_id", [("train", 800), ("val", 100), ("test", 100)])
    return f"""
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS min_id
    FROM (SELECT doc_id, {case} AS split FROM documents)
    GROUP BY split
    """


@register("train_val_test_split", oracle=_hash_split_oracle())
def train_val_test_split(spark, sf):
    """Deterministic 80/10/10 corpus split by md5 bucket
    (textprep.hash_split): a document keeps its split across pipeline
    re-runs and re-partitioning, so rebuilt corpora cannot leak val/test
    into train.  The oracle replays the md5 CASE chain in SQL."""
    from .operators.textprep import hash_split

    d = load_table(spark, sf, "documents").select("doc_id")
    out = hash_split(d, "doc_id", [("train", 800), ("val", 100), ("test", 100)])
    return out.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("doc_id").alias("min_id"),
    )


def _leakage_split_oracle() -> str:
    from .operators.textprep import hash_split_sql

    case = hash_split_sql("rep", [("train", 800), ("val", 100), ("test", 100)])
    return f"""
    WITH g AS (
      SELECT doc_id, MIN(doc_id) OVER (
        PARTITION BY CASE WHEN text IS NULL
                          THEN 'id:' || CAST(doc_id AS VARCHAR)
                          ELSE md5(text) END) AS rep
      FROM documents
    )
    SELECT doc_id, CAST(rep AS BIGINT) AS rep, {case} AS split FROM g
    """


@register("leakage_safe_split_documents", oracle=_leakage_split_oracle())
def leakage_safe_split_documents(spark, sf):
    """Near-dup-cluster-aware 80/10/10 split (textprep.
    leakage_safe_split): exact-duplicate documents (same md5 digest)
    form star edges (group-min → member, LINEAR in group size, never a
    clique self-join), connected components key every member on the
    group's min doc_id, and the md5 split CASE runs on that
    representative — so a duplicate can never sit in train while its
    copy sits in eval (a plain per-doc hash split separates a dup pair
    with probability 2p(1-p)).  Docs with no duplicate split exactly
    as `train_val_test_split` does on their own id.  Because exact-dup
    groups ARE cliques, component == group min, so the oracle needs
    only a window MIN over the digest partition — no recursive CTE —
    while the Spark side still runs the real min-label propagation."""
    from .operators.textprep import leakage_safe_split

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    dig = d.select("doc_id", F.md5("text").alias("__dig"))
    rep = dig.groupBy("__dig").agg(F.min("doc_id").alias("__rep"))
    edges = (
        dig.join(rep, "__dig")
        .where(F.col("doc_id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"), F.col("doc_id").alias("id_b")
        )
    )
    out = leakage_safe_split(
        d,
        "doc_id",
        edges,
        [("train", 800), ("val", 100), ("test", 100)],
        rep_col="rep",
    )
    return out.select(
        "doc_id", F.col("rep").cast("long").alias("rep"), "split"
    )


def _leakage_folds_oracle(k: int = 5) -> str:
    from .operators.hashing import md5_int32_sql

    h = md5_int32_sql("'fold' || CAST(rep AS VARCHAR)")
    return f"""
    WITH g AS (
      SELECT doc_id, MIN(doc_id) OVER (
        PARTITION BY CASE WHEN text IS NULL
                          THEN 'id:' || CAST(doc_id AS VARCHAR)
                          ELSE md5(text) END) AS rep
      FROM documents
    )
    SELECT doc_id, CAST(rep AS BIGINT) AS rep,
           CAST({h} % {k} AS INT) AS fold
    FROM g
    """


@register("leakage_safe_folds_documents", oracle=_leakage_folds_oracle())
def leakage_safe_folds_documents(spark, sf):
    """Near-dup-cluster-aware K-FOLD assignment (textprep.
    leakage_safe_folds, k=5) — the cross-validation face of the
    leakage-safe split: exact-duplicate documents (star edges from
    digest groups, linear in group size) land in the SAME fold keyed
    on their component's min doc_id, so no validation fold ever holds
    a near-copy of another fold's training document; folds balance in
    COMPONENTS, not documents (a giant dup cluster weighs one unit —
    the point).  Same component machinery and oracle shape as the
    split row (digest-group window MIN — exact-dup components ARE the
    group min — while Spark runs the real min-label propagation);
    fold = md5 % k, all-integer output."""
    from .operators.textprep import leakage_safe_folds

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    dig = d.select("doc_id", F.md5("text").alias("__dig"))
    rep = dig.groupBy("__dig").agg(F.min("doc_id").alias("__rep"))
    edges = (
        dig.join(rep, "__dig")
        .where(F.col("doc_id") != F.col("__rep"))
        .select(
            F.col("__rep").alias("id_a"), F.col("doc_id").alias("id_b")
        )
    )
    out = leakage_safe_folds(d, "doc_id", edges, k=5, rep_col="rep")
    return out.select(
        "doc_id", F.col("rep").cast("long").alias("rep"), "fold"
    )


_NORM_EXTRA_ROWS = [
    # DECOMPOSED on purpose (combining marks) so NFC actually rewrites
    (10001, "Cafe\u0301  du  Monde"),
    (10002, "A\u030angstro\u0308m"),
    (10003, "tab\tand\x01control\x07chars"),
]


def _normalize_text_oracle() -> str:
    extra = " UNION ALL ".join(
        f"SELECT {i} AS doc_id, 'Cafe' || chr(769) || '  du  Monde' AS text"
        if i == 10001
        else f"SELECT {i}, 'A' || chr(778) || 'ngstro' || chr(776) || 'm'"
        if i == 10002
        else f"SELECT {i}, 'tab' || chr(9) || 'and' || chr(1) || 'control' || chr(7) || 'chars'"
        for i, _ in _NORM_EXTRA_ROWS
    )
    return f"""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL {extra}
    )
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(nfc_normalize(text),
                                '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                 '\\s+', ' ', 'g'))) AS norm_md5,
           CAST(length(trim(regexp_replace(
                 regexp_replace(nfc_normalize(text),
                                '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                 '\\s+', ' ', 'g'))) AS BIGINT) AS norm_len
    FROM unioned
    """


@register("normalize_text_documents", oracle=_normalize_text_oracle())
def normalize_text_documents(spark, sf):
    """Unicode NFC normalization + control-strip + whitespace collapse
    (textprep.normalize_text): the corpus plus crafted combining-mark /
    control-char rows (the ASCII corpus alone would make normalization
    an identity and the row vacuous).  DuckDB's nfc_normalize is the
    cross-engine oracle; md5 of the normalized text must match
    byte-for-byte."""
    from .operators.textprep import normalize_text

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(_NORM_EXTRA_ROWS, "doc_id long, text string")
    out = normalize_text(d.unionByName(extra), "text", out_col="norm")
    return out.select(
        "doc_id",
        F.md5("norm").alias("norm_md5"),
        F.length("norm").cast("long").alias("norm_len"),
    )


@register(
    "interval_overlap_view_purchase",
    oracle="""
    WITH v AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS vlo,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800 AS vhi,
             event_id AS view_id
      FROM events WHERE event_type = 'view'
    ), p AS (
      SELECT user_id AS pu,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS plo,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) + 1800 AS phi,
             event_id AS purchase_id
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           MIN(v.view_id) AS first_view_id,
           MAX(p.purchase_id) AS last_purchase_id
    FROM v JOIN p ON v.user_id = p.pu
                 AND v.vlo <= p.phi AND p.plo <= v.vhi
    GROUP BY v.user_id
    """,
)
def interval_overlap_view_purchase(spark, sf):
    """Interval OVERLAP join (operators/rangejoin.interval_overlap_join):
    per user, every (view, purchase) pair whose 30-minute windows
    overlap — emitted exactly once via the first-overlap-bucket
    predicate, no distinct pass; the oracle is DuckDB's native
    inequality join."""
    from .operators.rangejoin import interval_overlap_join

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.date_trunc("second", F.col("ts").cast("timestamp"))
        .cast("long")
        .alias("ets"),
    )
    views = ev.filter("event_type = 'view'").select(
        "user_id",
        F.col("ets").alias("vlo"),
        (F.col("ets") + 1800).alias("vhi"),
        F.col("event_id").alias("view_id"),
    )
    purchases = ev.filter("event_type = 'purchase'").select(
        "user_id",
        F.col("ets").alias("plo"),
        (F.col("ets") + 1800).alias("phi"),
        F.col("event_id").alias("purchase_id"),
    )
    out = interval_overlap_join(
        views, purchases, "vlo", "vhi", "plo", "phi",
        on="user_id", bucket_width=1800.0,
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.min("view_id").alias("first_view_id"),
        F.max("purchase_id").alias("last_purchase_id"),
    )


def _zorder_oracle() -> str:
    from .operators.zorder import zorder_sql

    z = zorder_sql(
        ["l_quantity", "ROUND(l_extendedprice * 100)"],
        [(1.0, 50.0), (90000.0, 10500000.0)],
        bits=12,
    )
    return f"""
    SELECT l_orderkey, l_linenumber, CAST({z} AS BIGINT) AS zkey
    FROM lineitem WHERE l_orderkey < 1000
    """


@register("zorder_key_lineitem", oracle=_zorder_oracle())
def zorder_key_lineitem(spark, sf):
    """Morton z-key (operators/zorder.py) over (quantity, price-cents)
    with pinned bounds — the multi-column clustering key behind
    OPTIMIZE ZORDER-style layout; pure bit-arithmetic Column exprs,
    bit-exact vs the same interleave in DuckDB SQL."""
    from .operators.zorder import zorder_value

    li = load_table(spark, sf, "lineitem").filter("l_orderkey < 1000")
    bounds = {
        "l_quantity": (1.0, 50.0),
        "__cents": (90000.0, 10500000.0),
    }
    li = li.withColumn("__cents", F.round(F.col("l_extendedprice") * 100))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        zorder_value(["l_quantity", "__cents"], bounds, bits=12).alias("zkey"),
    )


@register(
    "bigram_logprob_scores",
    oracle=f"""
    WITH tt AS (
      SELECT doc_id, {_ws_sql('text')} AS t FROM documents
    ), pairs AS (
      SELECT doc_id, unnest(
        CASE WHEN length(t) >= 2 THEN
          list_transform(range(1, length(t)),
                         i -> [t[CAST(i AS INT)], t[CAST(i AS INT) + 1]])
        ELSE [] END) AS pr
      FROM tt
    ), bg AS (
      SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM pairs
    ), ctx AS (
      SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM bg GROUP BY w1
    ), big AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2 FROM bg GROUP BY w1, w2
    )
    SELECT doc_id,
           ROUND(SUM(ln(c2 / c1)) / COUNT(*), 6) AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1)
    GROUP BY doc_id
    """,
)
def bigram_logprob_scores(spark, sf):
    """Bigram-LM quality signal (the CCNet idea one order up from
    unigram_logprob_scores): per-document mean log p(w2|w1) under the
    corpus's own MLE bigram model.  Conditional structure catches junk
    that unigram frequency misses (plausible words in implausible
    order).  Two vocabulary-sized count tables broadcast to the join;
    the per-doc aggregate is one shuffle on doc_id."""
    d = load_table(spark, sf, "documents")
    t = _dd.ws_tokens(F.col("text"))
    pair_arr = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: F.struct(
                F.element_at(t, i).alias("w1"),
                F.element_at(t, i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = d.select("doc_id", F.explode(pair_arr).alias("pr")).select(
        "doc_id", F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2")
    )
    ctx = bg.groupBy("w1").agg(F.count(F.lit(1)).cast("double").alias("c1"))
    big = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("double").alias("c2"))
    scored = bg.join(F.broadcast(big), ["w1", "w2"]).join(
        F.broadcast(ctx), "w1"
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.sum(F.log(F.col("c2") / F.col("c1"))) / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


@register(
    "pmi_collocations_documents",
    oracle=f"""
    WITH tt AS (
      SELECT {_ws_sql('text')} AS t FROM documents
    ), pairs AS (
      SELECT unnest(
        CASE WHEN length(t) >= 2 THEN
          list_transform(range(1, length(t)),
                         i -> [t[CAST(i AS INT)], t[CAST(i AS INT) + 1]])
        ELSE [] END) AS pr
      FROM tt
    ), bg AS (
      SELECT pr[1] AS w1, pr[2] AS w2 FROM pairs
    ), big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
      FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= 5
    ), tok AS (
      SELECT unnest(t) AS w FROM tt
    ), uni AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cu FROM tok GROUP BY w
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nt FROM tok
    )
    SELECT b.w1, b.w2, b.pair_count,
           ROUND(ln((CAST(b.pair_count AS DOUBLE) * n.nt)
                    / CAST(u1.cu * u2.cu AS DOUBLE)), 6) + 0.0 AS pmi
    FROM big b
    JOIN uni u1 ON b.w1 = u1.w
    JOIN uni u2 ON b.w2 = u2.w, n
    """,
)
def pmi_collocations_documents(spark, sf):
    """PMI collocation mining (operators/textstats.py pmi_collocations
    — Church & Hanks 1990): adjacent-bigram pointwise mutual
    information over the documents corpus, min_count=5 — the
    phrase-vocabulary / templated-boilerplate signal one step past the
    bigram LM rows.  The only corpus-sized shuffle is the bigram GROUP
    BY; the hapax tail is pruned BEFORE the vocabulary-sized unigram
    joins (Zipf: most distinct bigrams are singletons), and N arrives
    as a one-row broadcast.  The unigram product is exact-integer and
    cast to double once on both engines; ROUND(ln, 6) is the
    established transcendental class."""
    from .operators.textstats import pmi_collocations

    d = load_table(spark, sf, "documents")
    return pmi_collocations(d, "text", min_count=5)


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
    ), tgt_tk AS (
      SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
      WHERE lang = 'en'
    ), src AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c_src FROM tk GROUP BY token
    ), tgt AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c_tgt FROM tgt_tk GROUP BY token
    ), vocab AS (
      SELECT s.token, s.c_src, COALESCE(t.c_tgt, 0) AS c_tgt
      FROM src s LEFT JOIN tgt t USING (token)
    ), tot AS (
      SELECT SUM(c_src) AS n_src, SUM(c_tgt) AS n_tgt,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM vocab
    )
    SELECT doc_id,
           ROUND(SUM(ln(((c_tgt + 1) * (n_src + v)) /
                        ((c_src + 1) * (n_tgt + v)))) / COUNT(*), 6)
             AS imp_weight,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk JOIN vocab USING (token), tot
    GROUP BY doc_id
    """,
)
def dsir_importance_weights(spark, sf):
    """DSIR importance weights (selection.importance_weights) with the
    English subset as the target domain: per-document mean token
    log-likelihood-ratio between add-one-smoothed target and source
    unigram LMs.  Resampling the corpus by these weights shifts the
    training mixture toward the target without hand-written rules
    (Xie et al., NeurIPS 2023).  Vocabulary-sized model broadcast to a
    token-level join; one doc_id shuffle — the unigram_logprob_scores
    plan shape with a second count column."""
    from .operators.selection import importance_weights

    d = load_table(spark, sf, "documents")
    return importance_weights(d, F.col("lang") == "en")


@register(
    "dsir_bucketed_importance_weights",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id,
             {md5_int32_sql('token', 'selbkt|')} % 64 AS token
      FROM (
        SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
      )
    ), tgt_tk AS (
      SELECT doc_id,
             {md5_int32_sql('token', 'selbkt|')} % 64 AS token
      FROM (
        SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
        WHERE lang = 'en'
      )
    ), src AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c_src FROM tk GROUP BY token
    ), tgt AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c_tgt FROM tgt_tk GROUP BY token
    ), vocab AS (
      SELECT s.token, s.c_src, COALESCE(t.c_tgt, 0) AS c_tgt
      FROM src s LEFT JOIN tgt t USING (token)
    ), tot AS (
      SELECT SUM(c_src) AS n_src, SUM(c_tgt) AS n_tgt,
             CAST(COUNT(*) AS DOUBLE) AS v
      FROM vocab
    )
    SELECT doc_id,
           ROUND(SUM(ln(((c_tgt + 1) * (n_src + v)) /
                        ((c_src + 1) * (n_tgt + v)))) / COUNT(*), 6)
             AS imp_weight,
           CAST(COUNT(*) AS BIGINT) AS n_tokens
    FROM tk JOIN vocab USING (token), tot
    GROUP BY doc_id
    """,
)
def dsir_bucketed_importance_weights(spark, sf):
    """DSIR importance weights in HASHED-FEATURE mode
    (selection.importance_weights with ``hash_buckets=64``): tokens
    collapse to md5 % 64 buckets before any counting, so the model —
    and its broadcast — is provably <= 64 rows no matter the corpus
    vocabulary (the DSIR paper's own construction, and the 100 TB
    selection story: the exact-mode model is vocabulary-sized, which
    no executor can hold over a web crawl).  64 buckets over a
    thousands-strong vocabulary guarantees heavy collisions at
    sf0.01, so the bucketed estimator is exercised for real, not as a
    near-identity.  The oracle replays the identical md5 % N bucket
    construction in DuckDB — closing the one evidence gap VERDICT r6
    #8 named (the bucketed mode previously had only a Python-twin
    unit test)."""
    from .operators.selection import importance_weights

    d = load_table(spark, sf, "documents")
    return importance_weights(
        d, F.col("lang") == "en", hash_buckets=64
    )


@register(
    "perplexity_buckets_documents",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({_ws_sql('text')}) AS token FROM documents
    ), vocab AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY token
    ), tot AS (SELECT SUM(c) AS t FROM vocab),
    scored AS (
      SELECT doc_id,
             ROUND(SUM(ln(c / t)) / COUNT(*), 6) AS avg_logprob
      FROM tk JOIN vocab USING (token), tot
      GROUP BY doc_id
    ), ranked AS (
      SELECT doc_id, avg_logprob,
             CAST(ROW_NUMBER() OVER (ORDER BY avg_logprob DESC, doc_id)
                  AS BIGINT) AS ppl_rank,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, avg_logprob, ppl_rank,
           CASE WHEN ppl_rank * 3 <= n THEN 'head'
                WHEN ppl_rank * 3 <= n * 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM ranked
    """,
)
def perplexity_buckets_documents(spark, sf):
    """CCNet head/middle/tail split (selection.perplexity_buckets):
    rank every document by its unigram-LM score (the green
    unigram_logprob_scores signal) and cut the corpus into equal
    thirds — head is what CCNet keeps for training.  Rank-based
    terciles are exact integer arithmetic (no float thresholds); the
    global rank is the shard-offset pattern (operators/prefix.py), so
    the oracle's single-partition ROW_NUMBER() OVER () never appears
    in the Spark plan."""
    from .operators.selection import perplexity_buckets

    d = load_table(spark, sf, "documents")
    tk = d.select("doc_id", F.explode(_dd.ws_tokens(F.col("text"))).alias("token"))
    vocab = tk.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("c"))
    total = vocab.agg(F.sum("c").alias("t"))
    scored = (
        tk.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.log(F.col("c") / F.col("t"))) / F.count(F.lit(1)), 6
            ).alias("avg_logprob")
        )
    )
    return perplexity_buckets(scored, "avg_logprob")


@register(
    "cmsketch_token_counts",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({_ws_sql('text')}) AS token FROM documents
    ), expanded AS (
      SELECT g.s AS row,
             CAST('0x' || substr(md5('cm' || g.s || '|' || token), 1, 8)
                  AS BIGINT) % 512 AS bucket
      FROM tk, generate_series(0, 3) g(s)
    ), sketch AS (
      SELECT row, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM expanded GROUP BY row, bucket
    ), true_cnt AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS true_cnt
      FROM tk GROUP BY token
    ), top AS (
      SELECT token, true_cnt FROM true_cnt
      ORDER BY true_cnt DESC, token LIMIT 20
    ), probe AS (
      SELECT t.token, t.true_cnt, g.s AS row,
             CAST('0x' || substr(md5('cm' || g.s || '|' || t.token), 1, 8)
                  AS BIGINT) % 512 AS bucket
      FROM top t, generate_series(0, 3) g(s)
    )
    SELECT p.token, p.true_cnt,
           CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS cm_est
    FROM probe p LEFT JOIN sketch sk USING (row, bucket)
    GROUP BY p.token, p.true_cnt
    """,
)
def cmsketch_token_counts(spark, sf):
    """Count-min sketch round trip (sketches.countmin_sketch /
    countmin_estimate): sketch every token occurrence into a 4x512
    counter matrix, then read back estimated frequencies for the 20
    most frequent tokens next to their exact counts.  CM estimates
    only ever over-count (collisions add), merge by exact cell-wise
    addition, and the whole sketch is bounded at depth*width cells —
    the frequency complement of the HLL distinct sketch.  The md5
    bucket hash is the repo-wide cross-engine primitive, so the DuckDB
    twin reproduces every cell and every min() bit-for-bit."""
    from .operators.sketches import countmin_estimate, countmin_sketch

    d = load_table(spark, sf, "documents")
    tk = d.select(F.explode(_dd.ws_tokens(F.col("text"))).alias("token"))
    sketch = countmin_sketch(tk, "token", depth=4, width=512)
    true = tk.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
    top = true.orderBy(F.desc("true_cnt"), "token").limit(20)
    return countmin_estimate(sketch, top, "token", depth=4, width=512)


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration weighted PageRank over the navigation
    graph (operators/graph.py is the Spark twin; same update formula,
    same uniform dangling redistribution)."""
    ctes = ["""
    seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS ow FROM edges GROUP BY src
    ), p AS (
      SELECT e.src, e.dst, e.w / o.ow AS p FROM edges e JOIN outw o USING (src)
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
    ), nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes, nn)"""]
    for i in range(iters):
        ctes.append(f"""
    d{i} AS (
      /* src IS NOT NULL guard: a NULL src would make NOT IN never-true
         (dm = 0) while the Spark side's left_anti counts the NULL node
         as dangling; inert today (events props.k is never NULL) but the
         oracle must agree with the operator for nullable ids too */
      SELECT COALESCE(SUM(r), 0) AS dm FROM r{i}
      WHERE node NOT IN (SELECT src FROM outw WHERE src IS NOT NULL)
    ), r{i + 1} AS (
      SELECT nodes.node,
             0.15 / nn.n + 0.85 * (COALESCE(c.c, 0) + d{i}.dm / nn.n) AS r
      FROM nodes LEFT JOIN (
        SELECT p.dst AS node, SUM(r{i}.r * p.p) AS c
        FROM r{i} JOIN p ON r{i}.node = p.src GROUP BY p.dst
      ) c USING (node), nn, d{i}
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT node, ROUND(r, 6) AS pagerank FROM r{iters}
    """
    )


def _ppr_oracle(iters: int = 3) -> str:
    """Unrolled fixed-iteration PERSONALIZED PageRank (Haveliwala 2002)
    over the navigation graph, seeded on pages with k % 7 == 0 —
    teleport and dangling mass land on the seed distribution; the
    damping constants are written as the same double expressions the
    Spark side evaluates ((1.0 - 0.85), not a 0.15 literal)."""
    ctes = ["""
    seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), outw AS (
      SELECT src, SUM(w) AS ow FROM edges GROUP BY src
    ), p AS (
      SELECT e.src, e.dst, e.w / o.ow AS p FROM edges e JOIN outw o USING (src)
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
    ), tpw AS (
      SELECT node, CASE WHEN node % 7 = 0 THEN 1.0 ELSE 0.0 END AS w
      FROM nodes
    ), tps AS (SELECT SUM(w) AS s FROM tpw),
    tp AS (SELECT node, w / tps.s AS t FROM tpw, tps),
    r0 AS (SELECT node, t AS r FROM tp)"""]
    for i in range(iters):
        ctes.append(f"""
    d{i} AS (
      SELECT COALESCE(SUM(r), 0) AS dm FROM r{i}
      WHERE node NOT IN (SELECT src FROM outw WHERE src IS NOT NULL)
    ), r{i + 1} AS (
      SELECT nodes.node,
             (1.0 - 0.85) * tp.t
               + 0.85 * (COALESCE(c.c, 0) + d{i}.dm * tp.t) AS r
      FROM nodes LEFT JOIN (
        SELECT p.dst AS node, SUM(r{i}.r * p.p) AS c
        FROM r{i} JOIN p ON r{i}.node = p.src GROUP BY p.dst
      ) c USING (node)
      JOIN tp ON tp.node = nodes.node, d{i}
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT node, ROUND(r, 6) AS ppr FROM r{iters}
    """
    )


@register("ppr_navigation_seeded", oracle=_ppr_oracle(3))
def ppr_navigation_seeded(spark, sf):
    """PERSONALIZED PageRank (operators/graph.py pagerank with a
    ``teleport`` frame — Haveliwala, "Topic-Sensitive PageRank", WWW
    2002) over the navigation graph, seeded on the k%7==0 pages:
    teleport AND dangling mass land on the seed distribution and the
    iteration starts from it, so rank decays with link-distance from
    the seeds — the similarity-to-seed-set score behind related-page /
    trusted-source expansion (seed the crawl's vetted domains, rank
    everything else by proximity).  Same per-iteration shape as the
    uniform row (ONE equi-join + ONE keyed aggregate + a scalar
    dangling collect); the seed vector rides as one column on the
    node-sized frame, joined once before the loop.  The oracle unrolls
    the identical three iterations with the damping constants written
    as the same double expressions Spark evaluates."""
    from .operators.graph import navigation_edges, pagerank

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"])
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    seeds = nodes.where(F.col("node") % 7 == 0).select(
        "node", F.lit(1.0).alias("weight")
    )
    return pagerank(edges, iters=3, teleport=seeds).select(
        "node", F.round("rank", 6).alias("ppr")
    )


@register("pagerank_navigation", oracle=_pagerank_oracle(3))
def pagerank_navigation(spark, sf):
    """PageRank over the user-navigation graph (operators/graph.py):
    consecutive events of a user form weighted page transitions; three
    power iterations with uniform teleport and dangling-mass
    redistribution score each page's importance — the classic
    corpus-curation quality signal (rank the sources your documents
    come from).  Per iteration: ONE equi-join + ONE keyed aggregate;
    the dangling mass is a per-iteration scalar collect (designed
    driver boundary, like the k-means rounds).  The oracle unrolls the
    identical three iterations as CTEs."""
    from .operators.graph import navigation_edges, pagerank

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"])
    return pagerank(edges, iters=3).select(
        "node", F.round("rank", 6).alias("pagerank")
    )


def _lpa_oracle(iters: int = 4) -> str:
    """Unrolled fixed-iteration synchronous label propagation over the
    UNDIRECTED navigation graph (operators/graph.py label_propagation
    is the Spark twin: same min tie-break, same isolated-keep rule;
    early fixpoint stop is consistent with fixed unrolling because a
    fixpoint is invariant under further rounds)."""
    ctes = ["""
    seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), de AS (
      SELECT DISTINCT src, dst FROM trans
      WHERE dst IS NOT NULL AND src IS NOT NULL
    ), edges AS (
      SELECT DISTINCT s, d FROM (
        SELECT src AS s, dst AS d FROM de
        UNION ALL SELECT dst AS s, src AS d FROM de)
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT s AS node FROM edges UNION ALL SELECT d AS node FROM edges)
    ),
    l0 AS (SELECT node, node AS label FROM nodes)"""]
    for i in range(iters):
        ctes.append(f"""
    c{i} AS (
      SELECT e.d AS node, l.label, COUNT(*) AS c
      FROM edges e JOIN l{i} l ON l.node = e.s
      GROUP BY e.d, l.label
    ), m{i} AS (
      SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c DESC, label) AS rn
        FROM c{i}) WHERE rn = 1
    ), l{i + 1} AS (
      SELECT l.node, COALESCE(m.label, l.label) AS label
      FROM l{i} l LEFT JOIN m{i} m ON m.node = l.node
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT CAST(node AS INT) AS node, CAST(label AS INT) AS label
    FROM l{iters}
    """
    )


@register("lpa_communities_navigation", oracle=_lpa_oracle(4))
def lpa_communities_navigation(spark, sf):
    """Synchronous label-propagation communities (operators/graph.py
    label_propagation, Raghavan et al. 2007 deterministic variant)
    over the undirected user-navigation page graph, four rounds —
    which page clusters do users circulate within (the
    domain-clustering primitive for corpus mixing).  Per round: ONE
    equi-join + ONE (node, label) count + ONE keyed min_by argmax
    over (−count, label) — no window, pagerank's cost profile; the
    oracle unrolls the identical four rounds as CTEs (ROW_NUMBER with
    the same (count desc, label) order).  All-integer labels — no
    float surface at all."""
    from .operators.graph import label_propagation, navigation_edges

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"])
    out = label_propagation(edges, max_iters=4)
    return out.select(
        F.col("node").cast("int").alias("node"),
        F.col("label").cast("int").alias("label"),
    )


@register(
    "resample_interpolate_events",
    oracle="""
    WITH s0 AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t, value FROM events
      WHERE user_id < 40
    ), s AS (
      /* NULL observations are dropped pre-aggregate, mirroring the
         operator: an all-NULL instant must never anchor the sweep
         (inert on events — value is never NULL) */
      SELECT user_id, t, AVG(value) AS v FROM s0
      WHERE value IS NOT NULL GROUP BY user_id, t
    ), b AS (
      SELECT user_id, MIN(t) AS t0, MAX(t) AS t1 FROM s GROUP BY user_id
    ), grid AS (
      SELECT user_id, unnest(range(t0, t1 + 1, 86400000000)) AS t FROM b
    ), u AS (
      SELECT user_id, t, v, 0 AS g FROM s
      UNION ALL
      SELECT user_id, t, NULL AS v, 1 AS g FROM grid
    ), sw AS (
      SELECT user_id, t, g,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY t, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        last_value(CASE WHEN g = 0 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY t, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
          ORDER BY t DESC, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
        last_value(CASE WHEN g = 0 THEN t END IGNORE NULLS) OVER (
          PARTITION BY user_id
          ORDER BY t DESC, g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
      FROM u
    )
    SELECT user_id, t AS grid_ts,
           ROUND(CASE WHEN pt = t THEN pv
                 ELSE pv + (nv - pv) *
                      (CAST(t - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
                 END, 6) AS v_interp
    FROM sw WHERE g = 1
    """,
)
def resample_interpolate_events(spark, sf):
    """Time-series gap filling (operators/timeseries.py): each user's
    irregular event values resampled onto a daily grid spanning their
    observed range, linear interpolation between neighbouring samples,
    exact hits take the sample value.  The time-series face of the
    imputation story — missing TIMESTAMPS instead of missing cells.
    Everything partitions per key (two per-user ordered window sweeps);
    the oracle runs the identical union + IGNORE-NULLS window plan."""
    from .operators.timeseries import resample_interpolate

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("user_id") < 40)
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("t"),
            "value",
        )
    )
    out = resample_interpolate(
        ev,
        ["user_id"],
        "t",
        "value",
        step=86_400_000_000,
        grid_col="grid_ts",
        out_col="__vi",
    )
    return out.select(
        "user_id", "grid_ts", F.round("__vi", 6).alias("v_interp")
    )


_HTML_EXTRA_ROWS = [
    (20001, "<html><head><style>p{color:red}</style></head>"
            "<body><h1>Title</h1><p>hello <b>world</b></p>"
            "<script>var x = '<p>not text</p>';</script>"
            "<!-- comment --><p>a &amp; b &lt;tag&gt; &quot;q&quot;</p>"
            "</body></html>"),
    (20002, "no markup at all"),
    (20003, "<br><br>line&nbsp;break&#39;s</p>"),
]


def _strip_html_oracle() -> str:
    from .operators.textprep import strip_html_sql

    extra = " UNION ALL ".join(
        "SELECT {} AS doc_id, '{}' AS text".format(i, t.replace("'", "''"))
        for i, t in _HTML_EXTRA_ROWS
    )
    body = strip_html_sql("text")
    return f"""
    WITH unioned AS (
      SELECT doc_id, text FROM documents
      UNION ALL {extra}
    )
    SELECT doc_id, md5({body}) AS clean_md5,
           CAST(length({body}) AS BIGINT) AS clean_len
    FROM unioned
    """


@register("strip_html_documents", oracle=_strip_html_oracle())
def strip_html_documents(spark, sf):
    """HTML extraction (textprep.strip_html) over the corpus plus
    crafted markup rows (script/style/comment blocks, entities, bare
    text — the ASCII corpus alone has no markup, which would make the
    row vacuous).  The chain sticks to the regex subset Java and RE2
    share, so the DuckDB twin runs the SAME patterns verbatim."""
    from .operators.textprep import strip_html

    d = load_table(spark, sf, "documents").select("doc_id", "text")
    extra = spark.createDataFrame(_HTML_EXTRA_ROWS, "doc_id long, text string")
    out = d.unionByName(extra).select(
        "doc_id", strip_html(F.col("text")).alias("clean")
    )
    return out.select(
        "doc_id",
        F.md5("clean").alias("clean_md5"),
        F.length("clean").cast("long").alias("clean_len"),
    )


def _keep_best_oracle() -> str:
    """Quality-aware survivor selection on top of the recursive
    component closure: per component keep the member with the most
    tokens (ties -> smallest id)."""
    toks = _ws_sql("text")
    return f"""
    WITH RECURSIVE {_minhash_pairs_ctes(_COMPONENTS_UNION)},
    sym AS (
      SELECT id_a AS src, id_b AS dst FROM ver
      UNION ALL SELECT id_b AS src, id_a AS dst FROM ver
    ), reach(id, r) AS (
      SELECT DISTINCT src, src FROM sym
      UNION
      SELECT s.src, re.r FROM sym s JOIN reach re ON re.id = s.dst
    ), comp AS (
      SELECT id, MIN(r) AS canonical FROM reach GROUP BY id
    ), q AS (
      SELECT doc_id, CAST(length({toks}) AS DOUBLE) AS quality
      FROM ({_COMPONENTS_UNION})
    ), ranked AS (
      SELECT c.id, c.canonical,
             ROW_NUMBER() OVER (PARTITION BY c.canonical
                                ORDER BY q.quality DESC, c.id ASC) AS rn
      FROM comp c JOIN q ON q.doc_id = c.id
    ), dropped AS (
      SELECT id FROM ranked WHERE rn > 1
    )
    SELECT u.doc_id, CAST(length({toks}) AS BIGINT) AS n_tokens
    FROM ({_COMPONENTS_UNION}) u
    WHERE u.doc_id NOT IN (SELECT id FROM dropped)
    """


@register("dedup_keep_best_survivors", oracle=_keep_best_oracle())
def dedup_keep_best_survivors(spark, sf):
    """Quality-aware cluster survivor selection (dedup.dedup_keep_best):
    the same three-generation near-dup corpus as
    dedup_components_transitive, but each cluster keeps its
    LONGEST member (the +20000 copies carry two extra words) instead of
    the smallest id — the production rule when duplicates differ in
    quality.  Recursive-closure + window oracle."""
    d = load_table(spark, sf, "documents").filter("doc_id < 40").select("doc_id", "text")
    l1 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    l2 = load_table(spark, sf, "documents").filter("doc_id < 5").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword extrasecond")).alias("text"),
    )
    corpus = d.unionAll(l1).unionAll(l2).withColumn(
        "n_tokens", F.size(_dd.ws_tokens(F.col("text"))).cast("long")
    )
    pairs = _dd.minhash_lsh_pairs(
        corpus, "text", "doc_id", k=16, bands=4, shingle=5, threshold=0.5
    )
    out = _dd.dedup_keep_best(corpus, pairs, "doc_id", "n_tokens")
    return out.select("doc_id", "n_tokens")


# --------------------------------------------------------------------- #
# Round 6 rotation: the seven r5 library operators get driver rows       #
# (EWMA, HITS, LOCF, bottom-k, grouped covariance, weighted sample,      #
# KL drift) plus the streaming rollup sink's availableNow twin.          #
# --------------------------------------------------------------------- #

from .operators.hashing import md5_int60_sql as _md5_60_sql  # noqa: E402


@register(
    "ewma_events",
    oracle="""
    WITH arr AS (
      SELECT user_id,
             list(event_id ORDER BY event_id) AS ts,
             list(value ORDER BY event_id) AS xs
      FROM events GROUP BY user_id
    ), pos AS (
      SELECT user_id, unnest(ts) AS event_id, unnest(xs) AS value,
             unnest(range(1, len(xs) + 1)) AS i, xs
      FROM arr
    )
    SELECT user_id, event_id, value,
           CAST(ROUND(list_reduce(xs[1:i], (s, x) -> 0.3 * x + 0.7 * s)
                      * 1000000.0) AS BIGINT) / 1000000.0
             AS ewma
    FROM pos
    """,
)
def ewma_events(spark, sf):
    """Per-user EWMA (recursive form, pandas ewm(adjust=False), α=0.3)
    over the event value series ordered by event_id — the JVM
    ``aggregate`` fold over each key's own collected series
    (operators/timeseries.py).  The oracle replays the identical
    recurrence as a DuckDB ``list_reduce`` over every ordered prefix:
    both sides run s_t = 0.3·x_t + 0.7·s_{t-1} in the same operation
    order, so the display rounding only absorbs nothing — and since
    the fold outputs are near-dyadic rationals that land exactly ON
    fractional-tier boundaries (the r9 margin sweep flagged three
    sf0.01 cells at dist ≈ 1e-14), the rounding is INTEGER-tier:
    round(v·1e6)/1e6, where x.5 is an exact double and both engines
    agree (the target_encode discipline)."""
    from .operators.timeseries import ewma

    ev = load_table(spark, sf, "events").select("user_id", "event_id", "value")
    out = ewma(ev, ["user_id"], "event_id", "value", alpha=0.3)
    e6 = F.round(F.col("ewma") * 1e6).cast("long") / F.lit(1e6)
    return out.select("user_id", "event_id", "value", e6.alias("ewma"))


def _hits_oracle(iters: int = 2) -> str:
    """Unrolled HITS (operators/graph.py is the Spark twin): per
    iteration auth from hubs then L1-normalize, hub from the new auths
    then L1-normalize — the same two joins + two scalar normalizers."""
    ctes = ["""
    seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges AS (
      SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), nodes AS (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst AS node FROM edges)
    ), s0 AS (SELECT node, 1.0 AS hub, 1.0 AS auth FROM nodes)"""]
    for i in range(iters):
        ctes.append(f"""
    ar{i} AS (
      SELECT e.dst AS node, SUM(s.hub * e.w) AS auth
      FROM s{i} s JOIN edges e ON s.node = e.src GROUP BY e.dst
    ), af{i} AS (
      SELECT nodes.node, COALESCE(a.auth, 0) AS auth
      FROM nodes LEFT JOIN ar{i} a USING (node)
    ), at{i} AS (SELECT SUM(auth) AS t FROM af{i}),
    a{i} AS (SELECT node, auth / t AS auth FROM af{i}, at{i}),
    hr{i} AS (
      SELECT e.src AS node, SUM(a.auth * e.w) AS hub
      FROM a{i} a JOIN edges e ON a.node = e.dst GROUP BY e.src
    ), hf{i} AS (
      SELECT nodes.node, COALESCE(h.hub, 0) AS hub
      FROM nodes LEFT JOIN hr{i} h USING (node)
    ), ht{i} AS (SELECT SUM(hub) AS t FROM hf{i}),
    h{i} AS (SELECT node, hub / t AS hub FROM hf{i}, ht{i}),
    s{i + 1} AS (
      SELECT nodes.node, h{i}.hub, a{i}.auth
      FROM nodes JOIN h{i} USING (node) JOIN a{i} USING (node)
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT node, ROUND(hub, 6) AS hub, ROUND(auth, 6) AS authority
    FROM s{iters}
    """
    )


@register("hits_navigation", oracle=_hits_oracle(2))
def hits_navigation(spark, sf):
    """HITS hubs & authorities over the user-navigation graph
    (operators/graph.py): two power iterations with L1 normalization
    each half-step.  A good hub links to good authorities (a curated
    index page), a good authority is linked by good hubs — the
    complementary corpus source-quality signal to pagerank_navigation.
    Per half-step ONE equi-join + ONE keyed aggregate; normalizers are
    in-plan 1-row broadcasts (no driver collect in the loop).  The
    oracle unrolls the identical two iterations."""
    from .operators.graph import hits, navigation_edges

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"])
    return hits(edges, iters=2).select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


@register(
    "fill_forward_events",
    oracle="""
    WITH m AS (
      SELECT user_id, event_id,
             CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END AS v
      FROM events
    )
    SELECT user_id, event_id,
           COALESCE(v, -1.0) AS v_masked,
           COALESCE(last_value(v IGNORE NULLS) OVER (
             PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0)
             AS v_filled
    FROM m
    """,
)
def fill_forward_events(spark, sf):
    """LOCF gap filling (operators/timeseries.py fill_forward): every
    fifth event's value is deterministically masked to NULL, then each
    NULL takes the user's most recent prior observation — one per-key
    ordered window sweep, ordered on event_id (unique per user; the
    testdata's lineitem is NOT unique on its sort key, events is).
    Leading NULLs stay NULL; both sides project them as -1.0 so the
    driver row is scalar-only and NULL-hash-free."""
    from .operators.timeseries import fill_forward

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )
    out = fill_forward(ev, ["user_id"], "event_id", ["v"])
    return out.select(
        "user_id",
        "event_id",
        F.coalesce("v", F.lit(-1.0)).alias("v_masked"),
        F.coalesce("v_filled", F.lit(-1.0)).alias("v_filled"),
    )


@register(
    "bottomk_sample_documents",
    oracle=f"""
    SELECT doc_id, h AS bk_hash FROM (
      SELECT doc_id,
             {_md5_60_sql("CAST(doc_id AS VARCHAR)", seed="bk|")} AS h
      FROM documents
    ) ORDER BY h, doc_id LIMIT 64
    """,
)
def bottomk_sample_documents(spark, sf):
    """Mergeable bottom-k uniform sample (operators/sketches.py): the
    64 documents whose md5(doc_id) hashes lowest — a uniform
    without-replacement sample of the corpus that merges exactly across
    shards/days (union + re-take the k smallest).  TakeOrdered moves k
    rows per partition, never the corpus; the md5 order is the
    repo-wide cross-engine primitive, so the oracle reproduces the
    exact sample."""
    from .operators.sketches import bottomk_sample

    d = load_table(spark, sf, "documents").select("doc_id")
    s = bottomk_sample(d, "doc_id", k=64)
    return s.select("doc_id", F.col("__bk_hash").alias("bk_hash"))


@register(
    "grouped_covariance_lineitem",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             covar_pop(l_quantity, l_quantity) AS c11,
             covar_pop(l_quantity, l_discount) AS c12,
             covar_pop(l_quantity, l_tax)      AS c13,
             covar_pop(l_discount, l_discount) AS c22,
             covar_pop(l_discount, l_tax)      AS c23,
             covar_pop(l_tax, l_tax)           AS c33
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'l_quantity' AS col_x, 'l_quantity' AS col_y, n,
           ROUND(c11, 4) + 0.0 AS cov FROM g
    UNION ALL SELECT l_returnflag, 'l_quantity', 'l_discount', n,
           ROUND(c12, 4) + 0.0 FROM g
    UNION ALL SELECT l_returnflag, 'l_quantity', 'l_tax', n,
           ROUND(c13, 4) + 0.0 FROM g
    UNION ALL SELECT l_returnflag, 'l_discount', 'l_discount', n,
           ROUND(c22, 4) + 0.0 FROM g
    UNION ALL SELECT l_returnflag, 'l_discount', 'l_tax', n,
           ROUND(c23, 4) + 0.0 FROM g
    UNION ALL SELECT l_returnflag, 'l_tax', 'l_tax', n,
           ROUND(c33, 4) + 0.0 FROM g
    """,
)
def grouped_covariance_lineitem(spark, sf):
    """Per-group covariance matrices from ONE grouped cofactor pass
    (ml/stats.py grouped_covariance): the triple (count, Σx, Σxxᵀ) is
    a sufficient statistic, so all 6 unordered pairs of (quantity,
    discount, tax) per returnflag come out of a single aggregation —
    the naive route is 6 covar_pop slots (exactly what the oracle
    runs).  Fully in-engine: Column arithmetic unpacks the triple, no
    driver collect.

    Rounding tier: ROUND(,4)+0.0 (the repo's large-magnitude tier, see
    PLANS_r9.md §6) — cov(l_discount,l_tax) is a TRUE-ZERO statistic
    whose computed value is pure cancellation noise (~±1e-6), so
    ROUND(,6) kept noise digits and the r6 driver flipped a cell that
    sat 4.6e-8 from the boundary.  The +0.0 normalizes −0.0 on the
    near-zero cells on both engines."""
    from .ml.stats import grouped_covariance

    li = _li(spark, sf)
    out = grouped_covariance(
        li, ["l_quantity", "l_discount", "l_tax"], ["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        "col_x",
        "col_y",
        F.col("n").cast("long").alias("n"),
        (F.round("cov", 4) + F.lit(0.0)).alias("cov"),
    )


@register(
    "weighted_sample_documents",
    oracle=f"""
    SELECT doc_id, weight FROM (
      SELECT doc_id, CAST(length(text) AS BIGINT) AS weight,
             POW(
               ({_md5_60_sql("CAST(doc_id AS VARCHAR)", seed="ws|")} + 1.0)
                 / 1152921504606846976.0,
               1.0 / length(text)
             ) AS k
      FROM documents WHERE length(text) > 0
    ) ORDER BY k DESC, doc_id LIMIT 50
    """,
)
def weighted_sample_documents(spark, sf):
    """Efraimidis–Spirakis weighted sampling without replacement
    (operators/selection.py weighted_sample): 50 documents drawn with
    inclusion probability ∝ text length — the resampling half of DSIR.
    u ~ md5(doc_id)/2^60 keyed deterministic, keep the k largest
    u^(1/w); TakeOrdered moves k rows per partition.  The oracle
    replays the identical key formula."""
    from .operators.selection import weighted_sample

    d = (
        load_table(spark, sf, "documents")
        .select(
            "doc_id", F.length("text").cast("double").alias("__w")
        )
    )
    out = weighted_sample(d, "__w", k=50, id_col="doc_id")
    return out.select("doc_id", F.col("__w").cast("long").alias("weight"))


@register(
    "domain_divergence_documents",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({_ws_sql('text')}) AS token FROM documents
    ), dom AS (
      SELECT source, token, CAST(COUNT(*) AS DOUBLE) AS c_d
      FROM tk GROUP BY source, token
    ), corp AS (
      SELECT token, CAST(COUNT(*) AS DOUBLE) AS c FROM tk GROUP BY token
    ), nd AS (SELECT source, SUM(c_d) AS n_d FROM dom GROUP BY source),
    na AS (SELECT SUM(c) AS n FROM corp)
    SELECT source,
           ROUND(SUM((c_d / n_d) * ln((c_d / n_d) / (c / n))), 6)
             AS kl_divergence,
           CAST(SUM(c_d) AS BIGINT) AS n_tokens
    FROM dom JOIN corp USING (token) JOIN nd USING (source), na
    GROUP BY source
    """,
)
def domain_divergence_documents(spark, sf):
    """Per-source KL(P_source || P_corpus) between MLE unigram
    distributions (operators/selection.py domain_divergence) — the
    mixture-drift monitor: which of the 20 sources look least like the
    corpus average.  One (domain, token) count map-side combined, one
    corpus-vocab join, one domain-key aggregate; ``hash_buckets=N``
    bounds the model for web-scale vocabularies (exact mode here — the
    oracle replays MLE KL exactly)."""
    from .operators.selection import domain_divergence

    d = load_table(spark, sf, "documents")
    return domain_divergence(d, "source")


@register(
    "weighted_sample_by_source_documents",
    oracle=f"""
    SELECT source, doc_id, weight FROM (
      SELECT source, doc_id, CAST(length(text) AS BIGINT) AS weight,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY POW(
                 ({_md5_60_sql("CAST(doc_id AS VARCHAR)", seed="ws|")}
                  + 1.0) / 1152921504606846976.0,
                 1.0 / length(text)
               ) DESC, doc_id) AS rn
      FROM documents WHERE length(text) > 0
    ) WHERE rn <= 5
    """,
)
def weighted_sample_by_source_documents(spark, sf):
    """Per-source Efraimidis–Spirakis weighted sampling
    (operators/selection.py weighted_sample_grouped): 5 documents per
    source domain, inclusion probability ∝ text length — the
    stratified resampling primitive (cap every domain in one pass,
    quality-weighted).  Same key formula as the global
    weighted_sample row, so each source's draw equals the global
    operator restricted to that source (stratification is free —
    pinned by a unit test); ONE per-group window (never global),
    output |sources| × 5.  The oracle replays the identical key
    inside a per-source ROW_NUMBER."""
    from .operators.selection import weighted_sample_grouped

    d = (
        load_table(spark, sf, "documents")
        .where(F.length("text") > 0)
        .select(
            "source",
            "doc_id",
            F.length("text").cast("double").alias("__w"),
        )
    )
    out = weighted_sample_grouped(
        d, "__w", k=5, by_cols=["source"], id_col="doc_id"
    )
    return out.select(
        "source", "doc_id", F.col("__w").cast("long").alias("weight")
    )


@register(
    "source_overlap_documents",
    oracle=f"""
    WITH v AS (
      SELECT DISTINCT source AS dom, t FROM (
        SELECT source, unnest({_ws_sql('text')}) AS t FROM documents
      ) WHERE dom IS NOT NULL
    ), sizes AS (
      SELECT dom, COUNT(*) AS n FROM v GROUP BY dom
    ), inter AS (
      SELECT a.dom AS domain_a, b.dom AS domain_b, COUNT(*) AS m
      FROM v a JOIN v b ON a.t = b.t AND a.dom < b.dom
      GROUP BY a.dom, b.dom
    )
    SELECT domain_a, domain_b, CAST(m AS BIGINT) AS n_shared,
           CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
           ROUND(CAST(m AS DOUBLE)
                 / CAST(sa.n + sb.n - m AS DOUBLE), 6) + 0.0 AS jaccard
    FROM inter
    JOIN sizes sa ON sa.dom = domain_a
    JOIN sizes sb ON sb.dom = domain_b
    """,
)
def source_overlap_documents(spark, sf):
    """Pairwise vocabulary Jaccard between all source domains
    (operators/selection.py source_overlap) — the mixture-composition
    diagnostic complementing domain_divergence (KL: drift from the
    corpus average; this: which sources duplicate EACH OTHER —
    merge candidates, mislabeled crawls).  ONE corpus GROUP BY to the
    distinct (source, token) vocabulary; the token-keyed self-join is
    the inverted index — a token contributes ≤ |sources|² pairs
    regardless of corpus frequency, output ≤ |sources|²/2 rows, sizes
    broadcast back.  Counts exact; the one division of exact integers
    is bit-identical cross-engine (ROUND display only)."""
    from .operators.selection import source_overlap

    d = load_table(spark, sf, "documents")
    return source_overlap(d, "source")


@register(
    "streaming_rollup_events",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS sum_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value
    FROM events GROUP BY event_type
    """,
)
def streaming_rollup_events(spark, sf):
    """The continuous-aggregate sink end to end (streaming/sinks.py
    streaming_rollup_sink): the events table arrives as TWO
    availableNow micro-batch streams (users < 75, then >= 75); each
    run aggregates its batch, left-semi-reads ONLY the touched keys
    from the persisted state, merges additively, and upserts through
    the crash-safe staged swap.  The second run exercises the
    state-merge path (all five event_types collide).  The final state
    must equal one batch GROUP BY over the whole table — which is
    exactly the oracle."""
    import os
    import shutil
    import tempfile

    from .streaming.sinks import streaming_rollup_sink

    ev = load_table(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="rollup_row_")
    try:
        src = f"{tmp}/src"
        # file-source streams watch a DIRECTORY; stage the single parquet
        os.makedirs(src)
        shutil.copy(f"{sf}/events.parquet", f"{src}/events.parquet")
        state = f"{tmp}/state"
        aggs = {
            "n": ("count", None),
            "sum_value": ("sum", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        }
        for i, cond in enumerate(["user_id < 75", "user_id >= 75"]):
            stream = (
                spark.readStream.schema(ev.schema)
                .parquet(src)
                .where(cond)
                .select("event_type", "value")
            )
            q = (
                streaming_rollup_sink(
                    stream,
                    state,
                    ["event_type"],
                    aggs,
                    checkpoint=f"{tmp}/cp{i}",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(state).select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.round("sum_value", 4).alias("sum_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
        # materialize (5 rows) so the returned frame outlives the tmp
        # dir and repeated gate runs leave no /tmp garbage behind
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _bf_bucket_sql(expr: str, i: int, m: int) -> str:
    return (
        f"CAST('0x' || substr(md5(CONCAT('bf{i}|', {expr})), 1, 8) "
        f"AS BIGINT) % {m}"
    )


@register(
    "bloom_membership_fingerprints",
    oracle=f"""
    WITH ins AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE length(source) = 4
    ), bits AS (
      SELECT DISTINCT bucket FROM (
        SELECT unnest([
          {_bf_bucket_sql('fp', 0, 2048)},
          {_bf_bucket_sql('fp', 1, 2048)},
          {_bf_bucket_sql('fp', 2, 2048)}
        ]) AS bucket FROM ins
      )
    ), probes AS (
      SELECT doc_id, md5(text) AS fp FROM documents
    )
    SELECT doc_id,
           CAST(({_bf_bucket_sql('fp', 0, 2048)} IN (SELECT bucket FROM bits))
            AND ({_bf_bucket_sql('fp', 1, 2048)} IN (SELECT bucket FROM bits))
            AND ({_bf_bucket_sql('fp', 2, 2048)} IN (SELECT bucket FROM bits))
            AS BIGINT) AS maybe_present,
           CAST(fp IN (SELECT fp FROM ins) AS BIGINT) AS is_member
    FROM probes
    """,
)
def bloom_membership_fingerprints(spark, sf):
    """Bloom-filter membership (operators/sketches.py bloom_build /
    bloom_contains) as the decontamination pre-screen: an m=2048-bit,
    k=3 filter over the text fingerprints of the first ten sources (the
    "indexed corpus"), probed by every document.  ``maybe_present=0``
    is certain absence (skip the exact check); ``maybe_present=1,
    is_member=0`` rows are the filter's false positives — the small m
    is chosen so the row EXHIBITS them, proving both sides replay the
    same bit algebra, not just the happy path.  The filter is a
    distributed (word, bits) table (≤ m/64 rows), merged by bitwise OR
    — exact, idempotent under replay.  The oracle replays every md5
    bucket at the bucket-set level (word packing is representation, not
    semantics)."""
    from .operators.sketches import bloom_build, bloom_contains

    d = load_table(spark, sf, "documents")
    fp = F.md5("text")
    ins = d.where(F.length("source") == 4).select(fp.alias("fp"))
    bf = bloom_build(ins, "fp", m_bits=2048, k_hashes=3)
    probes = d.select("doc_id", fp.alias("fp"))
    flagged = bloom_contains(bf, probes, "fp", m_bits=2048, k_hashes=3)
    member = ins.distinct().withColumn("__m", F.lit(1))
    return (
        flagged.join(member, "fp", "left")
        .select(
            "doc_id",
            F.col("maybe_present").cast("long").alias("maybe_present"),
            F.coalesce("__m", F.lit(0)).cast("long").alias("is_member"),
        )
    )


_CC_PAGES_ORACLE = """
    WITH RECURSIVE seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges0 AS (
      SELECT src, dst, COUNT(*) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), ef AS (SELECT src, dst FROM edges0 WHERE w >= 5),
    sym AS (SELECT src, dst FROM ef UNION SELECT dst AS src, src AS dst FROM ef),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN sym e ON r.node = e.src
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
"""


def _strong_navigation_edges(spark, sf):
    from .operators.graph import navigation_edges

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    return navigation_edges(ev, "user_id", "k", ["ts", "event_id"]).where(
        F.col("weight") >= 5
    )


@register("streaming_components_events", oracle=_CC_PAGES_ORACLE)
def streaming_components_events(spark, sf):
    """INCREMENTAL connected components end to end (streaming/sinks.py
    streaming_components_sink on graph.incremental_components): the
    strong-navigation edge list arrives as TWO availableNow runs split
    on src (run 2's edges bridge run-1 components, exercising the
    merge-relabel path, not just insertion), sharing one checkpoint.
    Per batch only the AFFECTED nodes relabel (batch endpoints + every
    member of a touched component) and only their node-hash buckets
    rewrite; the merge is idempotent by construction (full redelivery
    converges — asserted in tests/test_graph.py).  The final mapping
    must equal one-shot CC over all edges, so the SAME recursive-CTE
    oracle as `connected_components_pages` verifies both."""
    import os
    import shutil
    import tempfile

    from .streaming.sinks import streaming_components_sink

    edges = _strong_navigation_edges(spark, sf).select("src", "dst")
    lo, hi = edges.agg(F.min("src"), F.max("src")).first()
    if lo is None:  # no strong edges at this SF: empty mapping
        return spark.createDataFrame([], "node int, component int")
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="cc_stream_row_")
    state = f"{_session_scratch('cc_stream_state_')}/state"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            edges.where(F.col("src") <= mid),
            edges.where(F.col("src") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(edges.schema).parquet(src)
            q = (
                streaming_components_sink(
                    stream,
                    state,
                    n_buckets=8,
                    checkpoint=f"{tmp}/cp",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return spark.read.parquet(state).select(
            F.col("node").cast("int").alias("node"),
            F.col("component").cast("int").alias("component"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register("connected_components_pages", oracle=_CC_PAGES_ORACLE)
def connected_components_pages(spark, sf):
    """Connected components (operators/graph.py, min-label propagation
    with exact early stop) over the STRONG navigation graph — page
    transitions seen at least 5 times.  Thresholding fragments the
    graph (13 components over 51 pages at sf0.01), which is the
    interesting case: community islands in a co-occurrence graph, the
    graph face of the dedup cluster problem.  Per round ONE equi-join +
    ONE keyed min-aggregate, node-sized state, per-round checkpoint;
    converged-early is detected exactly (zero changed labels), so the
    result IS the fixpoint — which is what the oracle's recursive-CTE
    reachability closure computes."""
    from .operators.graph import connected_components

    return connected_components(_strong_navigation_edges(spark, sf))


@register(
    "connected_components_alternating_pages",
    oracle="""
    WITH RECURSIVE seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges0 AS (
      SELECT src, dst, COUNT(*) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), ef AS (SELECT src, dst FROM edges0 WHERE w >= 5),
    sym AS (SELECT src, dst FROM ef UNION SELECT dst AS src, src AS dst FROM ef),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    reach(node, lbl) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN sym e ON r.node = e.src
    )
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
    """,
)
def connected_components_alternating_pages(spark, sf):
    """Connected components via alternating large-star / small-star
    (operators/graph.py connected_components_alternating — Kiveris et
    al., SoCC 2014), the O(log²)-round variant for graphs whose
    diameter makes plain min-label propagation pathological.  SAME
    input graph and SAME recursive-CTE reachability oracle as
    `connected_components_pages`, so the "identical output to the
    min-label variant" claim is driver-verified, not just
    unit-tested (VERDICT r6 #3a).  Per round: two keyed edge-sized
    shuffles (the star groupBys), edge set bounded by the input's
    star-closure."""
    from .operators.graph import (
        connected_components_alternating,
        navigation_edges,
    )

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"]).where(
        F.col("weight") >= 5
    )
    return connected_components_alternating(edges)


@register(
    "triangle_counts_pages",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM events
    ), trans AS (
      SELECT k AS src,
             LEAD(k) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM seq
    ), edges0 AS (
      SELECT src, dst, COUNT(*) AS w
      FROM trans WHERE dst IS NOT NULL GROUP BY src, dst
    ), ef AS (SELECT src, dst FROM edges0 WHERE w >= 2),
    can AS (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v
      FROM ef WHERE src <> dst GROUP BY 1, 2
    ), tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM can e1
      JOIN can e2 ON e1.u = e2.u AND e1.v < e2.v
      JOIN can e3 ON e3.u = e1.v AND e3.v = e2.v
    ), memb AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    ), cnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS t FROM memb GROUP BY node
    ), nodes AS (
      SELECT u AS node FROM can UNION SELECT v AS node FROM can
    )
    SELECT CAST(n.node AS INTEGER) AS node,
           CAST(COALESCE(c.t, 0) AS BIGINT) AS triangles
    FROM nodes n LEFT JOIN cnt c ON n.node = c.node
    """,
)
def triangle_counts_pages(spark, sf):
    """Per-node TRIANGLE COUNTS (operators/graph.py triangle_counts)
    over the weight>=2 navigation co-occurrence graph — the
    local-clustering face of the graph family (link-farm / community
    density screening; the reference's host engine covers graph-shaped
    SQL via recursive CTEs, this is the bounded-join form).  The Spark
    plan orients every edge by (degree, id) — Schank & Wagner 2005 /
    Suri & Vassilvitskii WWW'11 — so wedge fan-out is O(sqrt(m)) per
    node and a hub can never own the last reducer; the oracle counts
    the SAME triangles with plain id-ordered LEAST/GREATEST joins,
    driver-verifying the orientation-invariance claim.  All-integer
    output (zero-triangle nodes kept: membership in the graph is part
    of the answer)."""
    from .operators.graph import navigation_edges, triangle_counts

    ev = load_table(spark, sf, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    edges = navigation_edges(ev, "user_id", "k", ["ts", "event_id"]).where(
        F.col("weight") >= 2
    )
    t = triangle_counts(edges)
    return t.select(
        F.col("node").cast("int").alias("node"),
        F.col("triangles").cast("long").alias("triangles"),
    )


@register(
    "streaming_bloom_sink_fingerprints",
    oracle=f"""
    WITH ins AS (
      SELECT DISTINCT md5(text) AS fp FROM documents
      WHERE length(source) = 4
    ), buckets AS (
      SELECT DISTINCT bucket FROM (
        SELECT unnest([
          {_bf_bucket_sql('fp', 0, 2048)},
          {_bf_bucket_sql('fp', 1, 2048)},
          {_bf_bucket_sql('fp', 2, 2048)}
        ]) AS bucket FROM ins
      )
    )
    SELECT bucket // 64 AS word,
           bit_or(CASE WHEN bucket % 64 = 63 THEN -9223372036854775808
                       ELSE 1::BIGINT << CAST(bucket % 64 AS INT) END)
             AS bits
    FROM buckets GROUP BY bucket // 64
    """,
)
def streaming_bloom_sink_fingerprints(spark, sf):
    """The streaming Bloom sink end to end (streaming/sinks.py
    streaming_bloom_sink): document fingerprints arrive as TWO
    availableNow micro-batch streams (odd / even doc_id); each run
    builds the batch's word rows, bitwise-ORs into the persisted
    state for only the touched words, and upserts through the
    crash-safe staged swap.  The second run exercises the OR-merge
    path (word collisions are guaranteed at m=2048 over ~250
    fingerprints per half).  Final state must equal ONE batch
    bloom_build over all inserted fingerprints — which is exactly
    what the oracle computes word by word (two's-complement CASE for
    bit 63, DuckDB's BIGINT << 63 overflows).  The availableNow twin
    of `bloom_membership_fingerprints`, the same pattern
    `streaming_rollup_events` established (VERDICT r6 #3b)."""
    import os
    import shutil
    import tempfile

    from .streaming.sinks import streaming_bloom_sink

    d = load_table(spark, sf, "documents")
    tmp = tempfile.mkdtemp(prefix="bloom_sink_row_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        shutil.copy(f"{sf}/documents.parquet", f"{src}/documents.parquet")
        state = f"{tmp}/state"
        for i, cond in enumerate(["doc_id % 2 = 1", "doc_id % 2 = 0"]):
            stream = (
                spark.readStream.schema(d.schema)
                .parquet(src)
                .where(f"length(source) = 4 AND ({cond})")
                .select(F.md5("text").alias("fp"))
            )
            q = (
                streaming_bloom_sink(
                    stream,
                    state,
                    "fp",
                    m_bits=2048,
                    k_hashes=3,
                    checkpoint=f"{tmp}/cp{i}",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(state).select(
            F.col("word").cast("long").alias("word"),
            F.col("bits").cast("long").alias("bits"),
        )
        # materialize (<= 32 words) so the frame outlives the tmp dir
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "bloom_decontaminate_documents",
    oracle=_ngram_decontaminate_oracle(mod=89),
)
def bloom_decontaminate_documents(spark, sf):
    """13-gram decontamination through the TWO-PHASE BLOOM plan
    (dedup.bloom_decontaminate): a fixed-size filter over the taint
    grams probes every corpus gram map-side (bloom_contains_inline —
    k broadcast word joins, zero corpus shuffle), and only the
    surviving "maybe" grams reach the exact semi-join.  The oracle is
    the PLAIN exact decontamination — the filter is a performance
    plan, not a semantics change, and must be invisible in the result
    (no false negatives by construction, false positives killed in
    phase 2).  This is the path for a contamination set too large to
    broadcast exactly: the broadcast is m_bits/64 words no matter how
    many benchmark grams exist."""
    d = load_table(spark, sf, "documents")
    ev = d.filter("doc_id % 89 = 0")
    return _dd.bloom_decontaminate(
        d, ev, "text", "doc_id", n=13, m_bits=1 << 14, k_hashes=4
    ).select("doc_id")


@register(
    "grouped_linreg_lineitem",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)
             AS intercept
    FROM lineitem GROUP BY l_returnflag
    """,
)
def grouped_linreg_lineitem(spark, sf):
    """Per-returnflag simple least squares (price ~ quantity) from ONE
    grouped cofactor pass (ml/stats.py grouped_simple_linreg): slope
    and intercept unpacked from the triple with Column arithmetic —
    many models, one aggregation, no driver collect.  The oracle is
    the classic SQL pair regr_slope/regr_intercept; ROUND(,4) absorbs
    the sufficient-statistics-vs-streaming-co-moment float difference
    (both engines agree to ~1e-7 here, margin 500×)."""
    from .ml.stats import grouped_simple_linreg

    li = _li(spark, sf)
    out = grouped_simple_linreg(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.round("slope", 4).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
    )


@register(
    "interpolated_bigram_scores",
    oracle=f"""
    WITH mdl AS (
      SELECT doc_id, text FROM documents WHERE lang = 'en'
    ), mt AS (
      SELECT doc_id, {_ws_sql('text')} AS t FROM mdl
    ), mpairs AS (
      SELECT unnest(
        CASE WHEN length(t) >= 2 THEN
          list_transform(range(1, length(t)),
                         i -> [t[CAST(i AS INT)], t[CAST(i AS INT) + 1]])
        ELSE [] END) AS pr
      FROM mt
    ), mbg AS (
      SELECT pr[1] AS w1, pr[2] AS w2 FROM mpairs
    ), ctx AS (
      SELECT w1, CAST(COUNT(*) AS DOUBLE) AS c1 FROM mbg GROUP BY w1
    ), big AS (
      SELECT w1, w2, CAST(COUNT(*) AS DOUBLE) AS c2 FROM mbg GROUP BY w1, w2
    ), uni AS (
      SELECT w2, CAST(COUNT(*) AS DOUBLE) AS cu FROM (
        SELECT unnest({_ws_sql('text')}) AS w2 FROM mdl
      ) GROUP BY w2
    ), tot AS (
      SELECT SUM(cu) AS n_uni, CAST(COUNT(*) AS DOUBLE) AS v FROM uni
    ), st AS (
      SELECT doc_id, {_ws_sql('text')} AS t FROM documents
    ), spairs AS (
      SELECT doc_id, unnest(
        CASE WHEN length(t) >= 2 THEN
          list_transform(range(1, length(t)),
                         i -> [t[CAST(i AS INT)], t[CAST(i AS INT) + 1]])
        ELSE [] END) AS pr
      FROM st
    ), sbg AS (
      SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM spairs
    )
    SELECT doc_id,
           ROUND(SUM(ln(
             0.7 * (CASE WHEN COALESCE(c1, 0) > 0
                         THEN COALESCE(c2, 0) / c1 ELSE 0 END)
             + 0.3 * ((COALESCE(cu, 0) + 1) / (n_uni + v))
           )) / COUNT(*), 6) AS avg_logprob,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams
    FROM sbg
    LEFT JOIN big USING (w1, w2)
    LEFT JOIN ctx USING (w1)
    LEFT JOIN uni USING (w2)
    CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def interpolated_bigram_scores(spark, sf):
    """Jelinek–Mercer interpolated bigram scoring in its CROSS-CORPUS
    deployment shape (operators/textstats.py
    interpolated_bigram_logprob): the LM is estimated from the English
    slice only, every document is scored under it — unseen contexts
    fall back to the add-one unigram term (λ=0.7), so out-of-model
    documents score low but finite (the CCNet setup: trusted reference
    model, crawl-wide scoring).  Model joins carry no broadcast hint —
    AQE picks broadcast vs shuffle by actual model size (the bounded
    -model rule)."""
    d = load_table(spark, sf, "documents")
    return _ts.interpolated_bigram_logprob(
        d, "text", "doc_id", model_df=d.where(F.col("lang") == "en"),
        lam=0.7,
    )


@register(
    "equidepth_histogram_lineitem",
    oracle="""
    WITH t AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v,
             l_orderkey, l_linenumber
      FROM lineitem
    ), ranked AS (
      SELECT v, NTILE(10) OVER (ORDER BY v, l_orderkey, l_linenumber)
               AS bucket
      FROM t
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(v) AS min_value,
           MAX(v) AS max_value
    FROM ranked GROUP BY bucket
    """,
)
def equidepth_histogram_lineitem(spark, sf):
    """Equal-frequency price histogram, NTILE(10) semantics WITHOUT the
    single-partition window NTILE needs (operators/prefix.py
    equidepth_histogram): the global rank rides the shard-offset
    pattern, the bucket id is integer arithmetic on (rank, n).  Values
    are exact cents (longs), so min/max per bucket carry no float
    caveat; rows identical under the full order are interchangeable at
    bucket boundaries and the per-bucket aggregates are invariant —
    which is exactly why the NTILE oracle matches an engine that never
    ran a global window."""
    from .operators.prefix import equidepth_histogram

    li = _li(spark, sf).select(
        _cents("l_extendedprice").alias("v"), "l_orderkey", "l_linenumber"
    )
    return equidepth_histogram(
        li, "v", 10, tiebreak_cols=["l_orderkey", "l_linenumber"]
    )


# --------------------------------------------------------------------- #
# Round 7 (late) rotation: the two queued NEXT-ROTATION operator         #
# families get driver rows (per-group bottom-k sample, global ranking    #
# family), plus three new operators — cohort retention, sliding          #
# windows, grouped robust stats (median/MAD/Hampel outliers).            #
# --------------------------------------------------------------------- #


@register(
    "bottomk_grouped_documents",
    oracle=f"""
    SELECT source, doc_id, h AS bk_hash FROM (
      SELECT source, doc_id, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id)
               AS rn
      FROM (
        SELECT source, doc_id,
               {_md5_60_sql("CAST(doc_id AS VARCHAR)", seed="bk|")} AS h
        FROM documents
      )
    ) WHERE rn <= 5
    """,
)
def bottomk_grouped_documents(spark, sf):
    """Per-group mergeable bottom-k sample (operators/sketches.py
    bottomk_sample_grouped): the 5 lowest-md5-hash documents WITHIN
    each source — a deterministic stratified uniform sample (k per
    stratum) that merges exactly across batches (re-take the per-group
    bottom-k of unioned samples).  Same hash permutation as the global
    bottomk_sample_documents row, so a group's sample equals the
    global sample restricted to that group; integer hash column, zero
    rounding surface."""
    from .operators.sketches import bottomk_sample_grouped

    d = load_table(spark, sf, "documents").select("source", "doc_id")
    out = bottomk_sample_grouped(d, "doc_id", 5, ["source"])
    return out.select(
        "source", "doc_id", F.col("__bk_hash").alias("bk_hash")
    )


@register(
    "global_ranking_quantity",
    oracle="""
    WITH c AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty, COUNT(*) AS n
      FROM lineitem GROUP BY 1
    ), t AS (
      SELECT qty, n,
             SUM(n) OVER (ORDER BY qty) AS cum,
             SUM(n) OVER () AS tot,
             ROW_NUMBER() OVER (ORDER BY qty) AS dr
      FROM c
    )
    SELECT qty,
           CAST(cum - n + 1 AS BIGINT) AS rnk,
           CAST(dr AS BIGINT) AS drnk,
           ROUND(CAST(cum - n AS DOUBLE) / (tot - 1), 9) AS prnk,
           ROUND(CAST(cum AS DOUBLE) / tot, 9) AS cd
    FROM t
    """,
)
def global_ranking_quantity(spark, sf):
    """The full global ranking family — RANK, DENSE_RANK, PERCENT_RANK,
    CUME_DIST over l_quantity — via the FUSED operators/prefix.py
    global_ranks (ONE shard-offset pass + one tie-class aggregate,
    where the four separate operators would re-rank the corpus once
    each; the fused outputs are asserted bit-identical to the
    individual ops and to the window forms in tests/test_prefix.py),
    collapsed to tie classes (one row per distinct quantity; every
    function is constant within a class).  No single-partition window
    anywhere.  The oracle derives the identical values from per-class
    counts and running sums, an INDEPENDENT construction:
    numerators/denominators are exact integers divided once, so
    ROUND(,9) only absorbs display.  rnk/drnk are integers;
    prnk = (rank-1)/(n-1); cd = cum/n."""
    from .operators.prefix import global_ranks

    q = _li(spark, sf).select(F.col("l_quantity").cast("long").alias("qty"))
    ranked = global_ranks(
        q, "qty",
        rank_col="rnk", dense_rank_col="drnk",
        percent_rank_col="prnk", cume_dist_col="cd",
    )
    return ranked.groupBy("qty").agg(
        F.min("rnk").alias("rnk"),
        F.min("drnk").alias("drnk"),
        F.round(F.min("prnk"), 9).alias("prnk"),
        F.round(F.min("cd"), 9).alias("cd"),
    )


_DAY_US = 86_400 * 1_000_000


@register(
    "retention_cohorts_events",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT user_id AS u,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / {_DAY_US})
                  AS BIGINT) AS p
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), f AS (
      SELECT u, MIN(p) AS cohort_period FROM b GROUP BY u
    )
    SELECT cohort_period,
           p - cohort_period AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM b JOIN f USING (u)
    GROUP BY 1, 2
    """,
)
def retention_cohorts_events(spark, sf):
    """Daily cohort retention triangle (operators/timeseries.py
    retention_cohorts): users bucketed by the epoch-aligned day of
    their first event; n_active counts distinct users of each cohort
    active at each later day.  Daily periods (not weekly) so the
    testdata's 30-day span yields a real cohort x offset matrix
    instead of one cohort row.  All-integer output (epoch-µs integer
    day arithmetic — the testdata ts idiom), and the DISTINCT is
    spent on the deduplicated (user, day) frame before any join, so
    the plan is two keyed aggregates + one user-keyed join."""
    from .operators.timeseries import retention_cohorts

    ev = load_table(spark, sf, "events")
    return retention_cohorts(
        ev, "user_id", "ts", period_us=_DAY_US
    ).withColumnRenamed("offset", "day_offset")


@register(
    "sliding_window_events",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
                  AS BIGINT) AS h
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, h AS ws FROM e
      UNION ALL
      SELECT event_type, h - 1 AS ws FROM e
    )
    SELECT ws * 3600000000 AS window_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2
    """,
)
def sliding_window_events(spark, sf):
    """Sliding-window event counts, width 2 h / slide 1 h, per event
    type (operators/timeseries.py sliding_counts = ``F.window``'s
    hopping mode, the batch twin of the Structured Streaming sliding
    aggregation).  Each event lands in exactly width/slide = 2
    epoch-aligned windows; the oracle unrolls that same membership as
    a 2-way UNION ALL over integer hour buckets — window starts and
    counts are integers end-to-end."""
    from .operators.timeseries import sliding_counts

    ev = load_table(spark, sf, "events")
    return sliding_counts(
        ev, "ts", "2 hours", "1 hour", by_cols=["event_type"]
    )


@register(
    "robust_outliers_lineitem",
    oracle="""
    WITH m AS (
      SELECT l_returnflag AS g,
             quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5) AS med
      FROM lineitem GROUP BY 1
    ), d AS (
      SELECT m.g, ABS(CAST(l.l_extendedprice AS DOUBLE) - m.med) AS ad
      FROM lineitem l JOIN m ON l.l_returnflag = m.g
    ), a AS (
      SELECT g, quantile_cont(ad, 0.5) AS mad
      FROM d GROUP BY g
    )
    SELECT d.g AS l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(m2.med), 4) AS med,
           ROUND(MIN(a.mad), 4) AS mad,
           CAST(SUM(CASE WHEN d.ad > (3.0 * 1.4826) * a.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d JOIN a USING (g) JOIN m m2 ON d.g = m2.g
    GROUP BY d.g
    """,
)
def robust_outliers_lineitem(spark, sf):
    """Per-group robust statistics (operators/profile.py
    grouped_robust_stats): median, MAD and the Hampel outlier count
    (|x − med| > 3·1.4826·MAD) of extended price per returnflag — the
    outlier screen whose threshold the outliers themselves cannot
    inflate.  Medians are Spark's exact interpolated percentile
    (bit-identical to DuckDB quantile_cont); the threshold constant
    folds to the same double on both engines, so the > comparison is
    deterministic; med/mad are sums of ≤2-decimal data values halved,
    i.e. exact ROUND(,4) ticks, and the counts are integers."""
    from .operators.profile import grouped_robust_stats

    li = _li(spark, sf).select("l_returnflag", "l_extendedprice")
    out = grouped_robust_stats(li, "l_extendedprice", ["l_returnflag"])
    return out.select(
        "l_returnflag",
        "n",
        F.round("med", 4).alias("med"),
        F.round("mad", 4).alias("mad"),
        "n_outliers",
    )


# --------------------------------------------------------------------- #
# Round 7 (cont'd): driver rows for the remaining NEXT-ROTATION queue — #
# the keyed-fold detectors (half-life EWMA, CUSUM), their streaming     #
# twins, the retention sink, and grouped winsorization.                 #
#                                                                       #
# DuckDB 1.0.0 list_reduce caveat (discovered building these): the      #
# lambda's struct fields share accumulator slots, so reading acc.X in   #
# any field OTHER than the one that writes X observes the UPDATED       #
# value (and a duplicated expression re-applies the step).  Every fold  #
# below therefore keeps the accumulator effectively SCALAR: each acc    #
# field is read only inside its own field expression.  CUSUM            #
# additionally decouples the two sides into independent folds — which   #
# is provably identical to the batch operator's single-alarm coupling,  #
# because post-step states are <= threshold, so hi_raw > threshold      #
# requires x > target + slack - (threshold - hi) while                  #
# lo_raw > threshold requires x < target - slack + (threshold - lo):    #
# both sides can never alarm on the same row.                          #
# --------------------------------------------------------------------- #


_EWMA_HL_ORACLE = """
    WITH m AS (
      SELECT user_id, event_id,
             epoch_us(CAST(ts AS TIMESTAMP)) / 1000000.0 AS t,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS x
      FROM events
    ), w AS (
      SELECT user_id, t, x,
             MAX(CASE WHEN x IS NOT NULL THEN t END) OVER (
               PARTITION BY user_id ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pt
      FROM m
    ), arr AS (
      SELECT user_id,
        list(struct_pack(s := CAST(NULL AS DOUBLE), x := x, g := t - pt)
             ORDER BY t) AS es,
        list(t ORDER BY t) AS ts_l,
        list(x ORDER BY t) AS xs
      FROM w GROUP BY user_id
    ), pos AS (
      SELECT user_id, unnest(ts_l) AS t, unnest(xs) AS x,
             unnest(range(1, len(xs) + 1)) AS i, es
      FROM arr
    )
    SELECT user_id, t, COALESCE(x, -1.0) AS v,
      CASE WHEN x IS NULL THEN -1.0 ELSE ROUND(
        list_reduce(
          list_prepend(struct_pack(s := CAST(NULL AS DOUBLE),
                                   x := CAST(NULL AS DOUBLE),
                                   g := CAST(NULL AS DOUBLE)), es[1:i]),
          (acc, e) -> struct_pack(
            s := CASE WHEN e.x IS NULL THEN acc.s
                      WHEN acc.s IS NULL THEN e.x
                      ELSE EXP((-0.6931471805599453 * e.g) / 3600.0) * acc.s
                           + (1.0 - EXP((-0.6931471805599453 * e.g)
                                        / 3600.0)) * e.x END,
            x := CAST(NULL AS DOUBLE),
            g := CAST(NULL AS DOUBLE))).s, 6) END AS ewma
    FROM pos
"""


def _ewma_hl_masked_events(spark, sf):
    return load_table(spark, sf, "events").select(
        "user_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1e6)).alias(
            "t"
        ),
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )


def _ewma_hl_projection(out):
    return out.select(
        "user_id",
        "t",
        F.coalesce("v", F.lit(-1.0)).alias("v"),
        F.coalesce(F.round("ewma", 6), F.lit(-1.0)).alias("ewma"),
    )


@register("ewma_halflife_events", oracle=_EWMA_HL_ORACLE)
def ewma_halflife_events(spark, sf):
    """Gap-aware EWMA (operators/timeseries.py ewma_halflife) over each
    user's event values on REAL event time (epoch seconds, halflife
    1 h): the decay between two observations is exp(-ln2 * gap / hl),
    so a value one halflife after the last pulls the state halfway
    toward it no matter how many samples landed in between — the
    irregular-sampling smoothing a fixed-alpha EWMA gets wrong.  Every
    7th event is masked NULL to exercise the carry rule (state AND
    time anchor pass through; the next real value decays by the FULL
    gap).  The oracle folds the identical recurrence with the time
    anchor hoisted into a window MAX (the fold state stays scalar —
    see the list_reduce caveat above); both engines evaluate the same
    exp() argument in the same order, so agreement is deterministic
    (ROUND(,6) absorbs the engines' libm ULP) and rehearsal-green
    implies driver-green."""
    from .operators.timeseries import ewma_halflife

    out = ewma_halflife(
        _ewma_hl_masked_events(spark, sf), ["user_id"], "t", "v",
        halflife=3600.0,
    )
    return _ewma_hl_projection(out)


@register("ewma_halflife_stream_events", oracle=_EWMA_HL_ORACLE)
def ewma_halflife_stream_events(spark, sf):
    """The LIVE form of `ewma_halflife_events` (streaming/
    ewma_stream.py on applyInPandasWithState) — and the UNBOUNDED-
    SERIES path the batch keyed fold lacks (VERDICT r7 #7: state is
    TWO DOUBLES per key — the smoothed value and the last real
    observation's timestamp — O(keys), never O(events)).  The masked
    event stream arrives as TWO availableNow runs split on t, the
    fold's own order column (so run 1 is exactly the per-key prefix by
    construction), sharing one checkpoint: the second run decays from
    (s, pt) state recovered through the checkpoint — including gaps
    spanning the run boundary, since the NULL rule carries the time
    anchor.  Outputs append to a parquet sink in a session-scoped
    scratch dir (never collect()ed — linear in sf); the union of both
    runs must equal the batch operator row for row, so the SAME oracle
    verifies both."""
    import os
    import shutil
    import tempfile

    from .streaming.ewma_stream import ewma_halflife_stream

    ev = _ewma_hl_masked_events(spark, sf)
    lo, hi = ev.agg(F.min("t"), F.max("t")).first()
    mid = (lo + hi) / 2.0
    tmp = tempfile.mkdtemp(prefix="ewma_stream_row_")
    outdir = f"{_session_scratch('ewma_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("t") <= mid),
            ev.where(F.col("t") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(ev.schema).parquet(src)
            q = (
                ewma_halflife_stream(
                    stream, "user_id", "t", "v", halflife=3600.0
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return _ewma_hl_projection(spark.read.parquet(outdir))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "json_key_profile_lineitem",
    oracle="""
    WITH src AS (
      SELECT '{"qty": ' || CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
             || CASE WHEN l_returnflag = 'R'
                     THEN ', "ret": true' ELSE '' END
             || CASE WHEN l_linenumber % 3 = 0
                     THEN ', "tag": "L' || CAST(l_linenumber AS VARCHAR)
                          || '"' ELSE '' END
             || '}' AS j
      FROM lineitem
    ), kv AS (
      SELECT unnest(json_keys(j)) AS key, j FROM src
    )
    SELECT key,
           CAST(COUNT(*) AS BIGINT) AS n_present,
           CAST(COUNT(DISTINCT json_extract_string(j, '$.' || key))
                AS BIGINT) AS n_distinct_values,
           MIN(json_extract_string(j, '$.' || key)) AS min_value,
           MAX(json_extract_string(j, '$.' || key)) AS max_value
    FROM kv GROUP BY key
    """,
)
def json_key_profile_lineitem(spark, sf):
    """Key-space profile of a semi-structured JSON column
    (operators/profile.py json_key_profile): which keys exist, how
    often, how varied — the first question against freeform scraped
    metadata.  The JSON text is BUILT identically on both engines by
    string concatenation over lineitem (a always-present integer key,
    a boolean key on the returnflag subset, a string key on every 3rd
    line number), so the row tests the PARSERS against heterogeneous
    key presence: Spark's from_json map explode vs DuckDB's
    json_keys/json_extract_string must agree key-for-key and
    value-for-value (scalars in unquoted JSON text form).  One narrow
    scan + one keyed aggregate; integer counts, string min/max — zero
    rounding surface."""
    from .operators.profile import json_key_profile

    li = load_table(spark, sf, "lineitem")
    j = F.concat(
        F.lit('{"qty": '),
        F.col("l_quantity").cast("long").cast("string"),
        F.when(
            F.col("l_returnflag") == "R", F.lit(', "ret": true')
        ).otherwise(F.lit("")),
        F.when(
            F.col("l_linenumber") % 3 == 0,
            F.concat(
                F.lit(', "tag": "L'),
                F.col("l_linenumber").cast("string"),
                F.lit('"'),
            ),
        ).otherwise(F.lit("")),
        F.lit("}"),
    )
    return json_key_profile(li.select(j.alias("j")), "j")


_RESAMPLE_AGG_ORACLE = """
    WITH s AS (
      SELECT user_id,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 1000000)
                  AS BIGINT) AS t,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT user_id,
           CAST(FLOOR(t / 3600) * 3600 AS BIGINT) AS bucket_ts,
           CAST(COUNT(v) AS BIGINT) AS n,
           (list(v ORDER BY t, v))[1]  AS v_open,
           (list(v ORDER BY t, v))[-1] AS v_close,
           MIN(v) AS v_min,
           MAX(v) AS v_max,
           CAST(SUM(v) AS BIGINT) AS v_sum
    FROM s GROUP BY 1, 2
"""


def _resample_agg_src(spark, sf):
    ev = load_table(spark, sf, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return ev.select(
        "user_id",
        F.floor(
            F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(1_000_000)
        ).cast("long").alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )


@register("streaming_ohlc_rollup_events", oracle=_RESAMPLE_AGG_ORACLE)
def streaming_ohlc_rollup_events(spark, sf):
    """The persisted face of `resample_agg_events`: the continuous
    rollup sink (streaming/sinks.py streaming_rollup_sink) with the
    round-8 first/last kinds maintains the hourly OHLC table across
    TWO availableNow runs split on t (the second run's earlier keys
    merge into stored buckets: count/sum add, min/max and the
    struct-ordered first/last re-minimize — the mergeable-aggregate
    contract end to end).  Only touched buckets rewrite per batch.
    Reading the state back must equal the batch operator — the SAME
    oracle as `resample_agg_events` verifies both."""
    import os
    import shutil
    import tempfile

    from .streaming.sinks import streaming_rollup_sink

    # NULL values are dropped UPSTREAM: the sink's "count" kind counts
    # rows (including NULL v) while the oracle and the batch operator
    # count non-NULL values — filtering first makes the two identical
    # by construction instead of by the fixture's zero-NULL luck
    # (review r8)
    src_df = (
        _resample_agg_src(spark, sf)
        .where(F.col("v").isNotNull())
        .withColumn(
            "bucket_ts",
            (F.floor(F.col("t") / F.lit(3600)) * F.lit(3600)).cast("long"),
        )
    )
    lo, hi = src_df.agg(F.min("t"), F.max("t")).first()
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="ohlc_rollup_row_")
    state = f"{_session_scratch('ohlc_rollup_state_')}/state"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            src_df.where(F.col("t") <= mid),
            src_df.where(F.col("t") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(src_df.schema).parquet(src)
            q = (
                streaming_rollup_sink(
                    stream,
                    state,
                    ["user_id", "bucket_ts"],
                    {
                        "n": ("count", None),
                        "v_open": ("first", ("t", "v")),
                        "v_close": ("last", ("t", "v")),
                        "v_min": ("min", "v"),
                        "v_max": ("max", "v"),
                        "v_sum": ("sum", "v"),
                    },
                    checkpoint=f"{tmp}/cp",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(state)
        return out.select(
            "user_id",
            "bucket_ts",
            F.col("n").cast("long").alias("n"),
            F.col("v_open.v").cast("long").alias("v_open"),
            F.col("v_close.v").cast("long").alias("v_close"),
            F.col("v_min").cast("long").alias("v_min"),
            F.col("v_max").cast("long").alias("v_max"),
            F.col("v_sum").cast("long").alias("v_sum"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register("resample_agg_events", oracle=_RESAMPLE_AGG_ORACLE)
def resample_agg_events(spark, sf):
    """OHLC-style hourly downsampling (operators/timeseries.py
    resample_agg, deterministic mode) of each user's event values in
    CENTS — all-integer output, so sums are order-independent and the
    row is hash-exact with zero rounding surface.  open/close are the
    bucket's first/last values by (t, v) lexicographic order (the
    deterministic tie-break; the oracle replays it with an ordered
    list's ends).  ONE keyed partial+final aggregate — no window, no
    per-key series; the deterministic mode plans a spill-safe
    SortAggregate (struct-ordered min/max aren't codegen-supported),
    `deterministic=False` is the pure-HashAggregate fast path when
    timestamps are unique anyway."""
    from .operators.timeseries import resample_agg

    out = resample_agg(
        _resample_agg_src(spark, sf), ["user_id"], "t", "v", step=3600
    )
    return out.select(
        "user_id",
        "bucket_ts",
        "n",
        F.col("v_open").cast("long").alias("v_open"),
        F.col("v_close").cast("long").alias("v_close"),
        F.col("v_min").cast("long").alias("v_min"),
        F.col("v_max").cast("long").alias("v_max"),
        F.col("v_sum").cast("long").alias("v_sum"),
    )


_SCD2_ORACLE = """
    WITH u AS (
      SELECT user_id, event_type, event_id,
             LAG(event_id)   OVER w AS prev_id,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), s AS (
      SELECT user_id, event_type, event_id
      FROM u
      WHERE prev_id IS NULL OR event_type IS DISTINCT FROM prev_type
    )
    SELECT user_id, event_type,
           event_id AS valid_from,
           LEAD(event_id) OVER (
             PARTITION BY user_id ORDER BY event_id) AS valid_to
    FROM s
"""


@register("streaming_scd2_events", oracle=_SCD2_ORACLE)
def streaming_scd2_events(spark, sf):
    """The SCD2 sink end to end (streaming/sinks.py
    streaming_scd2_sink): the event stream arrives as TWO availableNow
    runs split on event_id (the version-order column, so run 1 is the
    per-key prefix), sharing one checkpoint; the second run merges on
    the CURRENT slice persisted by the first — closed versions upsert
    into period partitions keyed on (key, valid_from), the current
    slice overwrites at O(keys).  The monotone guard (updates at/
    before the open version's valid_from are dropped) makes replay
    idempotent BY CONSTRUCTION (tests/test_streaming.py redelivers the
    whole source on a fresh checkpoint and converges) — so the read
    state must equal the batch `scd2_user_event_type` row for row,
    which is the oracle."""
    import shutil
    import tempfile

    from .streaming.sinks import scd2_read, streaming_scd2_sink

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id"
    )
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="scd2_stream_row_")
    state = f"{_session_scratch('scd2_stream_state_')}/state"
    try:
        import os

        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("event_id") <= mid),
            ev.where(F.col("event_id") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(ev.schema).parquet(src)
            q = (
                streaming_scd2_sink(
                    stream,
                    state,
                    ["user_id"],
                    ["event_type"],
                    "event_id",
                    checkpoint=f"{tmp}/cp",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return scd2_read(spark, state).select(
            "user_id",
            "event_type",
            F.col("valid_from").cast("long").alias("valid_from"),
            F.col("valid_to").cast("long").alias("valid_to"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "scd2_snapshot_events",
    oracle="""
    WITH u AS (
      SELECT user_id, event_type, event_id,
             LAG(event_id)   OVER w AS prev_id,
             LAG(event_type) OVER w AS prev_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    ), s AS (
      SELECT user_id, event_type, event_id
      FROM u
      WHERE prev_id IS NULL OR event_type IS DISTINCT FROM prev_type
    ), chain AS (
      SELECT user_id, event_type,
             event_id AS valid_from,
             LEAD(event_id) OVER (
               PARTITION BY user_id ORDER BY event_id) AS valid_to
      FROM s
    ), t AS (
      SELECT CAST((MIN(event_id) + MAX(event_id)) // 2 AS BIGINT) AS at
      FROM events
    )
    SELECT user_id, event_type, valid_from
    FROM chain, t
    WHERE valid_from <= at AND (valid_to IS NULL OR valid_to > at)
    """,
)
def scd2_snapshot_events(spark, sf):
    """Point-in-time reconstruction (operators/scd.py scd2_snapshot_at)
    of the SCD2 chain at the data's midpoint event_id ((min+max)/2,
    computed identically on both engines — sf-independent): exactly one
    version per user whose validity interval covers the instant.  The
    snapshot is a plain filter over the history — partition/Z-order on
    valid_from and it prunes at the scan; the oracle is the same
    BETWEEN-style predicate over the LAG/LEAD chain CTE."""
    from .operators.scd import scd2_apply, scd2_snapshot_at

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id"
    )
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    at = int((lo + hi) // 2)
    chain = scd2_apply(None, ev, ["user_id"], ["event_type"], "event_id")
    return scd2_snapshot_at(chain, at).select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("long").alias("valid_from"),
    )


@register("scd2_user_event_type", oracle=_SCD2_ORACLE)
def scd2_user_event_type(spark, sf):
    """SCD2 initial load (operators/scd.py scd2_apply, history=None):
    each user's event_type observations, keyed on event_id, become a
    version chain — consecutive duplicates collapse, each surviving
    change closes the previous version at its event_id and opens a new
    one (valid_to NULL = current).  The versioned-dimension primitive
    for pipeline metadata (per-source license status, per-domain
    quality tier).  All-integer/string output: zero rounding surface.
    The oracle is the textbook LAG-change-filter + LEAD-close window
    SQL; the Spark plan is the same two keyed windows (per-key state
    is the batch's rows for that key), no driver loop."""
    from .operators.scd import scd2_apply

    ev = load_table(spark, sf, "events").select(
        "user_id", "event_type", "event_id"
    )
    return scd2_apply(
        None, ev, ["user_id"], ["event_type"], "event_id"
    ).select(
        "user_id",
        "event_type",
        F.col("valid_from").cast("long").alias("valid_from"),
        F.col("valid_to").cast("long").alias("valid_to"),
    )


_CUSUM_ORACLE = """
    WITH m AS (
      SELECT user_id, event_id,
             CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS x
      FROM events
    ), arr AS (
      SELECT user_id, list(x ORDER BY event_id) AS xs,
             list(event_id ORDER BY event_id) AS ids
      FROM m GROUP BY user_id
    ), pos AS (
      SELECT user_id, unnest(ids) AS event_id, unnest(xs) AS x,
             unnest(range(1, len(xs) + 1)) AS i, xs
      FROM arr
    ), st AS (
      SELECT user_id, event_id, x,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs[1:i-1]),
          (acc, v) -> CASE WHEN v IS NULL THEN acc
                           WHEN GREATEST(0.0, acc + (v - 50.0 - 5.0))
                                > 400.0 THEN 0.0
                           ELSE GREATEST(0.0, acc + (v - 50.0 - 5.0))
                           END) AS hp,
        list_reduce(list_prepend(CAST(0.0 AS DOUBLE), xs[1:i-1]),
          (acc, v) -> CASE WHEN v IS NULL THEN acc
                           WHEN GREATEST(0.0, acc - (v - 50.0 + 5.0))
                                > 400.0 THEN 0.0
                           ELSE GREATEST(0.0, acc - (v - 50.0 + 5.0))
                           END) AS lp
      FROM pos
    )
    SELECT user_id, event_id, COALESCE(x, -1.0) AS v,
      CASE WHEN x IS NULL THEN -1.0
           ELSE ROUND(GREATEST(0.0, hp + (x - 50.0 - 5.0)), 6) END
        AS cusum_hi,
      CASE WHEN x IS NULL THEN -1.0
           ELSE ROUND(GREATEST(0.0, lp - (x - 50.0 + 5.0)), 6) END
        AS cusum_lo,
      CASE WHEN x IS NULL THEN 0
           WHEN GREATEST(0.0, hp + (x - 50.0 - 5.0)) > 400.0 THEN 1
           WHEN GREATEST(0.0, lp - (x - 50.0 + 5.0)) > 400.0 THEN -1
           ELSE 0 END AS alarm
    FROM st
"""


def _session_scratch(prefix: str) -> str:
    """A scratch directory that outlives the per-row tmp dir (cleaned at
    interpreter exit, not at row return) — for streaming rows whose sink
    parquet must stay readable after the row's tmp dir is removed,
    WITHOUT collecting the event-level result to the driver (ADVICE r7:
    cusum_stream's collect() grew linearly with sf)."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _cusum_masked_events(spark, sf):
    return load_table(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v"),
    )


def _cusum_projection(out):
    return out.select(
        "user_id",
        "event_id",
        F.coalesce("v", F.lit(-1.0)).alias("v"),
        F.coalesce(F.round("cusum_hi", 6), F.lit(-1.0)).alias("cusum_hi"),
        F.coalesce(F.round("cusum_lo", 6), F.lit(-1.0)).alias("cusum_lo"),
        "alarm",
    )


@register(
    "seasonal_anomalies_events",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, CAST(hour(ts) AS INT) AS hod,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL
    ), p AS (
      SELECT event_type, hod, COUNT(*) AS n,
             SUM(CAST(v AS HUGEINT)) AS s,
             SUM(CAST(v AS HUGEINT) * v) AS ss
      FROM e GROUP BY 1, 2
    )
    SELECT e.event_id, e.event_type, e.hod, e.v AS value_cents,
           CAST(CASE WHEN p.n < 5 THEN 0
                WHEN (CAST(e.v AS HUGEINT) * p.n - p.s)
                     * (CAST(e.v AS HUGEINT) * p.n - p.s)
                     > 9 * (p.n * p.ss - p.s * p.s) THEN 1
                ELSE 0 END AS INTEGER) AS is_anomaly
    FROM e JOIN p ON e.event_type = p.event_type AND e.hod = p.hod
    """,
)
def seasonal_anomalies_events(spark, sf):
    """Seasonal-profile anomaly screening (operators/timeseries.py
    seasonal_anomalies, exact_integers=True): each event value (in
    cents) is compared against its OWN (event_type, hour-of-day)
    stratum's mean/std and flagged beyond z=3 — the seasonal-naive
    baseline that a global z-score cannot express for metrics with
    daily shape (179 anomalies over 10 000 events at sf0.01; strata
    under 5 observations stay silent).  ONE keyed aggregate builds the
    |types| x 24 profile frame (AQE broadcasts the join back); no
    window, sort, or per-key series.  The exact-integer mode evaluates
    ``(x*n - s)^2 > z^2 * (n*ss - s^2)`` in DECIMAL(38,0) — the
    variance inequality scaled by n^2 — so Spark and the HUGEINT
    oracle agree bit-for-bit with no float boundary anywhere."""
    from .operators.timeseries import seasonal_anomalies

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    out = seasonal_anomalies(
        ev,
        ["event_type"],
        "ts",
        "v",
        bucket="hour_of_day",
        z=3,
        min_count=5,
        exact_integers=True,
        bucket_col="hod",
    )
    return out.select(
        "event_id",
        "event_type",
        F.col("hod").cast("int").alias("hod"),
        F.col("v").alias("value_cents"),
        F.col("is_anomaly").cast("int").alias("is_anomaly"),
    )


@register(
    "welch_ttest_events",
    oracle="""
    WITH e AS (
      SELECT CAST(hour(ts) AS INT) AS hod, event_type,
             CAST(ROUND(value * 100) AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ), m AS (
      SELECT hod,
             CAST(COUNT(*) FILTER (event_type = 'click') AS DOUBLE) AS na,
             SUM(v)     FILTER (event_type = 'click')    AS sa,
             SUM(v * v) FILTER (event_type = 'click')    AS ssa,
             CAST(COUNT(*) FILTER (event_type = 'purchase') AS DOUBLE) AS nb,
             SUM(v)     FILTER (event_type = 'purchase') AS sb,
             SUM(v * v) FILTER (event_type = 'purchase') AS ssb
      FROM e GROUP BY hod
    ), s AS (
      SELECT hod, na, nb, sa / na AS ma, sb / nb AS mb,
             ((ssa - sa * sa / na) / (na - 1.0)) / na AS sea,
             ((ssb - sb * sb / nb) / (nb - 1.0)) / nb AS seb
      FROM m
    )
    SELECT hod, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           ROUND(ma, 4) + 0.0 AS mean_a, ROUND(mb, 4) + 0.0 AS mean_b,
           CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
                THEN ROUND((ma - mb) / sqrt(sea + seb), 4) + 0.0 END
             AS t_stat,
           CASE WHEN na >= 2 AND nb >= 2 AND sea + seb > 0.0
                THEN ROUND(((sea + seb) * (sea + seb))
                           / (sea * sea / (na - 1.0)
                              + seb * seb / (nb - 1.0)), 4) + 0.0 END
             AS dof
    FROM s
    """,
)
def welch_ttest_events(spark, sf):
    """Per-hour Welch two-sample t-test (operators/stats.py
    welch_ttest): click vs purchase event values in cents, one test
    per hour-of-day stratum — the A/B-comparison primitive.  ONE
    conditional aggregate over one scan (six aggregation doubles per
    stratum, nothing stratum-sized anywhere); rows outside both
    cohorts are filtered before the aggregate.  Every moment is an
    exact integer sum at this scale (cents * counts stay under 2^53),
    and t/dof are built from +,-,*,/,sqrt only — all IEEE
    correctly-rounded, no transcendental — so ROUND(,4) compares
    deterministic doubles; the sf0.001 strata with n<2 exercise the
    NULL (undefined-test) path."""
    from .operators.stats import welch_ttest

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.hour("ts").cast("int").alias("hod"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return welch_ttest(
        ev, "event_type", "v", "click", "purchase", by_cols=["hod"]
    )


@register(
    "chi2_type_hour_events",
    oracle="""
    WITH e AS (
      SELECT event_type AS a, CAST(hour(ts) AS INT) AS b
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), obs AS (
      SELECT a, b, COUNT(*) AS o FROM e GROUP BY a, b
    ), ra AS (
      SELECT a, SUM(o) AS ra FROM obs GROUP BY a
    ), cb AS (
      SELECT b, SUM(o) AS cb FROM obs GROUP BY b
    ), n AS (
      SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs
    ), cells AS (
      SELECT CAST(obs.o AS DOUBLE) AS o,
             CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE) / n.n AS e,
             n.n
      FROM obs
      JOIN ra ON obs.a = ra.a
      JOIN cb ON obs.b = cb.b, n
    )
    SELECT ROUND(SUM((o - e) * (o - e) / e - e) + FIRST(n), 4) + 0.0
             AS chi2,
           CAST((SELECT (COUNT(*) - 1) FROM ra)
                * (SELECT (COUNT(*) - 1) FROM cb) AS BIGINT) AS dof,
           CAST(FIRST(n) AS BIGINT) AS n
    FROM cells
    """,
)
def chi2_type_hour_events(spark, sf):
    """Pearson chi-squared independence test (operators/stats.py
    chi2_independence) of event_type x hour-of-day — the
    categorical-association screen (is traffic mix stationary across
    the day?).  ONE corpus-sized GROUP BY builds the observed table;
    the |A| x |B| closure is NEVER materialized — unobserved cells'
    expectations sum to N - sum_observed(E), so chi2 folds to
    sum_observed((O-E)^2/E - E) + N over two category-keyed equi-joins
    (AQE broadcasts the marginals; no cross product even for
    vocabulary-sized categoricals).  Counts exact; the chi2 SUM over
    the observed cells is the one double-accumulation surface
    (stat-class ROUND(,4); per-cell terms are identical IEEE
    expressions on both engines)."""
    from .operators.stats import chi2_independence

    ev = load_table(spark, sf, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hod")
    )
    return chi2_independence(ev, "event_type", "hod")


@register(
    "spearman_qty_price_lineitem",
    oracle="""
    WITH r AS (
      SELECT l_returnflag AS rf,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    ), rk AS (
      SELECT rf,
             2 * RANK() OVER (PARTITION BY rf ORDER BY x)
               + COUNT(*) OVER (PARTITION BY rf, x) - 1 AS rx,
             2 * RANK() OVER (PARTITION BY rf ORDER BY y)
               + COUNT(*) OVER (PARTITION BY rf, y) - 1 AS ry
      FROM r
    ), m AS (
      SELECT rf, COUNT(*) AS n, SUM(rx) AS sx, SUM(ry) AS sy,
             SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
             SUM(rx * ry) AS sxy
      FROM rk GROUP BY rf
    )
    SELECT rf, CAST(n AS BIGINT) AS n,
           CASE WHEN n >= 2 AND n * sxx - sx * sx > 0
                     AND n * syy - sy * sy > 0
                THEN ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                           / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                  * CAST(n * syy - sy * sy AS DOUBLE)),
                           4) + 0.0
           END AS rho
    FROM m
    """,
)
def spearman_qty_price_lineitem(spark, sf):
    """Per-returnflag Spearman rank correlation (operators/stats.py
    spearman_corr) of quantity vs price-in-cents — the monotone-
    association screen that is robust to the price column's heavy
    tail.  The rank DICTIONARY shape: one GROUP BY per column
    collapses rows to (stratum, value, count) cells, a window
    prefix-sum over DISTINCT values assigns doubled average ranks
    (ties stay integral), two dictionary equi-joins put both ranks on
    each row, ONE final aggregate of six DECIMAL(38,0) sums.  The
    oracle assigns the identical doubled ranks per row as
    2*RANK() + tie_count - 1 (min-rank + ties ⇒ the same average
    rank); both engines carry exact integers (HUGEINT / DECIMAL) into
    the one double division — stat-class ROUND(,4)."""
    from .operators.stats import spearman_corr

    li = (
        load_table(spark, sf, "lineitem")
        .where(
            F.col("l_quantity").isNotNull()
            & F.col("l_extendedprice").isNotNull()
        )
        .select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
    )
    return spearman_corr(li, "x", "y", by_cols=["rf"])


_MWU_VAR_SQL = (
    "CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0"
    " * ((CAST(na + nb AS DOUBLE) + 1.0)"
    "    - CAST(ties AS DOUBLE)"
    "      / (CAST(na + nb AS DOUBLE) * (CAST(na + nb AS DOUBLE) - 1.0)))"
)


@register(
    "mannwhitney_value_events",
    oracle=f"""
    WITH e AS (
      SELECT CAST(hour(ts) AS INT) AS hod, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ), d AS (
      SELECT hod, v,
             COUNT(*) FILTER (event_type = 'click') AS ca,
             COUNT(*) FILTER (event_type = 'purchase') AS cb
      FROM e GROUP BY hod, v
    ), rk AS (
      SELECT hod, ca, cb, ca + cb AS t,
             2 * COALESCE(SUM(ca + cb) OVER (
                   PARTITION BY hod ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (ca + cb) + 1 AS r2
      FROM d
    ), m AS (
      SELECT hod, SUM(ca) AS na, SUM(cb) AS nb,
             SUM(ca * r2) AS r2a, SUM(t * t * t - t) AS ties
      FROM rk GROUP BY hod
    )
    SELECT hod, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(r2a - na * (na + 1) AS DOUBLE) / 2.0 AS u_stat,
           CASE WHEN na >= 1 AND nb >= 1 AND {_MWU_VAR_SQL} > 0.0
                THEN ROUND((CAST(r2a - na * (na + 1) AS DOUBLE)
                            - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                           / (2.0 * sqrt({_MWU_VAR_SQL})), 4) + 0.0
           END AS z_stat
    FROM m
    """,
)
def mannwhitney_value_events(spark, sf):
    """Per-hour Mann–Whitney U test (operators/stats.py
    mann_whitney_u) of click vs purchase values in cents — the
    nonparametric A/B companion to the Welch row (no normality
    assumption; detects stochastic dominance, not mean shift).  The
    rank-sum folds DIRECTLY off the combined rank dictionary (cohort
    counts weight the doubled average ranks) — no join back to rows;
    everything after the first GROUP BY is dictionary-sized (3,305
    distinct cent values at the gate).  Rank sums and the tie term
    Σ(t³−t) are exact DECIMAL/HUGEINT integers on both engines;
    u_stat is an exact half-integer (the /2.0 is lossless) and z's
    division/sqrt is the one double surface (stat-class
    ROUND(,4))."""
    from .operators.stats import mann_whitney_u

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "purchase")
        )
        .select(
            F.hour("ts").cast("int").alias("hod"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return mann_whitney_u(
        ev, "event_type", "v", "click", "purchase", by_cols=["hod"]
    )


@register(
    "ks_value_click_view_events",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'view')
    ), d AS (
      SELECT v,
             COUNT(*) FILTER (event_type = 'click') AS ca,
             COUNT(*) FILTER (event_type = 'view') AS cb
      FROM e GROUP BY v
    ), c AS (
      SELECT SUM(ca) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cca,
             SUM(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ccb,
             SUM(ca) OVER () AS na,
             SUM(cb) OVER () AS nb
      FROM d
    )
    SELECT CAST(MAX(na) AS BIGINT) AS n_a, CAST(MAX(nb) AS BIGINT) AS n_b,
           ROUND(CAST(MAX(ABS(cca * nb - ccb * na)) AS DOUBLE)
                 / (CAST(MAX(na) AS DOUBLE) * CAST(MAX(nb) AS DOUBLE)),
                 6) + 0.0 AS d_stat
    FROM c
    """,
)
def ks_value_click_view_events(spark, sf):
    """Global two-sample Kolmogorov–Smirnov distance (operators/
    stats.py ks_2sample) between the click and view value
    distributions in cents — the distribution-shift screen (did the
    metric's whole shape move, not just its mean?).  The combined
    rank dictionary carries INCLUSIVE per-cohort prefix counts and D
    is evaluated cross-multiplied — max |ca·n_b − cb·n_a| over exact
    integers — so the max is deterministic and the single final
    division of two exact integers is bit-identical across engines
    (ROUND(,6) is display only).  One GROUP BY + one window over
    distinct cent values + one aggregate."""
    from .operators.stats import ks_2sample

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("click", "view")
        )
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return ks_2sample(ev, "event_type", "v", "click", "view")


@register(
    "anova_value_by_type_events",
    oracle="""
    WITH e AS (
      SELECT CAST(hour(ts) AS INT) AS hod, event_type AS g,
             CAST(ROUND(value * 100) AS DOUBLE) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), l AS (
      SELECT hod, g, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(v) AS s, SUM(v * v) AS ss
      FROM e GROUP BY hod, g
    ), m AS (
      SELECT hod, COUNT(*) AS k, SUM(n) AS nn, SUM(s) AS grand,
             SUM(ss) AS sstot, SUM(s * s / n) AS sgrp
      FROM l GROUP BY hod
    )
    SELECT hod, CAST(k AS BIGINT) AS k_groups, CAST(nn AS BIGINT) AS n,
           CASE WHEN k >= 2 AND nn > k AND sstot - sgrp > 0.0
                THEN ROUND(((sgrp - grand * grand / nn)
                            / (CAST(k AS DOUBLE) - 1.0))
                           / ((sstot - sgrp) / (nn - CAST(k AS DOUBLE))),
                           4) + 0.0
           END AS f_stat
    FROM m
    """,
)
def anova_value_by_type_events(spark, sf):
    """Per-hour one-way ANOVA (operators/stats.py anova_oneway) of
    event value in cents across ALL FIVE event types — the k-cohort
    generalization of the Welch row (is the metric's mean the same
    across every event type this hour?).  ONE GROUP BY (hod, type)
    folds rows to (n, Σv, Σv²) triples, ONE level-frame aggregate per
    stratum; at the gate every per-level moment is an exact integer
    sum (cents² × counts < 2⁵³), so the engines differ only in the
    five-term cross-level Σ(sᵢ²/nᵢ) accumulation order — f_stat is
    O(1)-magnitude, stat-class ROUND(,4); the row selects the counts
    + statistic (the raw SS columns are ~10¹² magnitude where
    ROUND(,4) would pin 16 significant digits — tighter than the
    double-sum class supports)."""
    from .operators.stats import anova_oneway

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            F.hour("ts").cast("int").alias("hod"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return anova_oneway(ev, "event_type", "v", by_cols=["hod"]).select(
        "hod", "k_groups", "n", "f_stat"
    )


@register(
    "tfidf_keywords_documents",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({ws_tokens_sql('text')}) AS t FROM documents
    ), tf AS (
      SELECT doc_id, t, COUNT(*) AS tf FROM tk GROUP BY doc_id, t
    ), dfreq AS (
      SELECT t, COUNT(*) AS df FROM tf GROUP BY t
    ), nn AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents
    ), scored AS (
      SELECT doc_id, t AS token, tf,
             ROUND(CAST(tf AS DOUBLE)
                   * (ln((nn.n + 1.0) / (CAST(df AS DOUBLE) + 1.0)) + 1.0),
                   6) + 0.0 AS score
      FROM tf JOIN dfreq USING (t), nn
      WHERE df >= 2
    ), rk AS (
      SELECT doc_id, token, tf, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token) AS rnk
      FROM scored
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score,
           CAST(rnk AS INT) AS rnk
    FROM rk WHERE rnk <= 3
    """,
)
def tfidf_keywords_documents(spark, sf):
    """Top-3 TF-IDF keywords per document (operators/retrieval.py
    tfidf_keywords, smoothed sklearn-form idf, min_df=2) — keyword
    extraction over the documents table.  One corpus explode + one
    (doc, token) GROUP BY are the only corpus shuffles; document
    frequencies are vocabulary-sized (broadcast), the doc count a
    1-row broadcast, and the per-doc top-k window partitions on
    doc_id (a task holds ONE document's distinct tokens).  Ranking
    uses the ROUNDED score with a token tie-break — the BM25 rows'
    cross-engine discipline: equal (tf, df) pairs are exactly equal
    on both engines and fall to the token order; ln sits behind
    ROUND(,6) (transcendental class, margin-checked)."""
    from .operators.retrieval import tfidf_keywords

    d = load_table(spark, sf, "documents")
    return tfidf_keywords(d, "text", "doc_id", k=3, min_df=2)


def _containment_oracle(n: int = 8, mod: int = 11, thr: int = 500) -> str:
    def grams(col: str) -> str:
        toks = _ws_sql(col)
        return (
            f"CASE WHEN length({toks}) >= {n} THEN "
            f"list_transform(range(1, length({toks}) - {n - 1} + 1), "
            f"i -> array_to_string(({toks})[CAST(i AS INT):CAST(i AS INT)"
            f" + {n - 1}], ' ')) "
            f"ELSE [array_to_string({toks}, ' ')] END"
        )

    return f"""
    WITH q AS (
      SELECT doc_id AS q_id, unnest(list_distinct({grams('text')})) AS g
      FROM documents WHERE doc_id % {mod} = 0
    ), qn AS (
      SELECT q_id, COUNT(*) AS qn FROM q GROUP BY q_id
    ), c AS (
      SELECT doc_id AS c_id, unnest(list_distinct({grams('text')})) AS g
      FROM documents
    ), m AS (
      SELECT q_id, c_id, COUNT(*) AS m
      FROM q JOIN c USING (g) GROUP BY q_id, c_id
    )
    SELECT q_id, c_id, CAST(m AS BIGINT) AS n_shared,
           CAST(qn AS BIGINT) AS n_query_grams,
           ROUND(CAST(m AS DOUBLE) / CAST(qn AS DOUBLE), 6) + 0.0
             AS containment
    FROM m JOIN qn USING (q_id)
    WHERE 1000 * m >= {thr} * qn AND q_id <> c_id
    """


@register("containment_join_documents", oracle=_containment_oracle())
def containment_join_documents(spark, sf):
    """Asymmetric 8-gram containment join (operators/dedup.py
    containment_join): every 11th document probes the full corpus for
    documents containing ≥ 50 % of its distinct 8-grams — the
    verbatim-inclusion detector (quotes / license blocks / benchmark
    prompts swallowed by longer documents), the one-sided case the
    symmetric Jaccard dedup family structurally misses.  Grams travel
    as 60-bit md5 ints; the gram equi-join IS the inverted index
    (never doc×doc); the threshold compare is exact-integer per-mille
    (1000·m ≥ 500·qn — zero float boundary; the oracle joins raw gram
    strings, so a hash collision would surface as a mismatch, which
    is the point of the budget).  Self-pairs excluded on id."""
    from .operators.dedup import containment_join

    d = load_table(spark, sf, "documents")
    q = d.where(F.col("doc_id") % 11 == 0).select(
        F.col("doc_id").alias("q_id"), "text"
    )
    c = d.select(F.col("doc_id").alias("c_id"), "text")
    out = containment_join(
        q, c, "q_id", "text", "c_id", "text", n=8, threshold=0.5
    )
    return out.where(F.col("q_id") != F.col("c_id"))


@register(
    "psi_value_drift_events",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 'p1' ELSE 'p2' END AS period,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), d AS (
      SELECT event_type,
             CAST(v >= 500 AS INT) + CAST(v >= 1500 AS INT)
               + CAST(v >= 3500 AS INT) + CAST(v >= 7000 AS INT)
               + CAST(v >= 15000 AS INT) AS bucket,
             COUNT(*) FILTER (period = 'p1') AS ca,
             COUNT(*) FILTER (period = 'p2') AS cb
      FROM e GROUP BY event_type, bucket
    ), t AS (
      SELECT event_type, SUM(ca) AS na, SUM(cb) AS nb FROM d
      GROUP BY event_type
    ), j AS (
      SELECT d.event_type,
             (CAST(ca AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + 6.0) AS p,
             (CAST(cb AS DOUBLE) + 1.0) / (CAST(nb AS DOUBLE) + 6.0) AS q,
             na, nb
      FROM d JOIN t ON d.event_type = t.event_type
    )
    SELECT event_type, CAST(FIRST(na) AS BIGINT) AS n_a,
           CAST(FIRST(nb) AS BIGINT) AS n_b,
           CASE WHEN FIRST(na) >= 1 AND FIRST(nb) >= 1 THEN
             ROUND(SUM((p - q) * ln(p / q))
                   + (6.0 - COUNT(*))
                     * ((1.0 / (CAST(FIRST(na) AS DOUBLE) + 6.0)
                         - 1.0 / (CAST(FIRST(nb) AS DOUBLE) + 6.0))
                        * ln((1.0 / (CAST(FIRST(na) AS DOUBLE) + 6.0))
                             / (1.0 / (CAST(FIRST(nb) AS DOUBLE) + 6.0)))),
                   6) + 0.0
           END AS psi
    FROM j GROUP BY event_type
    """,
)
def psi_value_drift_events(spark, sf):
    """Per-event-type Population Stability Index (operators/
    selection.py psi_drift) of the value distribution in cents,
    first half of the month vs second — PSI's canonical temporal-
    drift question (did the metric's SHAPE move between periods?),
    with fixed cent edges [500, 1500, 3500, 7000, 15000] so the
    metric is comparable across runs.  ONE conditional GROUP BY
    (type, bucket) — bucket assignment is pure integer comparisons —
    plus a |strata|-row broadcast totals join; buckets unobserved in
    both cohorts fold in algebraically via the chi-squared closure
    trick — the oracle's (B − k_obs)·(p₀−q₀)ln(p₀/q₀) term mirrors
    the operator's op order exactly (same reciprocals, same ln
    argument) for bit-matched doubles.  Counts exact; the 6-term ln sum is the transcendental
    surface (ROUND(,6), margin-checked)."""
    from .operators.selection import psi_drift

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.when(F.dayofmonth("ts") <= 15, "p1").otherwise("p2").alias(
                "period"
            ),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return psi_drift(
        ev,
        "period",
        "v",
        "p1",
        "p2",
        [500.0, 1500.0, 3500.0, 7000.0, 15000.0],
        by_cols=["event_type"],
    )


@register(
    "moments_value_by_type_events",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS DOUBLE) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), m AS (
      SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
             SUM(v) AS s1, SUM(v * v) AS s2,
             SUM(v * v * v) AS s3, SUM(v * v * v * v) AS s4
      FROM e GROUP BY event_type
    ), c AS (
      SELECT event_type, n, s1 / n AS mean,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3.0 * (s1 / n) * s2 / n
               + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4.0 * (s1 / n) * s3 / n
               + 6.0 * (s1 / n) * (s1 / n) * s2 / n
               - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM m
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(mean, 4) + 0.0 AS mean,
           CASE WHEN n >= 2 AND m2 > 0.0
                THEN ROUND(m3 / POW(m2, 1.5), 4) + 0.0 END AS skewness,
           CASE WHEN n >= 2 AND m2 > 0.0
                THEN ROUND(m4 / (m2 * m2) - 3.0, 4) + 0.0 END
             AS kurtosis_excess
    FROM c
    """,
)
def moments_value_by_type_events(spark, sf):
    """Per-event-type distribution-shape moments (operators/profile.py
    grouped_moments, population form): skewness and excess kurtosis of
    the value-in-cents distribution from RAW POWER SUMS — the
    is-this-even-near-normal screen that gates the t-test family.
    Engine-neutral by construction: Spark's F.skewness and DuckDB's
    skewness() implement DIFFERENT corrections (population vs sample),
    so both sides compute identical expressions over Σv..Σv⁴ instead.
    ONE aggregate, five doubles per stratum.  The Σv⁴ sum exceeds 2⁵³
    at this scale (the one inexact accumulation — relative 1e-16, and
    skew/kurt are RATIOS of same-scale moments so the noise divides
    out); the row emits the O(1)-magnitude shape stats + mean
    (stat-class ROUND(,4)) and leaves the 10⁸-magnitude raw variance
    to the operator (the ANOVA row's 16-significant-digit lesson)."""
    from .operators.profile import grouped_moments

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return grouped_moments(ev, "v", by_cols=["event_type"]).select(
        "event_type", "n", "mean", "skewness", "kurtosis_excess"
    )


@register(
    "benford_value_events",
    oracle="""
    WITH e AS (
      SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
        AND CAST(ROUND(value * 100) AS BIGINT) > 0
    ), d AS (
      SELECT event_type,
             CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INT) AS digit,
             COUNT(*) AS cnt
      FROM e GROUP BY event_type, digit
    ), t AS (
      SELECT event_type, CAST(SUM(cnt) AS DOUBLE) AS n FROM d
      GROUP BY event_type
    ), c AS (
      SELECT d.event_type, digit, cnt, n,
             ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) AS ep
      FROM d JOIN t USING (event_type)
    ), x AS (
      SELECT event_type,
             SUM((CAST(cnt AS DOUBLE) - n * ep)
                 * (CAST(cnt AS DOUBLE) - n * ep) / (n * ep))
               + FIRST(n) - SUM(n * ep) AS chi2
      FROM c GROUP BY event_type
    )
    SELECT c.event_type, digit, CAST(cnt AS BIGINT) AS cnt,
           ROUND(CAST(cnt AS DOUBLE) / n, 4) + 0.0 AS obs_p,
           ROUND(ep, 4) + 0.0 AS expected_p,
           ROUND(chi2, 4) + 0.0 AS chi2
    FROM c JOIN x USING (event_type)
    """,
)
def benford_value_events(spark, sf):
    """Per-event-type first-digit (Benford) profile (operators/
    stats.py benford_profile) of the value in cents — the
    synthetic-data / unit-mixup screen (this fixture's values are
    near-uniform in scale, so the chi2 is LARGE: the screen firing on
    non-Benford data is the correct reading, and both engines must
    agree on exactly how large).  First digits come from the decimal
    STRING of the integer — zero float boundary; ≤ 9 cells per
    stratum from ONE GROUP BY; digits unobserved in a stratum fold
    into chi2 algebraically (the chi-squared closure, mirrored
    op-for-op in the oracle).  Only expected_p and the chi2 sum touch
    ln (stat-class ROUND(,4))."""
    from .operators.stats import benford_profile

    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    return benford_profile(ev, "v", by_cols=["event_type"])


@register(
    "entropy_type_by_hour_events",
    oracle="""
    WITH e AS (
      SELECT CAST(hour(ts) AS INT) AS hod, event_type AS c
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), lv AS (
      SELECT hod, c, COUNT(*) AS cnt FROM e GROUP BY hod, c
    ), t AS (
      SELECT hod, SUM(cnt) AS n FROM lv GROUP BY hod
    ), j AS (
      SELECT lv.hod, CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS p, n
      FROM lv JOIN t USING (hod)
    )
    SELECT hod, CAST(FIRST(n) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS k_levels,
           ROUND(-SUM(p * ln(p)), 6) + 0.0 AS entropy,
           CASE WHEN COUNT(*) >= 2
                THEN ROUND(-SUM(p * ln(p))
                           / ln(CAST(COUNT(*) AS DOUBLE)), 6) + 0.0
           END AS entropy_norm
    FROM j GROUP BY hod
    """,
)
def entropy_type_by_hour_events(spark, sf):
    """Per-hour Shannon entropy of the event-type mix
    (operators/stats.py categorical_entropy) — the traffic-diversity
    screen that pairs with the chi-squared row (chi2 asks IS the mix
    hour-dependent; entropy says how balanced each hour's mix is,
    normalized to [0,1]).  ONE GROUP BY (hour, type) + one
    level-frame fold — the intermediate is the observed level set
    (≤ 24×5 cells), never row-sized.  Counts exact; the five-term
    Σ p·ln(p) is the transcendental surface (stat-class
    ROUND(,6) on O(1)-magnitude values)."""
    from .operators.stats import categorical_entropy

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull() & F.col("ts").isNotNull()
    ).select(F.hour("ts").cast("int").alias("hod"), "event_type")
    return categorical_entropy(ev, "event_type", by_cols=["hod"])


@register(
    "target_encode_events",
    oracle="""
    WITH y AS (
      SELECT event_id, event_type,
             CAST(ROUND(value * 100) AS DOUBLE) AS v
      FROM events
    ), d AS (
      SELECT event_type AS c, CAST(COUNT(*) AS DOUBLE) AS n, SUM(v) AS s
      FROM y WHERE event_type IS NOT NULL AND v IS NOT NULL
      GROUP BY event_type
    ), p AS (
      SELECT SUM(v) / COUNT(v) AS prior FROM y WHERE v IS NOT NULL
    )
    SELECT event_id, event_type,
           CAST(ROUND((CASE
             WHEN event_type IS NULL THEN prior
             WHEN v IS NOT NULL AND COALESCE(n, 0) >= 1.0
               THEN (COALESCE(s, 0) - v + 50.0 * prior)
                    / (COALESCE(n, 0) - 1.0 + 50.0)
             ELSE (COALESCE(s, 0) + 50.0 * prior)
                  / (COALESCE(n, 0) + 50.0)
           END) * 100.0) AS BIGINT) AS te_centi
    FROM y LEFT JOIN d ON y.event_type = d.c, p
    """,
)
def target_encode_events(spark, sf):
    """Leave-one-out smoothed target encoding (operators/features.py
    target_encode, Micci-Barreca 2001, m=50) of event_type against
    the value in cents — the leakage-safe training-time categorical
    code (each row is encoded as if held out; a singleton category
    falls back to the prior EXACTLY).  The encoder dictionary is
    |categories| rows from ONE map-side-combined GROUP BY, broadcast
    back — the corpus never shuffles on the category; each row's code
    is ONE division of exact integer sums (cents), mirrored
    op-for-op in the oracle.  Output is INTEGER hundredths-of-a-cent
    (CAST(ROUND(te·100) AS BIGINT)): the code is a dense continuum,
    and a fractional ROUND tier either crowds the pointwise margin
    budget (tier 6 flagged ~1 % of 10k cells) or hits the
    decimal-boundary hazard where an exact rational like 4851.235 has
    no exact double — Spark HALF_UPs the binary expansion while
    DuckDB rounds the ×100 product, and the two CAN disagree (found
    live on ONE cell of this row at tier 2).  Integer-tier rounding
    is exempt from both: .5 boundaries at this magnitude are exact
    doubles and both engines round them away from zero."""
    from .operators.features import target_encode

    ev = load_table(spark, sf, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    out = target_encode(
        ev, "event_type", "v", smoothing=50.0, loo=True, round_digits=None
    )
    return out.select(
        "event_id",
        "event_type",
        F.round(F.col("te") * 100.0).cast("long").alias("te_centi"),
    )


@register(
    "cramers_v_type_hour_events",
    oracle="""
    WITH e AS (
      SELECT event_type AS a, CAST(hour(ts) AS INT) AS b
      FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
    ), obs AS (
      SELECT a, b, COUNT(*) AS o FROM e GROUP BY a, b
    ), ra AS (
      SELECT a, SUM(o) AS ra FROM obs GROUP BY a
    ), cb AS (
      SELECT b, SUM(o) AS cb FROM obs GROUP BY b
    ), n AS (
      SELECT CAST(SUM(o) AS DOUBLE) AS n FROM obs
    ), cells AS (
      SELECT CAST(obs.o AS DOUBLE) AS o,
             CAST(ra.ra AS DOUBLE) * CAST(cb.cb AS DOUBLE) / n.n AS e,
             n.n
      FROM obs
      JOIN ra ON obs.a = ra.a
      JOIN cb ON obs.b = cb.b, n
    ), x AS (
      SELECT ROUND(SUM((o - e) * (o - e) / e - e) + FIRST(n), 4) + 0.0
               AS chi2,
             CAST((SELECT (COUNT(*) - 1) FROM ra)
                  * (SELECT (COUNT(*) - 1) FROM cb) AS BIGINT) AS dof,
             CAST(FIRST(n) AS BIGINT) AS n,
             LEAST((SELECT COUNT(*) FROM ra),
                   (SELECT COUNT(*) FROM cb)) AS minlv
      FROM cells
    )
    SELECT chi2, dof, n,
           CASE WHEN minlv >= 2
                THEN ROUND(sqrt(chi2 / (CAST(n AS DOUBLE)
                                        * (minlv - 1.0))), 4) + 0.0
           END AS cramers_v
    FROM x
    """,
)
def cramers_v_type_hour_events(spark, sf):
    """The chi-squared row's effect-size companion (operators/
    stats.py chi2_independence(effect_size=True)): Cramér's V —
    sqrt(chi2/(n·(min(|A|,|B|)−1))), Cramér 1946 — the
    sample-size-free association strength (chi2 grows with n even for
    a fixed weak association; V ∈ [0,1] does not).  Same plan as the
    chi2 row (one corpus GROUP BY, marginal equi-joins, no |A|×|B|
    closure); V is computed from the ROUNDED chi2 on both engines, so
    its only new surface is one sqrt of identical doubles."""
    from .operators.stats import chi2_independence

    ev = load_table(spark, sf, "events").select(
        "event_type", F.hour("ts").cast("int").alias("hod")
    )
    return chi2_independence(ev, "event_type", "hod", effect_size=True)


@register(
    "collapse_rare_tokens_documents",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({_ws_sql('text')}) AS t FROM documents
    ), keep AS (
      SELECT t FROM tk GROUP BY t HAVING COUNT(*) >= 100
    ), c AS (
      SELECT CASE WHEN t IN (SELECT t FROM keep) THEN t
                  ELSE '__other__' END AS token_c
      FROM tk
    )
    SELECT token_c, CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM c GROUP BY token_c
    """,
)
def collapse_rare_tokens_documents(spark, sf):
    """Long-tail category collapse (operators/features.py
    collapse_rare_categories, min_count=100) over the document token
    stream — the Zipf-tail fold that precedes one-hot / dictionary
    encodings (every token seen fewer than 100 times maps to
    '__other__', exactly where an unseen-at-inference token lands).
    KEEP dictionary = one GROUP BY HAVING (frequent vocabulary only,
    much smaller than the full vocabulary), broadcast back; the token
    stream never shuffles for the collapse itself.  All-integer
    output grouped to the collapsed vocabulary."""
    from .operators.features import collapse_rare_categories

    tk = load_table(spark, sf, "documents").select(
        F.explode(_dd.ws_tokens(F.col("text"))).alias("t")
    )
    out = collapse_rare_categories(tk, "t", min_count=100)
    return out.groupBy(F.col("t").alias("token_c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_occurrences")
    )


@register(
    "quantile_buckets_lineitem",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS rf,
             CAST(ROUND(l_extendedprice * 100) AS DOUBLE) AS c
      FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), e AS (
      SELECT rf, quantile_cont(c, [0.1, 0.2, 0.3, 0.4, 0.5,
                                   0.6, 0.7, 0.8, 0.9]) AS es
      FROM v GROUP BY rf
    ), b AS (
      SELECT v.rf,
             CAST(c > es[1] AS INT) + CAST(c > es[2] AS INT)
               + CAST(c > es[3] AS INT) + CAST(c > es[4] AS INT)
               + CAST(c > es[5] AS INT) + CAST(c > es[6] AS INT)
               + CAST(c > es[7] AS INT) + CAST(c > es[8] AS INT)
               + CAST(c > es[9] AS INT) AS bucket
      FROM v JOIN e ON v.rf = e.rf
    )
    SELECT rf, CAST(bucket AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY rf, bucket
    """,
)
def quantile_buckets_lineitem(spark, sf):
    """Per-returnflag DECILE assignment of price-in-cents
    (operators/profile.py quantile_buckets, exact mode) — the
    equal-frequency binning that feeds PSI references and calibration
    tables, grouped to (stratum, bucket, n) for a compact all-integer
    row.  Edges are ONE grouped exact-percentile aggregate (9 doubles
    per stratum) broadcast back; assignment is Σ(v > edge) — a
    projection, the corpus never shuffles for it.  Exact percentile
    matches DuckDB's quantile_cont bit-for-bit on the same multiset
    (the profiler discipline) and the comparisons are exact, so ties
    at an edge go DOWN identically on both engines — zero rounding
    surface anywhere."""
    from .operators.profile import quantile_buckets

    li = (
        load_table(spark, sf, "lineitem")
        .where(F.col("l_extendedprice").isNotNull())
        .select(
            F.col("l_returnflag").alias("rf"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("double")
            .alias("c"),
        )
    )
    out = quantile_buckets(li, "c", n_buckets=10, by_cols=["rf"])
    return out.groupBy("rf", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


@register(
    "trending_pages_daily_events",
    oracle="""
    WITH e AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(json_extract_string(props, '$.k') AS INT) AS page
      FROM events WHERE ts IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ), c AS (
      SELECT d, page, COUNT(*) AS n FROM e GROUP BY d, page
    ), r AS (
      SELECT d, page, n,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY n DESC, page) AS rnk
      FROM c
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           page AS value, CAST(n AS BIGINT) AS n, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def trending_pages_daily_events(spark, sf):
    """Top-3 pages per day (operators/timeseries.py windowed_topk) —
    the "trending items" rollup over the navigation stream.  ONE
    corpus GROUP BY collapses events to the (day, page) dictionary
    (the only corpus shuffle); the per-window rank runs over the
    DICTIONARY (a task holds one day's distinct pages — 100 here,
    bounded by the page vocabulary at any event volume), with the
    deterministic (count desc, value asc) tie order.  All-integer
    output; the day boundary is F.window('1 day') = epoch-aligned
    date_trunc on both engines."""
    from .operators.timeseries import windowed_topk

    ev = load_table(spark, sf, "events").select(
        "ts",
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    out = windowed_topk(ev, "ts", "page", k=3, window="1 day")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "value",
        "n",
        "rnk",
    )


def _logreg_oracle(iters: int = 3, lr: float = 1.0) -> str:
    """Unrolled fixed-iteration BGD logistic regression (ml/logreg.py
    is the Spark twin: same zero init, same σ/gradient/update op
    order, same feature construction)."""
    ctes = ["""
    t AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y,
             CAST(ROUND(value * 100) AS DOUBLE) / 10000.0 AS x1,
             CAST(hour(ts) AS DOUBLE) / 24.0 AS x2
      FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), s0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)"""]
    for i in range(iters):
        sig = f"1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2)))"
        ctes.append(f"""
    a{i} AS (
      SELECT SUM({sig} - y) AS g0,
             SUM(({sig} - y) * x1) AS g1,
             SUM(({sig} - y) * x2) AS g2,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM t, s{i} w
    ), s{i + 1} AS (
      SELECT w.b - {lr} * (a.g0 / a.n) AS b,
             w.w1 - {lr} * (a.g1 / a.n) AS w1,
             w.w2 - {lr} * (a.g2 / a.n) AS w2
      FROM s{i} w, a{i} a
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT ROUND(b, 6) + 0.0 AS w0, ROUND(w1, 6) + 0.0 AS w1,
           ROUND(w2, 6) + 0.0 AS w2,
           CAST((SELECT COUNT(*) FROM t) AS BIGINT) AS n
    FROM s{iters}
    """
    )


def _logreg_predict_oracle(iters: int = 3, lr: float = 1.0) -> str:
    """Train-and-predict in ONE statement: the train row's unrolled
    CTEs feed a per-event σ(w·x) scored as INTEGER milli-probabilities
    (the integer-tier discipline: per-row exp ulps cross-engine are
    ~1e-14 in p-units, six orders under the 5e-4 half-step)."""
    train = _logreg_oracle(iters, lr)
    # reuse the training CTE chain; swap the final projection
    head, _, _tail = train.rpartition("SELECT ROUND(b, 6)")
    return (
        head
        + f"""SELECT e.event_id,
           CAST(ROUND(1000.0 / (1.0 + exp(-(w.b + w.w1
                 * (CAST(ROUND(e.value * 100) AS DOUBLE) / 10000.0)
                 + w.w2 * (CAST(hour(e.ts) AS DOUBLE) / 24.0))))
                ) AS BIGINT) AS prob_milli
    FROM events e, s{iters} w
    WHERE e.value IS NOT NULL AND e.ts IS NOT NULL
      AND e.event_type IS NOT NULL
    """
    )


@register(
    "logreg_predict_events", oracle=_logreg_predict_oracle(3)
)
def logreg_predict_events(spark, sf):
    """Per-event purchase probability from the in-engine logistic
    model (ml/logreg.py logreg_predict_expr over logreg_train's
    three-step weights) — scored as INTEGER milli-probabilities
    (CAST(ROUND(p·1000) AS BIGINT)): the dense-continuum
    integer-tier discipline (oracle_margin.py caveat) applied to a
    transcendental per-row surface — per-row exp ulp differences are
    ~1e-14 in p-units, six orders below the half-step.  The oracle
    trains AND predicts in one statement (the train row's unrolled
    CTEs feeding a per-row σ); prediction itself is a pure JVM
    projection — no shuffle, no Python."""
    from .ml.logreg import logreg_predict_expr, logreg_train

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_id",
            (F.col("event_type") == "purchase").cast("double").alias("y"),
            (F.round(F.col("value") * 100).cast("double") / 10000.0).alias(
                "x1"
            ),
            (F.hour("ts").cast("double") / 24.0).alias("x2"),
        )
    )
    w = logreg_train(ev, ["x1", "x2"], "y", iters=3, lr=1.0)
    p = logreg_predict_expr(["x1", "x2"], w)
    return ev.select(
        "event_id",
        F.round(p * 1000.0).cast("long").alias("prob_milli"),
    )


@register("logreg_purchase_events", oracle=_logreg_oracle(3))
def logreg_purchase_events(spark, sf):
    """Binary logistic regression trained FULLY IN-ENGINE
    (ml/logreg.py logreg_train): P(event is a purchase) from the
    O(1)-scaled value and hour features, three full-batch gradient
    steps from the zero vector — the beyond-reference ML member the
    cofactor triple cannot factorize (the sigmoid couples features to
    weights), so training is the per-iteration-aggregate pattern:
    ONE aggregate per step (d+1 gradient sums + count, map-side
    combined), weights = 3 doubles on the driver (the
    pagerank-dangling-mass class of designed boundary).  Fixed
    iteration count + zero init keep the run deterministic and
    SQL-twin-able; the oracle unrolls the identical three steps as
    CTEs (same σ, same update op order).  The per-row exp sums are
    the transcendental surface (stat-class ROUND(,6) on O(0.1)
    coefficients — 5e6× margin over the measured cross-engine
    sum-order noise)."""
    from .ml.logreg import logreg_train

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            (F.col("event_type") == "purchase").cast("double").alias("y"),
            (F.round(F.col("value") * 100).cast("double") / 10000.0).alias(
                "x1"
            ),
            (F.hour("ts").cast("double") / 24.0).alias("x2"),
        )
    )
    w = logreg_train(ev, ["x1", "x2"], "y", iters=3, lr=1.0)
    n = ev.count()
    # rounding via F.round (HALF_UP, the oracle's ROUND), NOT python's
    # HALF_EVEN round()
    return spark.range(1).select(
        F.round(F.lit(w[0]), 6).alias("w0"),
        F.round(F.lit(w[1]), 6).alias("w1"),
        F.round(F.lit(w[2]), 6).alias("w2"),
        F.lit(n).cast("long").alias("n"),
    )


@register(
    "streaming_trending_events",
    oracle="""
    WITH e AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(json_extract_string(props, '$.k') AS INT) AS page
      FROM events WHERE ts IS NOT NULL
        AND json_extract_string(props, '$.k') IS NOT NULL
    ), c AS (
      SELECT d, page, COUNT(*) AS n FROM e GROUP BY d, page
    ), r AS (
      SELECT d, page, n,
             ROW_NUMBER() OVER (PARTITION BY d
                                ORDER BY n DESC, page) AS rnk
      FROM c
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           page AS value, CAST(n AS BIGINT) AS n, CAST(rnk AS INT) AS rnk
    FROM r WHERE rnk <= 3
    """,
)
def streaming_trending_events(spark, sf):
    """The LIVE form of `trending_pages_daily_events`: tumbling daily
    (day, page) counts from the WATERMARKED streaming aggregation
    (streaming_sliding_counts with width == slide — the tumbling
    special case; state = open windows × page vocabulary, bounded by
    the watermark), ranked batch-side over the bounded counts table —
    the counting/scoring split the PSI monitor established (the
    streaming query stays trivially checkpointable; the rank is a
    dictionary-sized fold).  Complete-mode memory sink like the
    sliding row; identical oracle to the batch trending row — the
    stream must reproduce it exactly."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import Window as W

    from .streaming import streaming_sliding_counts

    ev = load_table(spark, sf, "events").select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    ).where(F.col("page").isNotNull())
    tmp = tempfile.mkdtemp(prefix="trending_row_")
    view = f"__trend_row_{os.path.basename(tmp).rsplit('_', 1)[-1]}"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        ev.coalesce(1).write.parquet(f"{tmp}/h0")
        part = [
            f for f in os.listdir(f"{tmp}/h0") if f.endswith(".parquet")
        ][0]
        shutil.copy(f"{tmp}/h0/{part}", f"{src}/events.parquet")
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = streaming_sliding_counts(
            stream, "ts", "1 day", "1 day", by_cols=["page"]
        )
        q = (
            out.writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts = spark.sql(f"SELECT * FROM {view}")
        w = W.partitionBy("window_start_us").orderBy(
            F.desc("n"), F.col("page")
        )
        res = (
            counts.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select(
                F.date_format(
                    F.timestamp_micros(F.col("window_start_us")),
                    "yyyy-MM-dd",
                ).alias("day"),
                F.col("page").alias("value"),
                F.col("n").cast("long").alias("n"),
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
        # bounded (days x 3 rows): materialize so the view can drop
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        spark.catalog.dropTempView(view)
        shutil.rmtree(tmp, ignore_errors=True)


@register("cusum_events", oracle=_CUSUM_ORACLE)
def cusum_events(spark, sf):
    """Per-user two-sided CUSUM drift detection (operators/
    timeseries.py cusum, Page 1954) over the event value stream:
    target 50, allowance 5, alarm threshold 400 (67 alarms at sf0.01
    — the reset path is exercised, not just the accumulate path).
    Every 11th value is masked NULL (state carries, no alarm — a gap
    is not evidence).  All arithmetic is +/-/max over data doubles in
    per-key event order — bit-identical across engines, ROUND(,6) is
    display only.  The oracle runs the two sides as INDEPENDENT
    scalar folds; the header note proves this equals the operator's
    coupled single-alarm form."""
    from .operators.timeseries import cusum

    out = cusum(
        _cusum_masked_events(spark, sf),
        ["user_id"],
        "event_id",
        "v",
        target=50.0,
        slack=5.0,
        threshold=400.0,
    )
    return _cusum_projection(out)


@register("cusum_stream_events", oracle=_CUSUM_ORACLE)
def cusum_stream_events(spark, sf):
    """The LIVE form of `cusum_events` (streaming/cusum_stream.py on
    applyInPandasWithState), driven end to end: the masked event
    stream arrives as TWO availableNow runs split on event_id — the
    fold's own order column, so run 1 is exactly the per-key fold
    prefix by construction (ADVICE r7: the previous ts split relied on
    event_id being monotone with ts per user, a fixture property
    nothing asserted) — sharing one checkpoint, so the second run
    folds on per-key (hi, lo) state recovered from the checkpoint —
    the cross-run recovery path, not just the in-batch fold.  Outputs
    append to a parquet sink kept in a session-scoped scratch dir (the
    event-level result is never collect()ed to the driver; it grows
    linearly with sf — ADVICE r7); the union of both runs must equal
    the batch operator row for row — the SAME oracle as `cusum_events`
    verifies both.  State is two doubles per key (O(keys), never
    O(events))."""
    import os
    import shutil
    import tempfile

    from .streaming.cusum_stream import cusum_stream

    ev = _cusum_masked_events(spark, sf)
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="cusum_stream_row_")
    outdir = f"{_session_scratch('cusum_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("event_id") <= mid),
            ev.where(F.col("event_id") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(ev.schema).parquet(src)
            q = (
                cusum_stream(
                    stream,
                    "user_id",
                    "event_id",
                    "v",
                    target=50.0,
                    slack=5.0,
                    threshold=400.0,
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        return _cusum_projection(spark.read.parquet(outdir))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_heavy_hitters_tokens",
    oracle=f"""
    WITH tk AS (
      SELECT unnest({ws_tokens_sql('text')}) AS v FROM documents
    ), c AS (
      SELECT v, CAST(COUNT(*) AS BIGINT) AS cnt FROM tk GROUP BY v
    ), n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tk
    )
    SELECT v AS value, cnt FROM c, n WHERE cnt * 41 > n
    """,
)
def streaming_heavy_hitters_tokens(spark, sf):
    """The LIVE form of `heavy_hitter_tokens`
    (streaming/heavyhitters_stream.py, mergeable Misra–Gries on
    applyInPandasWithState, k=40): the document token stream arrives
    as TWO availableNow runs split on doc_id, sharing one checkpoint
    — the second run folds on the ≤ k-counter summary recovered from
    the checkpoint (cross-run recovery, not just the in-batch merge).
    The final summary (max n_processed snapshot) is a candidate
    SUPERSET by the mergeable-summaries guarantee; exactness comes
    from the batch two-pass discipline — semi-join the corpus against
    the streamed candidates, exact-count, filter by integer
    cross-multiplication cnt·41 > N — so the result equals the naive
    GROUP BY ... HAVING oracle while the stream held at most k
    counters of state at any moment.  All-integer output: zero
    rounding surface."""
    import os
    import shutil
    import tempfile

    from .streaming.heavyhitters_stream import heavy_hitters_stream

    k = 40
    d = load_table(spark, sf, "documents")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="hh_stream_row_")
    outdir = f"{_session_scratch('hh_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            d.where(F.col("doc_id") <= mid),
            d.where(F.col("doc_id") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f for f in os.listdir(f"{tmp}/h{i}") if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(d.schema).parquet(src)
            toks = stream.select(
                F.explode(_dd.ws_tokens(F.col("text"))).alias("token")
            )
            q = (
                heavy_hitters_stream(toks, "token", k=k)
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        summary = spark.read.parquet(outdir)
        n_final = summary.agg(F.max("n_processed")).first()[0]
        cand = (
            summary.where(F.col("n_processed") == n_final)
            .select(F.col("value").alias("v"))
            .distinct()
        )
        tk = d.select(F.explode(_dd.ws_tokens(F.col("text"))).alias("v"))
        counted = (
            tk.join(F.broadcast(cand), "v", "left_semi")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        total = tk.agg(F.count(F.lit(1)).alias("__n"))
        return (
            counted.crossJoin(F.broadcast(total))
            .where(F.col("__c") * (k + 1) > F.col("__n"))
            .select(
                F.col("v").alias("value"),
                F.col("__c").cast("long").alias("cnt"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_heavy_hitters_by_source",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({ws_tokens_sql('text')}) AS v
      FROM documents WHERE source IS NOT NULL
    ), c AS (
      SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk GROUP BY source, v
    ), n AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tk GROUP BY source
    )
    SELECT c.source, v AS value, cnt
    FROM c JOIN n USING (source) WHERE cnt * 31 > n
    """,
)
def streaming_heavy_hitters_by_source(spark, sf):
    """The KEYED live heavy-hitters path (VERDICT r8 #2): per-SOURCE
    streaming Misra–Gries summaries (streaming/heavyhitters_stream.py
    key_col="source", k=30) — unlike `streaming_heavy_hitters_tokens`
    (key_col=None, one sequential global fold), every micro-batch
    here shuffles tokens BY SOURCE into |sources| parallel stateful
    tasks, each holding ≤ k counters: the state path that scales out
    across the key space at 100 TB.  Same two availableNow runs
    through one checkpoint (cross-run summary recovery), then the
    batch two-pass exactness discipline PER KEY — semi-join the
    corpus tokens against the streamed (source, candidate) pairs,
    exact-count, filter cnt·31 > n_source — so the result equals the
    same per-group GROUP BY ... HAVING oracle as the batch
    `heavy_hitter_tokens_by_source` row.  All-integer output."""
    import os
    import shutil
    import tempfile

    from .streaming.heavyhitters_stream import heavy_hitters_stream

    k = 30
    d = load_table(spark, sf, "documents")
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).first()
    mid = (lo + hi) // 2
    tmp = tempfile.mkdtemp(prefix="hh_keyed_stream_row_")
    outdir = f"{_session_scratch('hh_keyed_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            d.where(F.col("doc_id") <= mid),
            d.where(F.col("doc_id") > mid),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f for f in os.listdir(f"{tmp}/h{i}") if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(d.schema).parquet(src)
            toks = stream.where(F.col("source").isNotNull()).select(
                "source",
                F.explode(_dd.ws_tokens(F.col("text"))).alias("token"),
            )
            q = (
                heavy_hitters_stream(toks, "token", k=k, key_col="source")
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        summary = spark.read.parquet(outdir)
        # final snapshot PER KEY: each source's max-n_processed emit
        w_final = (
            summary.groupBy("key")
            .agg(F.max("n_processed").alias("__nf"))
            .withColumnRenamed("key", "__k")
        )
        cand = (
            summary.join(
                w_final,
                (F.col("key") == F.col("__k"))
                & (F.col("n_processed") == F.col("__nf")),
            )
            .select(
                F.col("key").alias("source"),
                F.col("value").alias("v"),
            )
            .distinct()
        )
        tk = d.where(F.col("source").isNotNull()).select(
            "source", F.explode(_dd.ws_tokens(F.col("text"))).alias("v")
        )
        counted = (
            tk.join(F.broadcast(cand), ["source", "v"], "left_semi")
            .groupBy("source", "v")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        totals = tk.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
        return (
            counted.join(F.broadcast(totals), "source")
            .where(F.col("__c") * (k + 1) > F.col("__n"))
            .select(
                "source",
                F.col("v").alias("value"),
                F.col("__c").cast("long").alias("cnt"),
            )
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_retention_events",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT user_id AS u,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / {_DAY_US})
                  AS BIGINT) AS p
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), f AS (
      SELECT u, MIN(p) AS cohort_period FROM b GROUP BY u
    )
    SELECT cohort_period,
           p - cohort_period AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM b JOIN f USING (u)
    GROUP BY 1, 2
    """,
)
def streaming_retention_events(spark, sf):
    """The retention sink end to end (streaming/sinks.py
    streaming_retention_sink): events arrive as TWO availableNow
    micro-batch streams (odd / even user_id); each run dedups its
    batch to distinct (entity, day) pairs and upserts them keyed on
    the pair, partition-scoped so only touched days rewrite.  The
    state is a SET, so the merge is idempotent (replay converges
    bit-identically — the property the additive rollup sink lacks),
    and reading it through retention_from_periods must reproduce the
    batch `retention_cohorts_events` matrix exactly — which is the
    oracle.  All-integer output."""
    import os
    import shutil
    import tempfile

    from .operators.timeseries import retention_from_periods
    from .streaming.sinks import streaming_retention_sink

    ev = load_table(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="retention_row_")
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        shutil.copy(f"{sf}/events.parquet", f"{src}/events.parquet")
        state = f"{tmp}/state"
        for i, cond in enumerate(["user_id % 2 = 1", "user_id % 2 = 0"]):
            stream = (
                spark.readStream.schema(ev.schema)
                .parquet(src)
                .where(cond)
                .select("user_id", "ts")
            )
            q = (
                streaming_retention_sink(
                    stream,
                    state,
                    "user_id",
                    ts_col="ts",
                    period_us=_DAY_US,
                    checkpoint=f"{tmp}/cp{i}",
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = retention_from_periods(
            spark.read.parquet(state), "entity", "period"
        ).select(
            "cohort_period",
            F.col("offset").alias("day_offset"),
            "n_active",
        )
        # materialize (~100 rows) so the frame outlives the tmp dir
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_sliding_events",
    oracle="""
    WITH e AS (
      SELECT event_type,
             CAST(FLOOR(epoch_us(CAST(ts AS TIMESTAMP)) / 3600000000)
                  AS BIGINT) AS h
      FROM events WHERE ts IS NOT NULL
    ), x AS (
      SELECT event_type, h AS ws FROM e
      UNION ALL
      SELECT event_type, h - 1 AS ws FROM e
    )
    SELECT ws * 3600000000 AS window_start_us, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2
    """,
)
def streaming_sliding_events(spark, sf):
    """The watermarked hopping-window aggregation (streaming/
    streaming_sliding_counts) under an availableNow replay of the
    events table, complete-mode memory sink so every window is
    emitted regardless of the final watermark.  Must equal the batch
    `sliding_window_events` row exactly (same F.window overlap
    semantics, each event in width/slide = 2 windows) — the oracle is
    the batch row's 2-way UNION ALL over integer hour buckets.
    Integer output end-to-end."""
    import os
    import shutil
    import tempfile

    from .streaming import streaming_sliding_counts

    ev = load_table(spark, sf, "events")
    tmp = tempfile.mkdtemp(prefix="sliding_row_")
    # view/query name unique per invocation (derived from the tmp dir
    # suffix) so concurrent runs in one session never collide, and the
    # view drop sits in finally so a failed start() can't leak it
    # (ADVICE r7)
    view = f"__sliding_row_{os.path.basename(tmp).rsplit('_', 1)[-1]}"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        shutil.copy(f"{sf}/events.parquet", f"{src}/events.parquet")
        stream = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .select(F.col("ts").cast("timestamp").alias("ts"), "event_type")
        )
        out = streaming_sliding_counts(
            stream, "ts", "2 hours", "1 hour", by_cols=["event_type"]
        )
        q = (
            out.writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        res = spark.sql(
            f"SELECT window_start_us, event_type, n FROM {view}"
        )
        # the complete-mode memory sink is already a driver-resident
        # table (bounded: |windows| x |event types|); materialize it
        # into a plain frame so the temp view can drop
        return spark.createDataFrame(res.collect(), res.schema)
    finally:
        spark.catalog.dropTempView(view)
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "streaming_psi_events",
    oracle="""
    WITH base AS (
      SELECT ts, CAST(ROUND(value * 100) AS BIGINT) AS v FROM events
      WHERE value IS NOT NULL AND ts IS NOT NULL
    ), bk AS (
      SELECT ts,
             CAST(v >= 500 AS INT) + CAST(v >= 1500 AS INT)
               + CAST(v >= 3500 AS INT) + CAST(v >= 7000 AS INT)
               + CAST(v >= 15000 AS INT) AS bucket
      FROM base
    ), refc AS (
      SELECT bs.b, COALESCE(r.c, CAST(0 AS DOUBLE)) AS r
      FROM (SELECT unnest(range(0, 6)) AS b) bs
      LEFT JOIN (
        SELECT bucket AS b, CAST(COUNT(*) AS DOUBLE) AS c
        FROM bk WHERE day(ts) <= 15 GROUP BY bucket
      ) r ON r.b = bs.b
    ), nref AS (SELECT SUM(r) AS nr FROM refc),
    d AS (
      SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             bucket, CAST(COUNT(*) AS DOUBLE) AS c
      FROM bk GROUP BY day, bucket
    ), t AS (SELECT day, SUM(c) AS n FROM d GROUP BY day),
    j AS (
      SELECT g.day, g.n,
             (COALESCE(d.c, 0) + 1.0) / (g.n + 6.0) AS p,
             (g.r + 1.0) / ((SELECT nr FROM nref) + 6.0) AS q
      FROM (SELECT t.day, t.n, refc.b, refc.r
            FROM t CROSS JOIN refc) g
      LEFT JOIN d ON d.day = g.day AND d.bucket = g.b
    )
    SELECT day, CAST(FIRST(n) AS BIGINT) AS n,
           ROUND(SUM((p - q) * ln(p / q)), 6) + 0.0 AS psi
    FROM j GROUP BY day
    """,
)
def streaming_psi_events(spark, sf):
    """Live PSI drift monitor (streaming/psi_stream.py +
    operators/selection.py psi_vs_reference): the event stream's
    value-in-cents distribution is bucketed by the batch PSI row's
    fixed edges, counted per DAY window under a watermark (all
    built-in streaming — state is |open windows| × B counters), and
    each day is scored against the frozen first-half-of-month
    reference histogram (collected once batch-side: B = 6 integers,
    a designed driver boundary).  Counting and scoring are split by
    design — the streaming query is trivially checkpointable and the
    PSI math lives in ONE place, shared with the batch operator.
    Complete-mode memory sink (bounded: days × B cells) like the
    sliding-window row; the oracle recomputes reference, daily
    histograms and the same smoothed PSI in SQL."""
    import os
    import shutil
    import tempfile

    from .operators.selection import psi_vs_reference
    from .streaming.psi_stream import streaming_psi_counts

    edges = [500.0, 1500.0, 3500.0, 7000.0, 15000.0]
    ev = (
        load_table(spark, sf, "events")
        .where(F.col("value").isNotNull() & F.col("ts").isNotNull())
        .select(
            F.col("ts").cast("timestamp").alias("ts"),
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    bucket = F.lit(0)
    for e in edges:
        bucket = bucket + (F.col("v") >= F.lit(e)).cast("int")
    ref_rows = dict(
        ev.where(F.dayofmonth("ts") <= 15)
        .groupBy(bucket.alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    ref_counts = [int(ref_rows.get(b, 0)) for b in range(len(edges) + 1)]
    tmp = tempfile.mkdtemp(prefix="psi_stream_row_")
    view = f"__psi_row_{os.path.basename(tmp).rsplit('_', 1)[-1]}"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        ev.coalesce(1).write.parquet(f"{tmp}/h0")
        part = [
            f for f in os.listdir(f"{tmp}/h0") if f.endswith(".parquet")
        ][0]
        shutil.copy(f"{tmp}/h0/{part}", f"{src}/events.parquet")
        stream = spark.readStream.schema(ev.schema).parquet(src)
        out = streaming_psi_counts(
            stream, "ts", "v", edges, window="1 day", watermark="1 hour"
        )
        q = (
            out.writeStream.format("memory")
            .queryName(view)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        counts = spark.sql(f"SELECT * FROM {view}")
        scored = psi_vs_reference(
            counts, "bucket", "n", ref_counts, by_cols=["window_start"]
        ).select(
            F.date_format("window_start", "yyyy-MM-dd").alias("day"),
            "n",
            "psi",
        )
        # bounded (|days| rows): materialize so the temp view can drop
        return spark.createDataFrame(scored.collect(), scored.schema)
    finally:
        spark.catalog.dropTempView(view)
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "winsorize_lineitem",
    oracle="""
    WITH v AS (
      SELECT l_returnflag, l_linestatus,
             CAST(ROUND(l_extendedprice * 100) AS DOUBLE) AS c
      FROM lineitem
    ), q AS (
      SELECT l_returnflag, l_linestatus,
             quantile_cont(c, 0.05) AS lo,
             quantile_cont(c, 0.95) AS hi
      FROM v GROUP BY 1, 2
    ), w AS (
      SELECT v.l_returnflag, v.l_linestatus, v.c,
             LEAST(GREATEST(v.c, q.lo), q.hi) AS wins
      FROM v JOIN q USING (l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(SUM(CASE WHEN wins > c THEN 1 ELSE 0 END) AS BIGINT)
        AS n_raised,
      CAST(SUM(CASE WHEN wins < c THEN 1 ELSE 0 END) AS BIGINT)
        AS n_lowered,
      ROUND(MIN(wins), 4) AS wins_min,
      ROUND(MAX(wins), 4) AS wins_max,
      CAST(SUM(CASE WHEN wins = c THEN c ELSE 0 END) AS BIGINT)
        AS mid_cents
    FROM w GROUP BY 1, 2
    """,
)
def winsorize_lineitem(spark, sf):
    """Per-group winsorization (operators/profile.py
    grouped_winsorize): extended price in cents clipped to each
    (returnflag, linestatus) group's [p5, p95] — the capping
    companion to `robust_outliers_lineitem`'s counting screen.  The
    row aggregates the winsorized frame per group: clip counts
    (strict-inequality comparisons of bit-identical doubles), the
    clipped range endpoints (= the two quantile cuts; Spark's exact
    percentile interpolation is bit-identical to DuckDB
    quantile_cont, and the cut sits ~5e-5 from any ROUND(,4)
    boundary by construction — integer cents +/- 0.95-ish
    interpolation), and the exact integer sum of untouched values
    (doubles holding integers < 2^53, so accumulation order cannot
    change it)."""
    from .operators.profile import grouped_winsorize

    li = _li(spark, sf).select(
        "l_returnflag",
        "l_linestatus",
        F.round(F.col("l_extendedprice") * 100)
        .cast("double")
        .alias("c"),
    )
    out = grouped_winsorize(
        li, "c", ["l_returnflag", "l_linestatus"], lower=0.05, upper=0.95
    )
    w, c = F.col("c_wins"), F.col("c")
    return out.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(w > c, 1).otherwise(0)).cast("long").alias("n_raised"),
        F.sum(F.when(w < c, 1).otherwise(0)).cast("long").alias("n_lowered"),
        F.round(F.min(w), 4).alias("wins_min"),
        F.round(F.max(w), 4).alias("wins_max"),
        F.sum(F.when(w == c, c).otherwise(F.lit(0.0)))
        .cast("long")
        .alias("mid_cents"),
    )


# --------------------------------------------------------------------- #
# 5. Round-9 session additions: in-engine model evaluation (AUC),       #
#    model-based quality filtering, declarative constraint validation   #
# --------------------------------------------------------------------- #


@register(
    "auc_value_purchase_events",
    oracle="""
    WITH e AS (
      SELECT CAST(hour(ts) AS INT) AS hod, event_type,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('purchase', 'click')
    ), d AS (
      SELECT hod, v,
             COUNT(*) FILTER (event_type = 'purchase') AS ca,
             COUNT(*) FILTER (event_type = 'click') AS cb
      FROM e GROUP BY hod, v
    ), rk AS (
      SELECT hod, ca, cb,
             2 * COALESCE(SUM(ca + cb) OVER (
                   PARTITION BY hod ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (ca + cb) + 1 AS r2
      FROM d
    ), m AS (
      SELECT hod, SUM(ca) AS np, SUM(cb) AS nn, SUM(ca * r2) AS r2p
      FROM rk GROUP BY hod
    )
    SELECT hod, CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN np >= 1 AND nn >= 1 THEN
             ROUND(CAST(r2p - np * (np + 1) AS DOUBLE)
                   / (2.0 * CAST(np * nn AS DOUBLE)) * 1000000.0)
               / 1000000.0 + 0.0
           END AS auc
    FROM m
    """,
)
def auc_value_purchase_events(spark, sf):
    """Per-hour ROC-AUC (operators/stats.py auc_score) of the event
    value as a ranking score for purchase-vs-click — in-engine model
    evaluation (Hanley & McNeil 1982: AUC = normalized Mann-Whitney U
    under average ranks, the exact tie-aware trapezoidal form), the
    metric every scoring operator in this repo (quality classifier,
    logreg, BM25, novelty) is evaluated with.  Shares the rank
    DICTIONARY discipline with the MW/KS rows: one GROUP BY to
    (hod, cents, class-counts) cells, a window prefix over DISTINCT
    values, rank-sum folded off the dictionary with no join back to
    rows.  2*R_pos and n_pos*(n_pos+1) are exact DECIMAL/HUGEINT
    integers; the one double surface is the final division, re-rounded
    at the INTEGER tier (round(auc*1e6)/1e6 — x.5 boundaries are exact
    doubles, both engines agree; the r9 margin-sweep discipline)."""
    from .operators.stats import auc_score

    ev = (
        load_table(spark, sf, "events")
        .where(
            F.col("value").isNotNull()
            & F.col("event_type").isin("purchase", "click")
        )
        .select(
            F.hour("ts").cast("int").alias("hod"),
            "event_type",
            F.round(F.col("value") * 100).cast("long").alias("v"),
        )
    )
    out = auc_score(
        ev,
        "event_type",
        "v",
        positive="purchase",
        negative="click",
        by_cols=["hod"],
        round_digits=None,
    )
    return out.select(
        "hod",
        "n_pos",
        "n_neg",
        (F.round(F.col("auc") * 1000000.0) / 1000000.0).alias("auc"),
    )


def _quality_clf_oracle(iters: int = 3, lr: float = 1.0) -> str:
    """Unrolled fixed-iteration BGD over the gopher-feature frame —
    the SQL twin of ml/quality.py train_quality_classifier (same zero
    init, same sigma/gradient/update op order, same O(1) rational
    feature scaling) scoring every document as integer
    milli-probabilities."""
    feats = f"""
    base AS (
      SELECT doc_id, COALESCE(text, '') AS t,
             {ws_tokens_sql('text')} AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
                  AS BIGINT) AS swl,
             CAST((length(t) - length(replace(t, '#', '')))
                  + (length(t) - length(replace(t, '...', ''))) // 3
                  AS BIGINT) AS n_symbol,
             CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_filter({_GOPHER_SW_SQL},
                    w -> list_contains(list_transform(toks, x -> lower(x)), w)))
                  AS BIGINT) AS n_stop
      FROM base
    ), t AS (
      SELECT doc_id,
             CAST((n_words BETWEEN 10 AND 100000)
                  AND (n_words > 0 AND swl >= 2 * n_words
                       AND swl <= 10 * n_words)
                  AND (n_symbol * 10 <= n_words)
                  AND (n_alpha * 5 >= n_words * 4)
                  AND (n_stop >= 1) AS DOUBLE) AS y,
             CAST(LEAST(n_words, 1000) AS DOUBLE) / 100.0 AS x1,
             CAST(swl AS DOUBLE)
               / (10.0 * CAST(GREATEST(n_words, 1) AS DOUBLE)) AS x2,
             CAST(n_alpha AS DOUBLE)
               / CAST(GREATEST(n_words, 1) AS DOUBLE) AS x3,
             CAST(LEAST(n_stop, 8) AS DOUBLE) / 8.0 AS x4
      FROM g
    ), s0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4)"""
    ctes = [feats]
    for i in range(iters):
        sig = (
            "1.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2"
            " + w.w3 * x3 + w.w4 * x4)))"
        )
        ctes.append(f"""
    a{i} AS (
      SELECT SUM({sig} - y) AS g0,
             SUM(({sig} - y) * x1) AS g1,
             SUM(({sig} - y) * x2) AS g2,
             SUM(({sig} - y) * x3) AS g3,
             SUM(({sig} - y) * x4) AS g4,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM t, s{i} w
    ), s{i + 1} AS (
      SELECT w.b - {lr} * (a.g0 / a.n) AS b,
             w.w1 - {lr} * (a.g1 / a.n) AS w1,
             w.w2 - {lr} * (a.g2 / a.n) AS w2,
             w.w3 - {lr} * (a.g3 / a.n) AS w3,
             w.w4 - {lr} * (a.g4 / a.n) AS w4
      FROM s{i} w, a{i} a
    )""")
    return (
        "WITH " + ",".join(ctes)
        + f"""
    SELECT t.doc_id, CAST(y AS BIGINT) AS label,
           CAST(ROUND(1000.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2
                 + w.w3 * x3 + w.w4 * x4)))) AS BIGINT) AS prob_milli
    FROM t, s{iters} w
    """
    )


@register("quality_classifier_documents", oracle=_quality_clf_oracle(3))
def quality_classifier_documents(spark, sf):
    """Model-based quality filtering (ml/quality.py) — the modern
    corpus-curation pattern (CCNet, Wenzek et al. 2020; FineWeb-Edu,
    Penedo et al. 2024): the gopher rule conjunction provides WEAK
    labels, an in-engine logistic regression (ml/logreg.py: iters x
    ONE map-side-combined aggregate) distills them into a smooth
    per-document probability over O(1) rational features (capped
    length, mean word length, alphabetic fraction, stopword hits —
    LEAST/GREATEST/division only, bit-identical across engines), and
    the probability scores the corpus as a pure JVM projection.
    Emits (doc_id, label, prob_milli): the weak label alongside the
    classifier's integer milli-probability (the logreg_predict_events
    integer-tier discipline — per-row exp ulps ~1e-14 in p-units, six
    orders under the 5e-4 half-step).  The oracle trains AND scores in
    one statement via unrolled CTEs (same zero init, same op order).
    At 100 TB: training touches a slim checkpointed 5-double frame,
    scoring is scan-cost."""
    from .ml.logreg import logreg_predict_expr, logreg_train
    from .ml.quality import QUALITY_FEATURE_NAMES, quality_features

    d = load_table(spark, sf, "documents")
    feats = quality_features(F.col("text"))
    # ONE gopher tokenization pass shared by training and scoring
    # (guide §1.2: don't recompute what you already have): the slim
    # (doc_id, 4 features, label) frame is checkpointed once; the
    # trainer's three aggregates and the scoring projection all read
    # that ~48-byte/doc frame instead of re-tokenizing the corpus per
    # consumer.  Identical values: same feature expressions, same
    # training aggregates over the same rows in the same order.
    frame = d.select(
        "doc_id",
        *[feats[n].alias(n) for n in QUALITY_FEATURE_NAMES],
        feats["y"].alias("__y"),
    ).localCheckpoint(eager=False)
    w = logreg_train(
        frame, QUALITY_FEATURE_NAMES, "__y", iters=3, lr=1.0, cache=False
    )
    p = logreg_predict_expr(QUALITY_FEATURE_NAMES, w)
    return frame.select(
        "doc_id",
        F.col("__y").cast("long").alias("label"),
        F.round(p * 1000.0).cast("long").alias("prob_milli"),
    )


@register(
    "validate_lineitem_constraints",
    oracle="""
    SELECT 'orderkey_not_null' AS "check", 'not_null' AS kind,
           (SELECT COUNT(*) FROM lineitem) AS n_rows,
           (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IS NULL)
             AS n_violations
    UNION ALL
    SELECT 'shipdate_not_null', 'not_null',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem WHERE l_shipdate IS NULL)
    UNION ALL
    SELECT 'quantity_in_1_50', 'in_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
             WHERE l_quantity IS NOT NULL
               AND (l_quantity < 1 OR l_quantity > 50))
    UNION ALL
    SELECT 'discount_in_0_01', 'in_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
             WHERE l_discount IS NOT NULL
               AND (l_discount < 0.0 OR l_discount > 0.1))
    UNION ALL
    SELECT 'returnflag_domain', 'accepted_values',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
             WHERE l_returnflag IS NOT NULL
               AND l_returnflag NOT IN ('A', 'N', 'R'))
    UNION ALL
    SELECT 'price_positive', 'expression',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
             WHERE NOT COALESCE(l_extendedprice > 0, TRUE))
    UNION ALL
    SELECT 'line_pk_unique', 'unique',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
              FROM lineitem)
    UNION ALL
    SELECT 'orderkey_fk', 'foreign_key',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE l.l_orderkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'partkey_fk', 'foreign_key',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
             WHERE l.l_partkey IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM part p
                                WHERE p.p_partkey = l.l_partkey))
    """,
)
def validate_lineitem_constraints(spark, sf):
    """Declarative data-quality validation (operators/validate.py
    validate_constraints — the Great Expectations / dbt-test / Deequ
    check families, Spark-first): nine constraints over lineitem
    verified in one audit — NULL checks, ranges, an accepted-values
    domain, a CHECK-style expression, the composite-key uniqueness and
    two referential checks.  Scale shape per class: ALL six row checks
    share ONE conditional-aggregate scan (a tenth rule costs one more
    sum column, not a pass); uniqueness is one hash GROUP BY whose
    shuffle carries (key, count) pairs; each FK is a LEFT ANTI join
    against the dimension's distinct keys (AQE broadcasts the
    dim-sized side).  Output is exact integer counts — zero float
    surface.  The oracle mirrors each check as a scalar subquery;
    the driver's wrapper ROUNDs doubles only, so the BIGINT columns
    pass through untouched."""
    from .operators.validate import (
        accepted_values,
        expression,
        foreign_key,
        in_range,
        not_null,
        unique,
        validate_constraints,
    )

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    part = load_table(spark, sf, "part")
    checks = [
        not_null("l_orderkey", name="orderkey_not_null"),
        not_null("l_shipdate", name="shipdate_not_null"),
        in_range("l_quantity", 1, 50, name="quantity_in_1_50"),
        in_range("l_discount", 0.0, 0.1, name="discount_in_0_01"),
        accepted_values(
            "l_returnflag", ["A", "N", "R"], name="returnflag_domain"
        ),
        expression("l_extendedprice > 0", name="price_positive"),
        unique(["l_orderkey", "l_linenumber"], name="line_pk_unique"),
        foreign_key(
            ["l_orderkey"], "orders", ["o_orderkey"], name="orderkey_fk"
        ),
        foreign_key(["l_partkey"], "part", ["p_partkey"], name="partkey_fk"),
    ]
    out = validate_constraints(
        li, checks, refs={"orders": orders, "part": part}
    )
    return out.select("check", "kind", "n_rows", "n_violations")


@register(
    "funnel_view_click_purchase_events",
    oracle="""
    WITH s1 AS (
      SELECT user_id AS u, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
        AND ts IS NOT NULL
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), m AS (
      SELECT (SELECT COUNT(*) FROM s1) AS n1,
             (SELECT COUNT(*) FROM s2) AS n2,
             (SELECT COUNT(*) FROM s3) AS n3
    )
    SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
           CAST(n1 AS BIGINT) AS n_users,
           CASE WHEN n1 > 0
                THEN CAST(ROUND(n1 * 1000.0 / n1) AS BIGINT) END
             AS pm_of_first
    FROM m
    UNION ALL
    SELECT CAST(2 AS INT), 'click', CAST(n2 AS BIGINT),
           CASE WHEN n1 > 0
                THEN CAST(ROUND(n2 * 1000.0 / n1) AS BIGINT) END
    FROM m
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', CAST(n3 AS BIGINT),
           CASE WHEN n1 > 0
                THEN CAST(ROUND(n3 * 1000.0 / n1) AS BIGINT) END
    FROM m
    """,
)
def funnel_view_click_purchase_events(spark, sf):
    """Ordered conversion funnel (operators/funnel.py funnel_counts —
    the strict-order earliest-completion semantics behind ClickHouse
    windowFunnel): users who viewed, then clicked AFTER their first
    view, then purchased AFTER that click.  No per-user sequence
    assembly: stage 1 is one filtered aggregate to (user, t1) and each
    later stage is one filtered join-aggregate shuffling only
    (user, ts) pairs — S scans + S-1 key joins for an S-stage funnel,
    with monotonically shrinking frames.  Counts are exact integers;
    the per-mille conversion is an exact-rational scaled round (x.5
    boundaries are exact doubles — both engines agree)."""
    from .operators.funnel import funnel_counts

    ev = load_table(spark, sf, "events")
    return funnel_counts(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


def _quality_report_oracle(iters: int = 3, lr: float = 1.0, thr: int = 500) -> str:
    """The quality classifier's thresholded evaluation in ONE
    statement: _quality_clf_oracle's unrolled training CTEs, scored as
    integer milli-probabilities, folded to the confusion matrix /
    Brier / log-loss (ml/eval.py classification_report is the Spark
    twin — same milli quantization, same [1,999] log clip, same
    integer-tier scaled rounding on the rationals)."""
    train = _quality_clf_oracle(iters, lr)
    head, _, _ = train.rpartition("SELECT t.doc_id")
    sig = (
        "1000.0 / (1.0 + exp(-(w.b + w.w1 * x1 + w.w2 * x2"
        " + w.w3 * x3 + w.w4 * x4)))"
    )
    return (
        head
        + f""", scored AS (
      SELECT CAST(y AS BIGINT) AS yl,
             CAST(ROUND({sig}) AS BIGINT) AS pm
      FROM t, s{iters} w
    ), c AS (
      SELECT COUNT(*) AS n,
        SUM(CASE WHEN pm >= {thr} AND yl = 1 THEN 1 ELSE 0 END) AS tp,
        SUM(CASE WHEN pm >= {thr} AND yl = 0 THEN 1 ELSE 0 END) AS fp,
        SUM(CASE WHEN pm < {thr} AND yl = 0 THEN 1 ELSE 0 END) AS tn,
        SUM(CASE WHEN pm < {thr} AND yl = 1 THEN 1 ELSE 0 END) AS fn,
        SUM((pm - 1000 * yl) * (pm - 1000 * yl)) AS bn,
        SUM(-(yl * ln(CAST(LEAST(GREATEST(pm, 1), 999) AS DOUBLE)
                      / 1000.0)
              + (1 - yl)
                * ln(1.0 - CAST(LEAST(GREATEST(pm, 1), 999) AS DOUBLE)
                           / 1000.0))) AS ll
      FROM scored
    )
    SELECT CAST(n AS BIGINT) AS n, CAST(tp AS BIGINT) AS tp,
           CAST(fp AS BIGINT) AS fp, CAST(tn AS BIGINT) AS tn,
           CAST(fn AS BIGINT) AS fn,
           ROUND((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
                 / CAST(n AS DOUBLE) * 1000000.0) / 1000000.0
             AS accuracy,
           CASE WHEN tp + fp > 0 THEN
             ROUND(CAST(tp AS DOUBLE)
                   / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
                   * 1000000.0) / 1000000.0 END AS precision,
           CASE WHEN tp + fn > 0 THEN
             ROUND(CAST(tp AS DOUBLE)
                   / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))
                   * 1000000.0) / 1000000.0 END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             ROUND(2.0 * CAST(tp AS DOUBLE)
                   / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
                      + CAST(fn AS DOUBLE))
                   * 1000000.0) / 1000000.0 END AS f1,
           ROUND(CAST(bn AS DOUBLE)
                 / (CAST(n AS DOUBLE) * 1000000.0)
                 * 1000000.0) / 1000000.0 AS brier,
           ROUND(ll / CAST(n AS DOUBLE), 6) + 0.0 AS logloss
    FROM c
    """
    )


@register(
    "quality_classifier_report_documents",
    oracle=_quality_report_oracle(3),
)
def quality_classifier_report_documents(spark, sf):
    """Thresholded evaluation of the quality classifier (ml/eval.py
    classification_report): confusion counts, accuracy / precision /
    recall / F1, Brier score and log-loss from ONE conditional
    aggregate over the scored corpus — the operating-point companion
    to the threshold-free AUC row.  Exactness: probabilities are
    quantized to integer milli-units FIRST, so the confusion cells and
    the Brier numerator (milli^2 SSE) are exact integers; the rational
    rates get the integer-tier scaled round, leaving per-row ln as the
    only transcendental surface (stat-class ROUND(,6) on an O(0.5)
    mean — the welch/anova sum-order noise class)."""
    from .ml.eval import classification_report
    from .ml.logreg import logreg_predict_expr, logreg_train
    from .ml.quality import QUALITY_FEATURE_NAMES, quality_features

    d = load_table(spark, sf, "documents")

    feats = quality_features(F.col("text"))
    # single shared tokenization pass — the quality_classifier_documents
    # pattern: one checkpointed slim feature frame feeds both the
    # training aggregates and the scored report (identical values)
    frame = d.select(
        *[feats[n].alias(n) for n in QUALITY_FEATURE_NAMES],
        feats["y"].alias("label"),
    ).localCheckpoint(eager=False)
    w = logreg_train(
        frame, QUALITY_FEATURE_NAMES, "label", iters=3, lr=1.0, cache=False
    )
    p = logreg_predict_expr(QUALITY_FEATURE_NAMES, w)
    scored = frame.select("label", p.alias("p"))
    return classification_report(
        scored, "label", "p", threshold=0.5, milli=True
    )


@register(
    "funnel_stream_view_click_purchase_events",
    oracle="""
    WITH s1 AS (
      SELECT user_id AS u, MIN(ts) AS t FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
        AND ts IS NOT NULL
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts > s1.t
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.t
      GROUP BY e.user_id
    )
    SELECT CAST(u AS BIGINT) AS user_id, CAST(1 AS INT) AS stage_idx,
           'view' AS stage, epoch_us(t) AS reached_us
    FROM s1
    UNION ALL
    SELECT CAST(u AS BIGINT), CAST(2 AS INT), 'click', epoch_us(t)
    FROM s2
    UNION ALL
    SELECT CAST(u AS BIGINT), CAST(3 AS INT), 'purchase', epoch_us(t)
    FROM s3
    """,
)
def funnel_stream_view_click_purchase_events(spark, sf):
    """The LIVE funnel twin end to end (streaming/funnel_stream.py on
    applyInPandasWithState, EventTimeTimeout) — the availableNow
    pattern every other streaming twin carries (VERDICT r9 #2): the
    events table replays as TWO files through ONE checkpoint, split at
    the timestamp midpoint, so run 2 recovers run 1's machine state
    AND its unsealed buffers from the state store (events inside run
    1's final 10-minute watermark lag seal only in run 2 — the
    cross-run buffer-recovery path), and a stage-type sentinel under
    an excluded user a day past the horizon advances the final
    watermark so the no-data micro-batch fires every armed event-time
    timeout (timeouts armed in batch N fire in batch N+1; only
    stage-type events move the clock — Catalyst pushes the stage
    filter below the watermark node).  The emitted (user, stage,
    reached_at) set must equal the batch funnel_users cells row for
    row — the SAME stage-CTE oracle as the batch funnel row, in long
    format — and exactly-once per (user, stage) holds by construction
    (a machine that already reached stage k never re-emits it, even
    across the checkpoint restart).  Timestamps leave as exact epoch
    microseconds (unix_micros / epoch_us), so the row has zero float
    surface."""
    import os
    import shutil
    import tempfile

    from .streaming.funnel_stream import funnel_stream

    stages = ["view", "click", "purchase"]
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type"
    ).where(F.col("ts").isNotNull())
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = F.timestamp_micros(F.lit((lo_us + hi_us) // 2))
    hi = F.timestamp_micros(F.lit(hi_us))
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (hi + F.expr("INTERVAL 1 DAY")).alias("ts"),
        F.lit("view").alias("event_type"),
    )
    tmp = tempfile.mkdtemp(prefix="funnel_stream_row_")
    outdir = f"{_session_scratch('funnel_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("ts") <= F.lit(mid)),
            ev.where(F.col("ts") > F.lit(mid)).unionByName(sentinel),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f for f in os.listdir(f"{tmp}/h{i}") if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(halves[0].schema).parquet(src)
            q = (
                funnel_stream(stream, stages, watermark="10 minutes")
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(outdir).where(F.col("user_id") >= 0)
        return out.select(
            "user_id",
            "stage_idx",
            "stage",
            F.unix_micros("reached_at").alias("reached_us"),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "validate_rows_lineitem",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'quantity_le_48' AS "check",
           'in_range' AS kind
    FROM lineitem
    WHERE l_quantity IS NOT NULL AND (l_quantity < 1 OR l_quantity > 48)
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount_le_009', 'in_range'
    FROM lineitem
    WHERE l_discount IS NOT NULL
      AND (l_discount < 0.0 OR l_discount > 0.09)
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax_le_007', 'expression'
    FROM lineitem WHERE NOT COALESCE(l_tax <= 0.07, TRUE)
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'orderkey_not_null', 'not_null'
    FROM lineitem WHERE l_orderkey IS NULL
    """,
)
def validate_rows_lineitem(spark, sf):
    """Row-level quarantine (operators/validate.py validate_rows —
    VERDICT r9 #4, completing the Deequ surface): the rows that BREAK
    a rule, tagged with which rule, in long format — one (row, failed
    check) pair per output row, all scalar columns.  Four rules over
    lineitem (two ranges, a CHECK-style expression, and a not_null
    that never fires — silent checks must emit nothing).  Scale
    shape: ONE scan — every rule evaluates in a single projection as
    an array of (violated?, name) structs, F.filter keeps the failed
    entries and explode emits them, so clean rows never leave the
    scan stage and there is NO shuffle and NO per-check union branch
    (the validate_constraints lesson: Catalyst re-plans the scan per
    identical branch).  The oracle mirrors each rule as a plain
    filtered projection; exact keys and string tags only — zero float
    surface."""
    from .operators.validate import (
        expression,
        in_range,
        not_null,
        validate_rows,
    )

    li = load_table(spark, sf, "lineitem")
    checks = [
        in_range("l_quantity", 1, 48, name="quantity_le_48"),
        in_range("l_discount", 0.0, 0.09, name="discount_le_009"),
        expression("l_tax <= 0.07", name="tax_le_007"),
        not_null("l_orderkey", name="orderkey_not_null"),
    ]
    return validate_rows(
        li, checks, id_cols=["l_orderkey", "l_linenumber"]
    )


@register(
    "multiclass_report_events",
    oracle="""
    WITH s AS (
      SELECT event_type AS y,
             CASE WHEN v > 8000 THEN 'purchase'
                  WHEN v > 4600 THEN 'signup'
                  WHEN v > 2600 THEN 'error'
                  WHEN v > 1100 THEN 'click'
                  ELSE 'view' END AS p
      FROM (SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL)
    ), cells AS (
      SELECT y, p, COUNT(*) AS c FROM s GROUP BY y, p
    ), lab AS (
      SELECT y AS cls, SUM(c) AS support,
             SUM(CASE WHEN y = p THEN c ELSE 0 END) AS tp
      FROM cells GROUP BY y
    ), prd AS (
      SELECT p AS cls, SUM(c) AS predicted FROM cells GROUP BY p
    ), per AS (
      SELECT COALESCE(lab.cls, prd.cls) AS cls,
             CAST(COALESCE(support, 0) AS BIGINT) AS support,
             CAST(COALESCE(tp, 0) AS BIGINT) AS tp,
             CAST(COALESCE(predicted, 0) - COALESCE(tp, 0) AS BIGINT)
               AS fp,
             CAST(COALESCE(support, 0) - COALESCE(tp, 0) AS BIGINT)
               AS fn
      FROM lab FULL OUTER JOIN prd ON lab.cls = prd.cls
    )
    SELECT cls AS "class", support, tp, fp, fn,
           CASE WHEN tp + fp > 0 THEN
             ROUND(CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                   * 1000000.0) / 1000000.0 END AS precision,
           CASE WHEN tp + fn > 0 THEN
             ROUND(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)
                   * 1000000.0) / 1000000.0 END AS recall,
           CASE WHEN 2 * tp + fp + fn > 0 THEN
             ROUND(2.0 * CAST(tp AS DOUBLE)
                   / CAST(2 * tp + fp + fn AS DOUBLE)
                   * 1000000.0) / 1000000.0 END AS f1
    FROM per
    UNION ALL
    SELECT 'macro_avg',
           CAST(SUM(support) AS BIGINT), CAST(SUM(tp) AS BIGINT),
           CAST(SUM(fp) AS BIGINT), CAST(SUM(fn) AS BIGINT),
           ROUND(AVG(CASE WHEN tp + fp > 0 THEN
                       CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)
                     ELSE 0.0 END) * 1000000.0) / 1000000.0,
           ROUND(AVG(CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE))
                 * 1000000.0) / 1000000.0,
           ROUND(AVG(CASE WHEN 2 * tp + fp + fn > 0 THEN
                       2.0 * CAST(tp AS DOUBLE)
                       / CAST(2 * tp + fp + fn AS DOUBLE)
                     ELSE 0.0 END) * 1000000.0) / 1000000.0
    FROM per WHERE support > 0
    UNION ALL
    SELECT 'micro_avg',
           CAST(SUM(support) AS BIGINT), CAST(SUM(tp) AS BIGINT),
           CAST(SUM(fp) AS BIGINT), CAST(SUM(fn) AS BIGINT),
           ROUND(CAST(SUM(tp) AS DOUBLE) / CAST(SUM(support) AS DOUBLE)
                 * 1000000.0) / 1000000.0,
           ROUND(CAST(SUM(tp) AS DOUBLE) / CAST(SUM(support) AS DOUBLE)
                 * 1000000.0) / 1000000.0,
           ROUND(CAST(SUM(tp) AS DOUBLE) / CAST(SUM(support) AS DOUBLE)
                 * 1000000.0) / 1000000.0
    FROM per WHERE support > 0
    """,
)
def multiclass_report_events(spark, sf):
    """Multiclass classification report (ml/eval.py
    classification_report_multiclass — VERDICT r9 #5, the FineWeb-Edu
    quality-tier shape): the five event types as true classes, a
    deterministic value-bucket rule as the predicted class, evaluated
    per class (support, exact confusion cells, precision/recall/F1)
    plus macro and micro average rows.  ONE GROUP BY collapses the
    corpus to (label, pred, count) cells — ≤ C² rows of shuffle — and
    every downstream fold runs on C-sized frames.  Confusion cells are
    exact BIGINTs; per-class and micro rates are exact rationals under
    the integer-tier scaled round; the macro row is the one C-term
    double-sum surface (welch/anova class, margin-sweep guarded)."""
    from .ml.eval import classification_report_multiclass

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    pred = (
        F.when(v > 8000, F.lit("purchase"))
        .when(v > 4600, F.lit("signup"))
        .when(v > 2600, F.lit("error"))
        .when(v > 1100, F.lit("click"))
        .otherwise(F.lit("view"))
    )
    frame = ev.select(
        F.col("event_type").alias("label"), pred.alias("pred")
    )
    return classification_report_multiclass(frame, "label", "pred")


def _auc_ovr_oracle() -> str:
    """One-vs-rest AUC oracle: the Hanley–McNeil rank-sum CTE chain
    (the auc_value_purchase_events pattern) instantiated once per
    class, UNION ALLed.  Scores mirror the Spark row exactly — all
    exact BIGINTs, so the dictionaries agree bit for bit."""
    classes = [
        ("view", "v"),
        ("click", "-v"),
        ("purchase", "user_id % 97"),
        ("signup", "event_id % 101"),
        ("error", "(v + user_id) % 1000"),
    ]
    base = """
    WITH base AS (
      SELECT event_type, event_id, user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND user_id IS NOT NULL AND event_id IS NOT NULL
    )"""
    ctes, selects = [], []
    for i, (cls, score) in enumerate(classes):
        ctes.append(
            f""", d{i} AS (
      SELECT s, COUNT(*) FILTER (y = 1) AS ca,
             COUNT(*) FILTER (y = 0) AS cb
      FROM (SELECT CASE WHEN event_type = '{cls}' THEN 1 ELSE 0 END
                     AS y,
                   CAST({score} AS BIGINT) AS s FROM base)
      GROUP BY s
    ), rk{i} AS (
      SELECT ca, cb,
             2 * COALESCE(SUM(ca + cb) OVER (
                   ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) + (ca + cb) + 1 AS r2
      FROM d{i}
    ), m{i} AS (
      SELECT SUM(ca) AS np, SUM(cb) AS nn, SUM(ca * r2) AS r2p
      FROM rk{i}
    )"""
        )
        selects.append(
            f"""SELECT '{cls}' AS "class", CAST(np AS BIGINT) AS n_pos,
           CAST(nn AS BIGINT) AS n_neg,
           CASE WHEN np >= 1 AND nn >= 1 THEN
             ROUND(CAST(r2p - np * (np + 1) AS DOUBLE)
                   / (2.0 * CAST(np * nn AS DOUBLE)) * 1000000.0)
               / 1000000.0 + 0.0
           END AS auc
    FROM m{i}"""
        )
    return base + "".join(ctes) + "\n    " + "\n    UNION ALL\n    ".join(selects)


@register("auc_ovr_events", oracle=_auc_ovr_oracle())
def auc_ovr_events(spark, sf):
    """One-vs-rest ROC-AUC over the five event types (operators/
    stats.py auc_ovr — VERDICT r9 #5): each class carries its OWN
    deterministic integer score (cents, negated cents, and three
    modular hashes — multiclass AUC is inherently per-class-scored),
    and each class runs the binary rank-dictionary discipline
    unchanged: one GROUP BY to (score, class-count) cells, a window
    over DISTINCT scores, exact DECIMAL rank sums, no join back to
    rows.  C dictionary-bounded passes UNIONed; scores are exact
    BIGINTs so cross-engine agreement is by construction, with the
    single double division re-rounded at the integer tier."""
    from .operators.stats import auc_ovr

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    pairs = [
        ("view", v),
        ("click", -v),
        ("purchase", F.col("user_id") % 97),
        ("signup", F.col("event_id") % 101),
        ("error", (v + F.col("user_id")) % 1000),
    ]
    out = auc_ovr(ev, "event_type", pairs, round_digits=None)
    return out.select(
        "class",
        "n_pos",
        "n_neg",
        (F.round(F.col("auc") * 1000000.0) / 1000000.0).alias("auc"),
    )


@register(
    "funnel_timing_events",
    oracle="""
    WITH s1 AS (
      SELECT user_id AS u, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' AND user_id IS NOT NULL
        AND ts IS NOT NULL
      GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t2
      FROM events e JOIN s1 ON e.user_id = s1.u
      WHERE e.event_type = 'click' AND e.ts > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id AS u, MIN(e.ts) AS t3
      FROM events e JOIN s2 ON e.user_id = s2.u
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2
      GROUP BY e.user_id
    ), j AS (
      SELECT s1.u, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 ON s1.u = s2.u
              LEFT JOIN s3 ON s1.u = s3.u
    )
    SELECT CAST(1 AS INT) AS stage_idx, 'view' AS stage,
           CAST(COUNT(t1) AS BIGINT) AS n_users,
           quantile_cont(epoch_us(t1) - epoch_us(t1), 0.25) AS p25_us,
           quantile_cont(epoch_us(t1) - epoch_us(t1), 0.5) AS p50_us,
           quantile_cont(epoch_us(t1) - epoch_us(t1), 0.75) AS p75_us,
           quantile_cont(epoch_us(t1) - epoch_us(t1), 0.9) AS p90_us
    FROM j
    UNION ALL
    SELECT CAST(2 AS INT), 'click', CAST(COUNT(t2) AS BIGINT),
           quantile_cont(epoch_us(t2) - epoch_us(t1), 0.25),
           quantile_cont(epoch_us(t2) - epoch_us(t1), 0.5),
           quantile_cont(epoch_us(t2) - epoch_us(t1), 0.75),
           quantile_cont(epoch_us(t2) - epoch_us(t1), 0.9)
    FROM j
    UNION ALL
    SELECT CAST(3 AS INT), 'purchase', CAST(COUNT(t3) AS BIGINT),
           quantile_cont(epoch_us(t3) - epoch_us(t1), 0.25),
           quantile_cont(epoch_us(t3) - epoch_us(t1), 0.5),
           quantile_cont(epoch_us(t3) - epoch_us(t1), 0.75),
           quantile_cont(epoch_us(t3) - epoch_us(t1), 0.9)
    FROM j
    """,
)
def funnel_timing_events(spark, sf):
    """Funnel time-to-convert (operators/funnel.py funnel_timing —
    VERDICT r9 #6): exact percentiles of t_k − t_1 per stage over the
    view→click→purchase journey frame, in integer microseconds.  ONE
    aggregate over funnel_users computes every (stage, percentile)
    cell, inlined as an array of structs (no per-stage union
    branches); Spark's exact ``percentile`` is bit-identical to DuckDB
    ``quantile_cont`` on the integer deltas (the percentile_quantities
    discipline), so the row needs NO rounding tier.  Stage 1's
    percentiles are 0 by construction — the sanity anchor."""
    from .operators.funnel import funnel_timing

    ev = load_table(spark, sf, "events")
    return funnel_timing(
        ev, "user_id", "ts", "event_type", ["view", "click", "purchase"]
    )


@register(
    "window_funnel_events",
    oracle="""
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), a AS (
      SELECT u, t AS anchor FROM base WHERE et = 'view'
    ), f2 AS (
      SELECT b.u, a.anchor, MIN(b.t) AS t2
      FROM base b JOIN a ON b.u = a.u
      WHERE b.et = 'click' AND b.t > a.anchor
        AND b.t <= a.anchor + 28800000000
      GROUP BY b.u, a.anchor
    ), f3 AS (
      SELECT b.u, f2.anchor, MIN(b.t) AS t3
      FROM base b JOIN f2 ON b.u = f2.u
      WHERE b.et = 'purchase' AND b.t > f2.t2
        AND b.t <= f2.anchor + 28800000000
      GROUP BY b.u, f2.anchor
    ), lv AS (
      SELECT u, 1 AS lvl FROM a
      UNION ALL SELECT u, 2 FROM f2
      UNION ALL SELECT u, 3 FROM f3
    ), d AS (
      SELECT u, MAX(lvl) AS depth FROM lv GROUP BY u
    )
    SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT)
             AS n_users
    FROM d GROUP BY depth
    """,
)
def window_funnel_events(spark, sf):
    """ClickHouse windowFunnel PARITY (operators/funnel.py
    window_funnel): per-user maximum funnel depth where EVERY stage-1
    event is retried as a window start and the whole chain must land
    within 8 hours of its anchor — the semantics the plain funnel's
    min-ts anchor deliberately deviates from (documented with a
    counterexample in the module docstring; this operator closes the
    gap as a first-class option instead of a footnote).  Per-anchor
    earliest completion is exact for fixed anchor (exchange argument),
    so the join chain — anchors = stage-1 EVENTS, then S−1 equi-joins
    on the user key with min(ts) per (user, anchor) — computes the
    true maximum; depth folds back to one row per user, histogrammed.
    Timestamps compare as exact integer microseconds; all-integer
    output; the oracle is the identical CTE chain."""
    from .operators.funnel import window_funnel

    ev = load_table(spark, sf, "events")
    out = window_funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within=28800.0,
    )
    return out.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@register(
    "calibration_value_purchase_events",
    oracle="""
    WITH s AS (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(ROUND(value * 100) AS BIGINT) % 1001 AS pm
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), b AS (
      SELECT LEAST(CAST((pm * 10 - (pm * 10) % 1000) / 1000 AS INT), 9)
               AS bin,
             y, pm
      FROM s
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pm) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000.0)
                 * 1000000.0) / 1000000.0 AS confidence,
           ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0) / 1000000.0 AS accuracy
    FROM b GROUP BY bin
    """,
)
def calibration_value_purchase_events(spark, sf):
    """Reliability-diagram bins (ml/eval.py calibration_curve — the
    standard calibration companion to the Brier/log-loss report): a
    deterministic milli-probability (cents mod 1001, scaled) scored
    against the purchase indicator, uniform decile bins.  Exactness:
    the probability quantizes to the integer milli grid FIRST and the
    bin index is pure integer arithmetic (numerator made exactly
    divisible before the division — no float-floor boundary), so per-
    bin n / n_pos / Σpm are exact BIGINTs and confidence/accuracy are
    exact rationals under the integer-tier scaled round.  Scale shape:
    ONE map-side-combined GROUP BY to ≤ n_bins rows — nothing else."""
    from .ml.eval import calibration_curve

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull() & F.col("value").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    frame = ev.select(
        (F.col("event_type") == F.lit("purchase"))
        .cast("int")
        .alias("label"),
        ((v % 1001).cast("double") / 1000.0).alias("p"),
    )
    return calibration_curve(frame, "label", "p", n_bins=10)


@register(
    "top_label_calibration_events",
    oracle="""
    WITH base AS (
      SELECT event_type AS label,
             [v % 1001, user_id % 1001, event_id % 1001,
              (v + user_id) % 1001, (v + event_id) % 1001] AS pms
      FROM (SELECT event_type, user_id, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS v
            FROM events
            WHERE event_type IS NOT NULL AND value IS NOT NULL
              AND user_id IS NOT NULL AND event_id IS NOT NULL)
    ), am AS (
      SELECT label, list_max(pms) AS pm,
             (['view', 'click', 'purchase', 'signup', 'error'])[
               list_position(pms, list_max(pms))] AS pred
      FROM base
    ), binned AS (
      SELECT GREATEST(LEAST(
               CAST((pm * 10 - (pm * 10) % 1000) / 1000 AS INT), 9), 0)
               AS bin,
             pm, CASE WHEN label = pred THEN 1 ELSE 0 END AS ok
      FROM am
    )
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ok) AS BIGINT) AS n_correct,
           ROUND(CAST(SUM(pm) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000.0)
                 * 1000000.0) / 1000000.0 AS confidence,
           ROUND(CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0) / 1000000.0 AS accuracy
    FROM binned GROUP BY bin
    """,
)
def top_label_calibration_events(spark, sf):
    """Top-label reliability bins over the five event types (ml/eval.py
    top_label_calibration_curve — VERDICT r10 missing #4, the
    multiclass companion to calibration_value_purchase_events): each
    class carries its OWN deterministic milli probability (cents and
    modular id hashes, the auc_ovr scoring recipe), confidence is the
    per-row MAX milli probability, the prediction its first-arg-max
    class (ties break to the lowest class index — array_position /
    list_position agree), accuracy is argmax == event_type.  Shares
    calibration_curve's pure-integer both-ends-clamped bin arithmetic,
    so per-bin n / n_correct / Σpm are exact BIGINTs.  Scale shape:
    ONE map-side-combined GROUP BY to ≤ n_bins rows; the arg-max is a
    C-element JVM array fold."""
    from .ml.eval import top_label_calibration_curve

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    uid, eid = F.col("user_id"), F.col("event_id")
    frame = ev.select(
        F.col("event_type").alias("label"),
        ((v % 1001).cast("double") / 1000.0).alias("p_view"),
        ((uid % 1001).cast("double") / 1000.0).alias("p_click"),
        ((eid % 1001).cast("double") / 1000.0).alias("p_purchase"),
        (((v + uid) % 1001).cast("double") / 1000.0).alias("p_signup"),
        (((v + eid) % 1001).cast("double") / 1000.0).alias("p_error"),
    )
    return top_label_calibration_curve(
        frame,
        "label",
        ["p_view", "p_click", "p_purchase", "p_signup", "p_error"],
        classes=["view", "click", "purchase", "signup", "error"],
        n_bins=10,
    )


# --------------------------------------------------------------------- #
# Round-13 registrations: five funnel/recall rows (the batch-recall     #
# oracle carries an empty-truth guard), and the raw-parquet             #
# TIMESTAMP_NTZ input-contract row (VERDICT r12 missing #3 / Next #5).  #
# --------------------------------------------------------------------- #

_WINDOW_FUNNEL_DEPTH_ORACLE = """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), a AS (
      SELECT u, t AS anchor FROM base WHERE et = 'view'
    ), f2 AS (
      SELECT b.u, a.anchor, MIN(b.t) AS t2
      FROM base b JOIN a ON b.u = a.u
      WHERE b.et = 'click' AND b.t > a.anchor
        AND b.t <= a.anchor + 28800000000
      GROUP BY b.u, a.anchor
    ), f3 AS (
      SELECT b.u, f2.anchor, MIN(b.t) AS t3
      FROM base b JOIN f2 ON b.u = f2.u
      WHERE b.et = 'purchase' AND b.t > f2.t2
        AND b.t <= f2.anchor + 28800000000
      GROUP BY b.u, f2.anchor
    ), lv AS (
      SELECT u, 1 AS lvl FROM a
      UNION ALL SELECT u, 2 FROM f2
      UNION ALL SELECT u, 3 FROM f3
    ), d AS (
      SELECT u, MAX(lvl) AS depth FROM lv GROUP BY u
    )
    SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT)
             AS n_users
    FROM d GROUP BY depth
    """


@register("window_funnel_stream_events", oracle=_WINDOW_FUNNEL_DEPTH_ORACLE)
def window_funnel_stream_events(spark, sf):
    """The LIVE windowFunnel twin end to end (streaming/funnel_stream.py
    window_funnel_stream on applyInPandasWithState, EventTimeTimeout) —
    the funnel_stream row's proven availableNow pattern: the events
    table replays as TWO files through ONE checkpoint (split at the
    timestamp midpoint, so run 2 recovers run 1's chain state and
    unsealed buffers from the state store) and a stage-type sentinel
    under an excluded user a day past the horizon advances the final
    watermark so every armed timeout fires and every real chain seals.
    Per user the emitted depth-increase rows are exactly 1..D for the
    batch window_funnel depth D, so max(depth) per user histogrammed
    must equal the batch row's (depth, n_users) histogram — which is
    exactly the window_funnel_events oracle (identical CTE chain,
    8-hour window, every stage-1 event retried as an anchor).
    All-integer output, zero float surface."""
    import os
    import shutil
    import tempfile

    from .streaming.funnel_stream import window_funnel_stream

    stages = ["view", "click", "purchase"]
    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type"
    ).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = F.timestamp_micros(F.lit((lo_us + hi_us) // 2))
    hi = F.timestamp_micros(F.lit(hi_us))
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (hi + F.expr("INTERVAL 1 DAY")).alias("ts"),
        F.lit("view").alias("event_type"),
    )
    tmp = tempfile.mkdtemp(prefix="wf_stream_row_")
    outdir = f"{_session_scratch('wf_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("ts") <= F.lit(mid)),
            ev.where(F.col("ts") > F.lit(mid)).unionByName(sentinel),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(halves[0].schema).parquet(src)
            q = (
                window_funnel_stream(
                    stream,
                    stages,
                    within=28800.0,
                    watermark="10 minutes",
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(outdir).where(F.col("user_id") >= 0)
        return (
            out.groupBy("user_id")
            .agg(F.max("depth").cast("int").alias("depth"))
            .groupBy("depth")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "per_class_calibration_events",
    oracle="""
    WITH base AS (
      SELECT event_type AS label, user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS v
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND user_id IS NOT NULL AND event_id IS NOT NULL
    ), m AS (
      SELECT 'view' AS class, v % 1001 AS pm,
             CASE WHEN label = 'view' THEN 1 ELSE 0 END AS y FROM base
      UNION ALL
      SELECT 'click', user_id % 1001,
             CASE WHEN label = 'click' THEN 1 ELSE 0 END FROM base
      UNION ALL
      SELECT 'purchase', event_id % 1001,
             CASE WHEN label = 'purchase' THEN 1 ELSE 0 END FROM base
      UNION ALL
      SELECT 'signup', (v + user_id) % 1001,
             CASE WHEN label = 'signup' THEN 1 ELSE 0 END FROM base
      UNION ALL
      SELECT 'error', (v + event_id) % 1001,
             CASE WHEN label = 'error' THEN 1 ELSE 0 END FROM base
    ), b AS (
      SELECT class,
             GREATEST(LEAST(
               CAST((pm * 10 - (pm * 10) % 1000) / 1000 AS INT), 9), 0)
               AS bin,
             pm, y
      FROM m
    )
    SELECT class, bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           ROUND(CAST(SUM(pm) AS DOUBLE)
                 / (CAST(COUNT(*) AS DOUBLE) * 1000.0)
                 * 1000000.0) / 1000000.0 AS confidence,
           ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 * 1000000.0) / 1000000.0 AS accuracy
    FROM b GROUP BY class, bin
    """,
)
def per_class_calibration_events(spark, sf):
    """Per-class (classwise) reliability bins over the five event types
    (ml/eval.py per_class_calibration_curve — Kull et al. 2019, the
    other half of the multiclass calibration family next to
    top_label_calibration_events): each class's deterministic milli
    probability (the auc_ovr scoring recipe, shared with the top-label
    row) scored one-vs-rest against the event_type indicator.  One
    inline-array explode (no per-class union branches in the Spark
    plan) → ONE map-side-combined GROUP BY to ≤ 5·n_bins exact-BIGINT
    cells on the shared both-ends-clamped milli bin; the oracle's
    UNION ALL is the same melt expressed relationally."""
    from .ml.eval import per_class_calibration_curve

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    uid, eid = F.col("user_id"), F.col("event_id")
    frame = ev.select(
        F.col("event_type").alias("label"),
        ((v % 1001).cast("double") / 1000.0).alias("p_view"),
        ((uid % 1001).cast("double") / 1000.0).alias("p_click"),
        ((eid % 1001).cast("double") / 1000.0).alias("p_purchase"),
        (((v + uid) % 1001).cast("double") / 1000.0).alias("p_signup"),
        (((v + eid) % 1001).cast("double") / 1000.0).alias("p_error"),
    )
    return per_class_calibration_curve(
        frame,
        "label",
        ["p_view", "p_click", "p_purchase", "p_signup", "p_error"],
        classes=["view", "click", "purchase", "signup", "error"],
        n_bins=10,
    )


@register(
    "streaming_calibration_events",
    oracle="""
    WITH s AS (
      SELECT (epoch_us(ts) - epoch_us(ts) % 3600000000) AS window_us,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             CAST(ROUND(value * 100) AS BIGINT) % 1001 AS pm
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
        AND ts IS NOT NULL
    ), b AS (
      SELECT window_us,
             GREATEST(LEAST(
               CAST((pm * 10 - (pm * 10) % 1000) / 1000 AS INT), 9), 0)
               AS bin,
             y, pm
      FROM s
    )
    SELECT window_us, bin, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(pm) AS BIGINT) AS spm
    FROM b GROUP BY window_us, bin
    """,
)
def streaming_calibration_events(spark, sf):
    """The streaming calibration monitor end to end (streaming/
    eval_stream.py streaming_calibration_counts): the
    calibration_value_purchase recipe (purchase indicator vs cents mod
    1001 milli probability) over hourly event-time windows, replayed
    as TWO files through ONE checkpoint with a far-future sentinel
    sealing every real window in run 2 — so the append-mode cells must
    equal ONE batch GROUP BY (hour window, clamped milli bin) over the
    whole table, which is exactly the oracle (Spark's window() and the
    oracle's epoch-µs modulus are both epoch-hour-aligned).  Cells are
    exact BIGINTs (n, n_pos, Σpm); window starts leave as epoch µs.
    Sentinel hygiene: the sentinel's own window never seals (nothing
    follows it), and the output filter keeps only windows at or below
    the real data's horizon."""
    import os
    import shutil
    import tempfile

    from .streaming.eval_stream import streaming_calibration_counts

    ev = load_table(spark, sf, "events").where(
        F.col("event_type").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    v = F.round(F.col("value") * 100).cast("long")
    frame = ev.select(
        F.col("ts"),
        (F.col("event_type") == F.lit("purchase"))
        .cast("int")
        .alias("label"),
        ((v % 1001).cast("double") / 1000.0).alias("p"),
    )
    lo_us, hi_us = frame.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = F.timestamp_micros(F.lit((lo_us + hi_us) // 2))
    hi = F.timestamp_micros(F.lit(hi_us))
    sentinel = spark.range(1).select(
        (hi + F.expr("INTERVAL 30 DAY")).alias("ts"),
        F.lit(0).cast("int").alias("label"),
        F.lit(0.5).cast("double").alias("p"),
    )
    tmp = tempfile.mkdtemp(prefix="cal_stream_row_")
    outdir = f"{_session_scratch('cal_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            frame.where(F.col("ts") <= F.lit(mid)),
            frame.where(F.col("ts") > F.lit(mid)).unionByName(sentinel),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(halves[0].schema).parquet(src)
            q = (
                streaming_calibration_counts(
                    stream,
                    "label",
                    "p",
                    ts_col="ts",
                    window="1 hour",
                    watermark="10 minutes",
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(outdir)
        return out.select(
            F.unix_micros("window_start").alias("window_us"),
            "bin",
            "n",
            "n_pos",
            "spm",
        ).where(F.col("window_us") <= F.lit(hi_us))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


@register(
    "window_funnel_strict_order_events",
    oracle="""
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et,
             CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1
                  WHEN 'purchase' THEN 2 ELSE -1 END AS sk
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), anchors AS (
      SELECT DISTINCT u, t AS a FROM base WHERE et = 'view'
    ), lv1 AS (
      SELECT u, a, a AS t1 FROM anchors
    ), lv2 AS (
      SELECT u, a, t1,
        (SELECT CASE WHEN b.et = 'click' THEN b.t END
         FROM base b
         WHERE b.u = lv1.u AND b.t > lv1.t1
           AND b.t <= lv1.a + 28800000000
         ORDER BY b.t, b.sk LIMIT 1) AS t2
      FROM lv1
    ), lv3 AS (
      SELECT u, a, t1, t2,
        (SELECT CASE WHEN b.et = 'purchase' THEN b.t END
         FROM base b
         WHERE b.u = lv2.u AND b.t > lv2.t2
           AND b.t <= lv2.a + 28800000000
         ORDER BY b.t, b.sk LIMIT 1) AS t3
      FROM lv2
    ), d AS (
      SELECT u, MAX(1 + CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)
               AS depth
      FROM lv3 GROUP BY u
    )
    SELECT CAST(depth AS INT) AS depth,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY depth
    """,
)
def window_funnel_strict_order_events(spark, sf):
    """ClickHouse windowFunnel(strict_order) over the events table —
    the consecutive-chain mode (ANY interleaving event stops a chain,
    tracked or not) that until now faced DuckDB only in unit fixtures
    (tests/test_funnel_eval.py's hand + fuzz twins): every stage-1
    event retried as an 8-hour window start, each level advancing only
    when the FIRST event of any type after the previous link (ties at
    an identical microsecond break to the smallest stage index,
    untracked events smallest of all — deterministic where ClickHouse
    is undefined) carries the expected stage name.  The oracle replays
    the same per-anchor machine with correlated first-event-after-link
    ORDER BY t, sk LIMIT 1 subqueries; depth folds to one row per user
    and histograms — all-integer output, zero float surface.  Honest
    cost note (operators/funnel.py): strict_order levels join the FULL
    event frame, the price of any-event-interrupts."""
    from .operators.funnel import window_funnel

    ev = load_table(spark, sf, "events")
    out = window_funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within=28800.0,
        strict_order=True,
    )
    return out.groupBy(F.col("depth").cast("int").alias("depth")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


def _probe_vecs() -> "list[list[float]]":
    """Three deterministic unit probe queries (dim 64): the fixed
    synthetic sin vector every single-query ANN row uses, plus cos- and
    sin(2i)-derived companions — data- and SF-independent so the SQL
    oracle can inline them, each normalized with the SAME numpy ops the
    row uses (the shared-bits discipline)."""
    import numpy as np

    idx = np.arange(1, 65, dtype=np.float64)
    out = []
    for raw in (np.sin(idx), np.cos(idx), np.sin(2.0 * idx)):
        v = np.asarray(raw, dtype=np.float64)
        out.append(list(v / np.linalg.norm(v)))
    return out


def _ann_recall_batch_oracle(sf_dir: str) -> str:
    """Batch-recall oracle: per probe query, the exact cosine top-10
    truth plus each variant's top-10 replayed in SQL — int8 through the
    parameterized quantized twin, dim16 through a 16-dim fold with the
    query renormalized on the SLICED prefix (mirroring _cosine's
    renormalization on the Spark side) — then ONE join + GROUP BY
    counts (qid, vec_id) overlaps; recall_pm divides by the truth
    frame's total row count (the r12 denominator contract), zero-
    guarded like the operator (ADVICE r12 #4: the fixture guarantees a
    non-empty corpus, but the oracle must not be the only side that
    errors on an empty one)."""
    import numpy as np

    from .ml.sql_twin import flit

    def vlit(v) -> str:
        return "[" + ", ".join(flit(float(x)) for x in v) + "]"

    truth_parts, tagged_parts = [], []
    for qid, q in enumerate(_probe_vecs()):
        qa = np.asarray(q, dtype=np.float64)
        q2 = qa / np.linalg.norm(qa)
        cos = (
            f"ROUND({_seq_fold_sql(vlit(q2))}"
            f" / sqrt({_self_fold_sql()}), 6)"
        )
        truth_parts.append(
            f"SELECT {qid} AS qid, vec_id FROM ("
            f"SELECT vec_id, {cos} AS score FROM embeddings "
            f"ORDER BY score DESC, vec_id LIMIT 10) t{qid}"
        )
        q16 = qa[:16]
        q16_2 = q16 / np.linalg.norm(q16)
        cos16 = (
            f"ROUND({_seq_fold_sql(vlit(q16_2), dim=16)}"
            f" / sqrt({_self_fold_sql(dim=16)}), 6)"
        )
        tagged_parts.append(
            f"SELECT 'int8' AS variant, {qid} AS qid, vec_id "
            f"FROM ({_quantized_topk_oracle(list(q))}) i{qid}"
        )
        tagged_parts.append(
            f"SELECT 'dim16', {qid}, vec_id FROM ("
            f"SELECT vec_id, {cos16} AS score FROM embeddings "
            f"ORDER BY score DESC, vec_id LIMIT 10) d{qid}"
        )
    truth = "\n      UNION ALL ".join(truth_parts)
    tagged = "\n      UNION ALL ".join(tagged_parts)
    return f"""
    WITH truth AS (
      {truth}
    ), tagged AS (
      {tagged}
    ), scored AS (
      SELECT g.variant,
             CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM tagged g LEFT JOIN truth t
        ON g.qid = t.qid AND g.vec_id = t.vec_id
    )
    SELECT variant, CAST(10 AS INT) AS k,
           CAST((SELECT COUNT(DISTINCT qid) FROM truth) AS BIGINT)
             AS n_queries,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS truth_n,
           CAST(COUNT(*) AS BIGINT) AS returned,
           CAST(COALESCE(SUM(hit), 0) AS BIGINT) AS hits,
           CASE WHEN (SELECT COUNT(*) FROM truth) > 0
                THEN CAST(ROUND(COALESCE(SUM(hit), 0) * 1000.0
                     / (SELECT COUNT(*) FROM truth)) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_pm
    FROM scored GROUP BY variant
    """


ORACLE_FACTORIES["ann_recall_batch"] = _ann_recall_batch_oracle


@register("ann_recall_batch")
def ann_recall_batch(spark, sf):
    """Mean recall@10 over THREE probe queries — the batch
    (``query_col``) form of ann_recall_at_k, the shape a real recall
    benchmark takes (VERDICT r11 missing #4): per query, exact cosine
    top-10 truth vs two prunings with exact SQL twins — int8 scalar
    quantization (expected ≈ 1000 pm, the lossless-in-practice
    baseline) and a 16-of-64 dimension truncation (a genuine cheap-ANN
    ablation whose recall is interesting).  Matches join on (query,
    id); recall_pm = hits·1000 / truth_n with truth_n the truth
    frame's total row count (the r12 denominator contract), so a
    variant that skips a query is penalized in the shared denominator.
    Scale shape (r14, guide §1.2 — one scan per variant FAMILY instead
    of one per (family × probe), 9 corpus scans → 3): each family
    computes all three probes' scores in one projection off one scan
    (bit-identical score expressions to the single-probe rows),
    explodes to (qid, id, score) and cuts per qid with a row_number
    window whose ``<= k`` filter Spark executes as a map-side
    WindowGroupLimit — O(k · n_queries) rows per task reach the
    exchange, never the corpus.  Then 30 truth ids broadcast, ONE left
    equi-join + ONE groupBy + a 1-row truth-count broadcast — nothing
    corpus-sized shuffles."""
    from .operators import simsearch as _ss

    e = load_table(spark, sf, "embeddings")
    e16 = e.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    probes = _probe_vecs()
    truth = _ss.cosine_topk_batch(e, probes, k=10).select("qid", "vec_id")
    int8 = _ss.quantized_cosine_topk_batch(e, probes, k=10).select(
        "qid", "vec_id"
    )
    dim16 = _ss.cosine_topk_batch(
        e16, [list(q)[:16] for q in probes], k=10
    ).select("qid", "vec_id")
    return _ss.ann_recall_at_k(
        truth,
        {"int8": int8, "dim16": dim16},
        id_col="vec_id",
        k=10,
        query_col="qid",
    )


@register("window_funnel_events_ntz_raw", oracle=_WINDOW_FUNNEL_DEPTH_ORACLE)
def window_funnel_events_ntz_raw(spark, sf):
    """The TIMESTAMP_NTZ input contract under the driver hash gate
    (VERDICT r12 missing #3): identical semantics to
    window_funnel_events, but the events parquet is read RAW — no
    ``load_table`` normalization — so the funnel runs on the column
    type the driver drop actually ships.  The current drops store ts
    as parquet ``timestamp[us]`` with no timezone, which Spark reads
    as TIMESTAMP_NTZ: exactly the type the whole funnel family
    rejected before r12 (``unix_micros`` and double-casts both throw
    on NTZ; the fix routes event time through ``.cast("timestamp")``,
    a SimplifyCasts no-op on TIMESTAMP inputs).  DuckDB's ``epoch_us``
    on the same file is timezone-free and the session pins UTC
    (session.py), so the NTZ cast preserves the wall clock the oracle
    sees — the UTC assumption is documented at operators/funnel.py.
    The one normalization kept is for the LEGACY nanos-as-long
    encoding some past drops used: a LONG ts is not a timestamp type
    at all (Spark cannot even scan it without a legacy flag), so it is
    re-encoded exactly as sources.load_table does; TIMESTAMP and
    TIMESTAMP_NTZ pass through untouched.  Exercises the within-window
    integer-µs bound branch (within=8h) on NTZ input, which no other
    registered row drives raw."""
    from pyspark.sql import types as T

    from .operators.funnel import window_funnel

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf}/events.parquet")
    if isinstance(ev.schema["ts"].dataType, T.LongType):
        ev = ev.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    out = window_funnel(
        ev,
        "user_id",
        "ts",
        "event_type",
        ["view", "click", "purchase"],
        within=28800.0,
    )
    return out.groupBy("depth").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


# --------------------------------------------------------------------- #
# Round-14 registrations: sequence_count, its live twin and top_paths.  #
# --------------------------------------------------------------------- #


def _sequence_count_fold_sql(
    stages: "list[str]", within_us: "int | None"
) -> str:
    """DuckDB replay of sequence_count's single-pass machine as a
    RECURSIVE-CTE automaton: events get a per-user step number
    (``row_number() OVER (PARTITION BY u ORDER BY t, si)`` — the
    operator's exact tie order), and the recursion advances every
    user's (k next-expected stage, lt last matched time, n
    completions) state one event per level; the final state is the
    row at each user's event count.

    Why not ``list_reduce`` (the cusum/ewma oracle idiom): DuckDB
    1.0.0's list_reduce returns WRONG results for this lambda under
    multi-row evaluation — the SAME literal list folds to the correct
    answer in a 1-row query and to a different answer when co-batched
    with rows of other lengths; struct, HUGEINT and BIGINT
    accumulators all reproduce it.  Found by this row's fuzz twin
    while the Spark fold and the pure-Python machine agreed;
    tests/test_sequence_count.py pins a 3-row minimal repro as a
    canary (if DuckDB ever fixes it, the canary fails and the
    recursive machine may be rewritten as a fold).

    Emits CTEs ending in ``counts(u, n_matches)``; callers must open
    with ``WITH RECURSIVE``.
    """
    if len(stages) < 1:
        raise ValueError("sequence_count needs at least one stage")
    case = " ".join(
        f"WHEN '{s}' THEN {i}" for i, s in enumerate(stages)
    )
    last = len(stages) - 1
    gap = (
        "FALSE"
        if within_us is None
        else f"(s.t - m.lt) > {int(within_us)}"
    )
    return f"""
    base AS (
      SELECT user_id AS u, epoch_us(ts) AS t,
             CASE event_type {case} ELSE -1 END AS si
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), seq AS (
      SELECT u, t, si,
             row_number() OVER (PARTITION BY u ORDER BY t, si) AS rn
      FROM base
    ), nev AS (
      SELECT u, COUNT(*) AS cnt FROM seq GROUP BY u
    ), machine AS (
      SELECT u, CAST(0 AS BIGINT) AS rn, 0 AS k,
             CAST(NULL AS BIGINT) AS lt, CAST(0 AS BIGINT) AS n
      FROM nev
      UNION ALL
      SELECT m.u, s.rn,
        CASE WHEN s.si < 0 OR s.si != m.k THEN m.k
             WHEN m.k > 0 AND {gap} THEN 0
             WHEN m.k = {last} THEN 0
             ELSE m.k + 1 END AS k,
        CASE WHEN s.si < 0 OR s.si != m.k THEN m.lt
             WHEN m.k > 0 AND {gap} THEN CAST(NULL AS BIGINT)
             WHEN m.k = {last} THEN CAST(NULL AS BIGINT)
             ELSE s.t END AS lt,
        CASE WHEN s.si >= 0 AND s.si = m.k AND m.k = {last}
                  AND NOT (m.k > 0 AND {gap})
             THEN m.n + 1 ELSE m.n END AS n
      FROM machine m JOIN seq s ON s.u = m.u AND s.rn = m.rn + 1
    ), counts AS (
      SELECT m.u, m.n AS n_matches
      FROM machine m JOIN nev ON nev.u = m.u AND m.rn = nev.cnt
    )"""


_SEQ_COUNT_STAGES = ["view", "click", "purchase"]
_SEQ_COUNT_WITHIN_S = 86400.0  # adjacent-gap bound, ClickHouse (?t<=N):
# 24 h discriminates on the testdata (1 h zeroes every user; None seldom
# resets) — the histogram exercises BOTH the gap-reset and the counting


def _sequence_count_oracle(sf_dir: str) -> str:
    fold = _sequence_count_fold_sql(
        _SEQ_COUNT_STAGES, int(_SEQ_COUNT_WITHIN_S * 1_000_000)
    )
    return f"""
    WITH RECURSIVE {fold}
    SELECT CAST(n_matches AS INT) AS n_matches,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM counts GROUP BY n_matches
    """


ORACLE_FACTORIES["sequence_count_events"] = _sequence_count_oracle


@register("sequence_count_events")
def sequence_count_events(spark, sf):
    """ClickHouse ``sequenceCount('(?1)(?t<=86400)(?2)(?t<=86400)(?3)')``
    parity over the events table (operators/funnel.py sequence_count,
    new in r13): per user, the number of NON-OVERLAPPING
    view->click->purchase completions under a 24-hour adjacent-gap
    bound, counted by the documented deterministic single-pass machine
    ((t, stage-index) order, expected-type advance, gap reset,
    count+reset on completion), histogrammed to (n_matches, n_users).
    The oracle replays the identical machine as a recursive-CTE
    automaton — NOT as a list_reduce fold, because DuckDB 1.0.0's
    list_reduce misfolds this lambda under multi-row evaluation, a
    real engine bug this row's fuzz twin found
    (tests/test_sequence_count.py pins a 3-row minimal repro; see
    _sequence_count_fold_sql).  All-integer output, zero
    float surface.  Scale shape: ONE keyed collect_list + a JVM
    aggregate fold (the ewma/cusum family — per-user series in one
    task, max_series the named-error guard), then a <=O(distinct
    counts) histogram aggregate."""
    from .operators.funnel import sequence_count

    ev = load_table(spark, sf, "events")
    out = sequence_count(
        ev,
        "user_id",
        "ts",
        "event_type",
        _SEQ_COUNT_STAGES,
        within=_SEQ_COUNT_WITHIN_S,
    )
    return out.groupBy(
        F.col("n_matches").cast("int").alias("n_matches")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_users"))


def _sequence_count_stream_oracle(sf_dir: str) -> str:
    fold = _sequence_count_fold_sql(
        _SEQ_COUNT_STAGES, int(_SEQ_COUNT_WITHIN_S * 1_000_000)
    )
    # the stream emits one row per COMPLETION, so users with zero
    # completions never appear — the batch histogram restricted to
    # n_matches >= 1
    return f"""
    WITH RECURSIVE {fold}
    SELECT CAST(n_matches AS INT) AS n_matches,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM counts WHERE n_matches > 0 GROUP BY n_matches
    """


ORACLE_FACTORIES["sequence_count_stream_events"] = (
    _sequence_count_stream_oracle
)


@register("sequence_count_stream_events")
def sequence_count_stream_events(spark, sf):
    """The LIVE sequenceCount twin end to end (streaming/
    funnel_stream.py sequence_count_stream on applyInPandasWithState,
    EventTimeTimeout) — the family's proven availableNow pattern: the
    events table replays as TWO files through ONE checkpoint (split at
    the timestamp midpoint, so run 2 recovers run 1's machine scalars
    and unsealed buffer from the state store) and a stage-type
    sentinel under an excluded user a day past the horizon advances
    the final watermark so every buffer seals.  Per user the emitted
    completion rows carry cumulative counts exactly 1..N for the batch
    sequence_count N, so max(n_matches) per user histogrammed must
    equal the batch row's histogram restricted to n >= 1 — the same
    recursive-CTE oracle as sequence_count_events with a positive
    filter.  All-integer output, zero float surface."""
    import os
    import shutil
    import tempfile

    from .streaming.funnel_stream import sequence_count_stream

    ev = load_table(spark, sf, "events").select(
        "user_id", "ts", "event_type"
    ).where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    lo_us, hi_us = ev.agg(
        F.min(F.unix_micros("ts")), F.max(F.unix_micros("ts"))
    ).first()
    mid = F.timestamp_micros(F.lit((lo_us + hi_us) // 2))
    hi = F.timestamp_micros(F.lit(hi_us))
    sentinel = spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        (hi + F.expr("INTERVAL 1 DAY")).alias("ts"),
        F.lit(_SEQ_COUNT_STAGES[0]).alias("event_type"),
    )
    tmp = tempfile.mkdtemp(prefix="sc_stream_row_")
    outdir = f"{_session_scratch('sc_stream_out_')}/out"
    try:
        src = f"{tmp}/src"
        os.makedirs(src)
        halves = [
            ev.where(F.col("ts") <= F.lit(mid)),
            ev.where(F.col("ts") > F.lit(mid)).unionByName(sentinel),
        ]
        for i, half in enumerate(halves):
            half.coalesce(1).write.parquet(f"{tmp}/h{i}")
            part = [
                f
                for f in os.listdir(f"{tmp}/h{i}")
                if f.endswith(".parquet")
            ][0]
            shutil.copy(f"{tmp}/h{i}/{part}", f"{src}/half{i}.parquet")
            stream = spark.readStream.schema(halves[0].schema).parquet(src)
            q = (
                sequence_count_stream(
                    stream,
                    _SEQ_COUNT_STAGES,
                    within=_SEQ_COUNT_WITHIN_S,
                    watermark="10 minutes",
                )
                .writeStream.format("parquet")
                .option("path", outdir)
                .option("checkpointLocation", f"{tmp}/cp")
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        out = spark.read.parquet(outdir).where(F.col("user_id") >= 0)
        return (
            out.groupBy("user_id")
            .agg(F.max("n_matches").cast("int").alias("n_matches"))
            .groupBy("n_matches")
            .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_TOP_PATHS_ORACLE = """
    WITH base AS (
      SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL
    ), arr AS (
      SELECT u, list(et ORDER BY t, et) AS es FROM base GROUP BY u
    ), paths AS (
      SELECT array_to_string(es[1:3], '>') AS path FROM arr
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path ASC LIMIT 20
    """


@register("top_event_paths_events", oracle=_TOP_PATHS_ORACLE)
def top_event_paths_events(spark, sf):
    """Top-20 opening event paths (operators/funnel.py top_paths, new
    r13): each user's first THREE event types in (ts, type) order
    joined with '>' — the funnel-DISCOVERY view (which ordered
    journeys actually happen) that precedes choosing funnel stages.
    Deterministic end to end: equal-µs ties break lexicographically on
    the type name and the cut orders by (n_users DESC, path ASC) — a
    total order, so the top-20 SET is exact; output is one string and
    one exact BIGINT per row, zero rounding surface.  The oracle is
    the same journey list built with DuckDB's ordered list aggregate,
    sliced and joined identically.  Scale shape: one keyed
    collect_list of slim (µs, type) structs, a JVM
    slice/transform/array_join projection, ONE map-side-combined
    GROUP BY on <= |types|^3 path strings, and a TakeOrdered top-20."""
    from .operators.funnel import top_paths

    ev = load_table(spark, sf, "events")
    return top_paths(
        ev, "user_id", "ts", "event_type", max_len=3, top_n=20
    )
