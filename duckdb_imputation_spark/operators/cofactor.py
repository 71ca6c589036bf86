"""Distributed cofactor ("triple") aggregation — the engine's central operator.

Spark-first re-expression of the reference's fused lift+sum aggregate
``sum_to_triple_<x>_<y>(cols...)`` (duckdb_extension/src/triple/sum/
sum_no_lift.cpp:53-216, registered for x,y in 0..19 at
duckdb_imputation_extension.cpp:80-113) and of ``sum_triple`` over
pre-built triples (triple/sum/sum.cpp:57-261).  One generic Python
generator replaces all 399 C++ instantiations (SURVEY §2.1 #3).

Execution strategy (designed for 100 TB, not just small SF):

* **Dense part** (N, Σx_i, Σx_i·x_j): plain ``groupBy().agg`` over
  ``count``/``sum`` expressions.  Catalyst plans partial+final hash
  aggregation with whole-stage codegen — the exact analogue of the
  reference's SumState update/combine (sum_state.cpp:10-114), with the
  map-side combine reducing shuffle traffic to one partial row per
  (partition × group).
* **Sparse categorical part**: one tagged ``explode`` producing (cat_idx,
  key) entries, aggregated by (group, cat_idx, key).  Shuffle volume is
  bounded by Σ|categories| per group *after* map-side partial
  aggregation, never by row count.  Category-pair co-occurrences get the
  same treatment over the c(c+1)/2 pair list.

Output form: the builder (:func:`_cofactor_entries`) returns flat entry
rows ``(group..., part, i, j, k1, k2, val)`` — each per-key aggregate row
emits its own entries with one generate, so the flat result needs no
per-group assembly and no second shuffle.  The nested struct is built
only at the API edge: :func:`sum_to_triple` with categorical columns is
:func:`~.flatten.unflatten_triple` over those entries (one more
grouping), and driver consumers fold the collected entries with
:meth:`~..functions.triple.Triple.from_entries`.

Physical paths, each picked from the input shape alone (all return the
same values):

* no categorical column — the dense aggregate alone, one codegen'd hash
  aggregation (nested: the struct built straight from it).
* narrow shape (fan-out × quads ≤ ``_FUSE_DENSE_MAX``) — the dense stats
  ride the per-key aggregation as one extra pseudo-entry: one scan.
* wide shape — a dedicated dense aggregate's entries are unioned with
  the sparse entries: two scans, but the quad products run once per row
  instead of once per exploded entry.
* :func:`sum_triples` — ⊕ over a column of triples: lower to flat entries,
  one grouped sum, optional nested reassembly
  (:func:`~.flatten.unflatten_triple`).

Everything is JVM-side Column expressions — no Python UDF in the hot path.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.triple import cat_pairs

__all__ = ["sum_to_triple", "sum_to_triples_conditional", "sum_triples", "lift_columns"]

_KV_T = "array<struct<key:int,value:double>>"
_KKV_T = "array<struct<key1:int,key2:int,value:double>>"
_ENTRY_COLS = ("part", "i", "j", "k1", "k2", "val")

# Fused-dense cutover (r13, re-validated r14): the single-scan fused
# cofactor gates d(d+1)/2 quad products on each of the (fan + 1)
# exploded entries per row, so its per-row overhead is ~fan × quads;
# above this product the two-scan plan (dedicated dense aggregate whose
# entries are unioned with the sparse ones) wins.  Both branches are
# value-identical.
_FUSE_DENSE_MAX = 96


def _empty(array_t: str) -> Column:
    return F.expr("array()").cast(array_t)


def _quad_pairs(d: int, nb: bool) -> list[tuple[int, int]]:
    """Storage order of the ``quad_agg`` slots: the upper triangle, or
    the diagonal for the Naive-Bayes aggregate."""
    if nb:
        return [(i, i) for i in range(d)]
    return [(i, j) for i in range(d) for j in range(i, d)]


def _check_roles(num_cols: list[str], cat_cols: list[str], group_by: list[str]) -> None:
    overlap = set(num_cols) & set(cat_cols)
    if overlap:
        raise ValueError(
            f"columns cannot be both continuous and categorical: {sorted(overlap)}"
        )
    clash = (set(num_cols) | set(cat_cols)) & set(group_by)
    if clash:
        raise ValueError(f"group keys overlap aggregated columns: {sorted(clash)}")


def _check_entry_keys(group_by: Sequence[str]) -> None:
    """Entry rows carry the group keys beside ``part, i, j, k1, k2, val``;
    a key of one of those names would make two columns of that name."""
    clash = [g for g in group_by if g in _ENTRY_COLS]
    if clash:
        raise ValueError(
            f"group keys {clash} share a name with the entry columns "
            f"{list(_ENTRY_COLS)}; rename them first"
        )


def _project(
    df: DataFrame, num_cols: list[str], cat_cols: list[str], group_by: list[str]
) -> tuple[DataFrame, list[str], bool]:
    """Validate the column roles and project the aggregation input: the
    group keys (the constant ``__g`` when ungrouped), ``__x{i}`` as double
    and ``__k{j}`` as int.  Returns ``(base, group_by, keyless)``."""
    _check_roles(num_cols, cat_cols, group_by)
    keyless = not group_by
    if keyless:
        df = df.withColumn("__g", F.lit(0))
        group_by = ["__g"]
    nums = [F.col(col).cast("double").alias(f"__x{i}") for i, col in enumerate(num_cols)]
    cats = [F.col(col).cast("int").alias(f"__k{j}") for j, col in enumerate(cat_cols)]
    return df.select(*group_by, *nums, *cats), group_by, keyless


def _dense_aggs(d: int, quad_idx: list[tuple[int, int]]) -> list[Column]:
    """Count, Σx_i and Σx_i·x_j over the projected input, named ``__n``,
    ``__lin_{i}`` and ``__quad_{p}``."""
    aggs = [F.expr("count(1)").alias("__n")]
    aggs += [F.expr(f"sum(__x{i})").alias(f"__lin_{i}") for i in range(d)]
    aggs += [
        F.expr(f"sum(__x{i} * __x{j})").alias(f"__quad_{p}")
        for p, (i, j) in enumerate(quad_idx)
    ]
    return aggs


def _dense_fields(d: int, n_quads: int) -> list[Column]:
    """The ``N, lin_agg, quad_agg`` struct fields, read from the
    :func:`_dense_aggs` columns; NULL sums read as 0."""

    def arr(vals: list[str]) -> Column:
        if not vals:
            return _empty("array<double>")
        return F.expr("array(" + ", ".join(f"coalesce({v}, 0.0d)" for v in vals) + ")")

    return [
        F.col("__n").alias("N"),
        arr([f"__lin_{i}" for i in range(d)]).alias("lin_agg"),
        arr([f"__quad_{p}" for p in range(n_quads)]).alias("quad_agg"),
    ]


def _ent(part: str, i, j, k1, k2, val) -> str:
    """SQL for one flat entry struct ``(part, i, j, k1, k2, val)`` — the
    row layout of :func:`~.flatten.triple_entries`; each argument after
    ``part`` is an SQL expression."""
    return (
        f"named_struct('part', '{part}', 'i', CAST({i} AS INT), "
        f"'j', CAST({j} AS INT), 'k1', CAST({k1} AS INT), "
        f"'k2', CAST({k2} AS INT), 'val', CAST({val} AS DOUBLE))"
    )


def _dense_entries(d: int, quad_idx: list[tuple[int, int]]) -> list[str]:
    """The ``N``, ``lin`` and ``quad`` entries of a row carrying the
    :func:`_dense_aggs` columns; NULL sums read as 0."""
    out = [_ent("N", -1, -1, -1, -1, "__n")]
    out += [_ent("lin", i, -1, -1, -1, f"coalesce(__lin_{i}, 0.0d)") for i in range(d)]
    out += [
        _ent("quad", i, j, -1, -1, f"coalesce(__quad_{p}, 0.0d)")
        for p, (i, j) in enumerate(quad_idx)
    ]
    return out


def _cofactor_entries(
    df: DataFrame,
    num_cols: list[str],
    cat_cols: list[str],
    group_by: list[str],
    nb: bool,
    max_categories: int | None,
) -> DataFrame:
    """The cofactor builder: the (grouped) cofactor of ``df`` as flat
    entry rows ``group_by..., part, i, j, k1, k2, val`` — one row per
    statistic, NULL sums read as 0.  No group key gives no row for an
    empty input."""
    _check_entry_keys(group_by)
    d, c = len(num_cols), len(cat_cols)
    base, group_by, keyless = _project(df, num_cols, cat_cols, group_by)

    if max_categories is not None and c > 0:
        # Opt-in scale guard: the categorical maps (and the driver-side
        # dictionaries the ML path builds from them, partition.cpp:34-37)
        # are only safe for bounded-cardinality columns.  One cheap
        # approx-distinct scan up front beats an executor OOM later.
        counts = df.agg(
            *[F.approx_count_distinct(col).alias(col) for col in cat_cols]
        ).collect()[0]
        bad = {col: counts[col] for col in cat_cols if counts[col] > max_categories}
        if bad:
            raise ValueError(
                f"categorical columns exceed max_categories={max_categories}: "
                f"{bad} — these look like IDs, not categories"
            )

    quad_idx = _quad_pairs(d, nb)
    n_pairs = len(cat_pairs(c)) if not nb else 0
    fan = c + n_pairs  # sparse entries per input row

    # Fused single-scan shape (r13, guide §2.4 — remove passes/shuffles
    # outright): the dense stats ride as ONE extra tagged pseudo-entry
    # (kind 2) through the same explode → per-key aggregation, removing
    # a second full scan of the input.  Value-identical: the kind-2
    # group receives exactly one entry per input row in row order, so
    # its count/sums accumulate exactly as the dedicated dense aggregate
    # does.  The fused aggregate gates the d(d+1)/2 quad products per
    # exploded entry, so its overhead grows with fan-out × quad width;
    # measured at sf0.1 it wins for narrow shapes (3 num × 2 cat: ~2 s →
    # ~1 s noop) and loses for the wide one (8 num × 4 cat: 2.3 s → 5.5 s
    # — 14 sparse entries × 44 gated quads beat the saved scan).  The
    # data-independent criterion below picks fused exactly when the
    # per-entry gating work is small; either branch returns the same
    # rows, only the plan differs.
    fuse_dense = c > 0 and fan * max(len(quad_idx), 1) <= _FUSE_DENSE_MAX
    # the wide shape's dense entries: a dedicated aggregate (second scan)
    # whose quad products run once per input row with no per-entry gating
    dense = None
    if not fuse_dense:
        dense = base.groupBy(*group_by).agg(*_dense_aggs(d, quad_idx)).select(
            *group_by,
            F.inline(F.expr("array(" + ", ".join(_dense_entries(d, quad_idx)) + ")")),
        )
    if c == 0:
        return dense.drop("__g") if keyless else dense

    # ---- sparse per-key aggregation: one tagged explode, one groupBy ----
    # kind 0: (cat j, key); kind 1: (cat pair a*c+b, key1, key2);
    # kind 2: the fused dense pseudo-entry
    def _estruct(kind: int, idx: int, e1: str, e2: str) -> str:
        return (
            f"named_struct('__kind', {kind}, '__idx', CAST({idx} AS INT), "
            f"'__e1', {e1}, '__e2', {e2})"
        )

    entry_sqls = [_estruct(2, 0, "0", "0")] if fuse_dense else []
    entry_sqls += [_estruct(0, j, f"__k{j}", "0") for j in range(c)]
    if not nb:
        entry_sqls += [_estruct(1, a * c + b, f"__k{a}", f"__k{b}") for a, b in cat_pairs(c)]
    carry_sums = d > 0 and not nb
    carry_x = [F.col(f"__x{i}") for i in range(d)] if (carry_sums or fuse_dense) else []
    exploded = base.select(
        *group_by,
        *carry_x,
        F.explode(F.expr("array(" + ", ".join(entry_sqls) + ")")).alias("__e"),
    ).select(
        *group_by,
        *carry_x,
        F.col("__e.__kind").alias("__kind"),
        F.col("__e.__idx").alias("__idx"),
        F.col("__e.__e1").alias("__e1"),
        F.col("__e.__e2").alias("__e2"),
    )
    # per-key count and sums, named as the dense aggregate's: linear sums
    # are needed on kind-0 entries when carry_sums (Σx_i per key) and on
    # the kind-2 entry (Σx_i); quad products only on kind-2 (gated so the
    # multiplies run once per input row, not once per sparse copy)
    dense_kind = F.col("__kind") == 2
    sum_aggs = []
    quad_aggs = []
    if carry_sums:
        sum_aggs = [F.sum(F.col(f"__x{i}")).alias(f"__lin_{i}") for i in range(d)]
    elif fuse_dense and d:
        sum_aggs = [
            F.sum(F.when(dense_kind, F.col(f"__x{i}"))).alias(f"__lin_{i}")
            for i in range(d)
        ]
    if fuse_dense:
        quad_aggs = [
            F.sum(
                F.when(dense_kind, F.col(f"__x{i}") * F.col(f"__x{j}"))
            ).alias(f"__quad_{p}")
            for p, (i, j) in enumerate(quad_idx)
        ]
    per_key = exploded.groupBy(*group_by, "__kind", "__idx", "__e1", "__e2").agg(
        F.count(F.lit(1)).alias("__n"),
        *sum_aggs,
        *quad_aggs,
    )

    # each per-key row inlines its own entries (SQL text: one F.expr
    # parse instead of a py4j round trip per sub-expression)
    kinds = {
        0: [_ent("lin_cat", "__idx", -1, "__e1", -1, "__n")]
        + [
            _ent("quad_num_cat", i, "__idx", "__e1", -1, f"coalesce(__lin_{i}, 0.0d)")
            for i in range(d if carry_sums else 0)
        ]
    }
    if not nb:
        kinds[1] = [_ent("quad_cat", f"__idx div {c}", f"__idx % {c}", "__e1", "__e2", "__n")]
    if fuse_dense:
        kinds[2] = _dense_entries(d, quad_idx)
    emit = " ".join(f"WHEN {k} THEN array({', '.join(e)})" for k, e in kinds.items())
    entries = per_key.select(*group_by, F.inline(F.expr(f"CASE __kind {emit} END")))
    if dense is not None:
        entries = dense.union(entries)
    return entries.drop("__g") if keyless else entries


def sum_to_triple(
    df: DataFrame,
    num_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    group_by: Sequence[str] = (),
    nb: bool = False,
    result_col: str = "triple",
    max_categories: int | None = None,
) -> DataFrame:
    """Aggregate ``df`` into one triple per group.

    Continuous columns are cast to double, categorical to int — the
    num-before-cat / FLOAT-vs-INTEGER convention of the reference
    (README.md:126, lift.cpp:31-38) made explicit by two parameters.

    With ``nb=True`` produces the Naive-Bayes aggregate
    (``sum_to_nb_agg``: diagonal quad, no num×cat / cat×cat parts,
    sum_to_nb_agg.cpp:39-146).

    Returns a DataFrame with the ``group_by`` columns plus ``result_col``
    (struct shaped like :func:`~duckdb_imputation_spark.functions.triple
    .triple_schema`).
    """
    from .flatten import unflatten_triple  # avoid a cycle

    num_cols, cat_cols, group_by = list(num_cols), list(cat_cols), list(group_by)
    d, c = len(num_cols), len(cat_cols)
    if c:
        _check_roles(num_cols, cat_cols, group_by)
        # the entry columns (part, i, j, ...) may share a group key's name:
        # aggregate over positional stand-ins, then restore the names
        keys = [f"__gb{n}" for n in range(len(group_by))]
        df = df.withColumns({k: F.col(g) for k, g in zip(keys, group_by)})
        entries = _cofactor_entries(df, num_cols, cat_cols, keys, nb, max_categories)
        nested = unflatten_triple(entries, d, c, keys, nb=nb, result_col=result_col)
        return nested.toDF(*group_by, result_col)

    # ---- dense-only: pure codegen'd partial+final hash aggregation ---
    base, group_by, keyless = _project(df, num_cols, cat_cols, group_by)
    quad_idx = _quad_pairs(d, nb)
    fields = _dense_fields(d, len(quad_idx))
    fields.append(_empty(f"array<{_KV_T}>").alias("lin_cat"))
    if not nb:
        fields += [
            _empty(f"array<{_KV_T}>").alias("quad_num_cat"),
            _empty(f"array<{_KKV_T}>").alias("quad_cat"),
        ]
    dense = base.groupBy(*group_by).agg(*_dense_aggs(d, quad_idx))
    out = dense.select(*group_by, F.struct(*fields).alias(result_col))
    return out.drop("__g") if keyless else out


def lift_columns(
    num_cols: Sequence[str], cat_cols: Sequence[str] = (), nb: bool = False
) -> Column:
    """Per-row lift ``to_cofactor(cols...)`` as a Column expression
    (reference lift.cpp:15-243 / lift_to_nb_agg.cpp:13-136).

    Provided for parity and for composing with :func:`sum_triples`; the
    fused :func:`sum_to_triple` should be preferred — it never materializes
    per-row triples (README.md:136).
    """
    d, c = len(num_cols), len(cat_cols)
    xs = [F.col(col).cast("double") for col in num_cols]
    ks = [F.col(col).cast("int") for col in cat_cols]
    one = F.lit(1.0)

    def kv(k: Column, v: Column) -> Column:
        return F.array(F.struct(k.alias("key"), v.alias("value")))

    fields = [
        F.lit(1).cast("long").alias("N"),
        F.array(*xs).cast("array<double>").alias("lin_agg"),
        F.array(*[xs[i] * xs[j] for (i, j) in _quad_pairs(d, nb)])
        .cast("array<double>")
        .alias("quad_agg"),
        (
            F.array(*[kv(ks[j], one) for j in range(c)])
            if c
            else _empty(f"array<{_KV_T}>")
        ).alias("lin_cat"),
    ]
    if not nb:
        fields += [
            (
                F.array(*[kv(ks[j], xs[i]) for i in range(d) for j in range(c)])
                if c and d
                else _empty(f"array<{_KV_T}>")
            ).alias("quad_num_cat"),
            (
                F.array(
                    *[
                        F.array(
                            F.struct(
                                ks[a].alias("key1"),
                                ks[b].alias("key2"),
                                one.alias("value"),
                            )
                        )
                        for (a, b) in cat_pairs(c)
                    ]
                )
                if c
                else _empty(f"array<{_KKV_T}>")
            ).alias("quad_cat"),
        ]
    return F.struct(*fields)


def sum_triples(
    df: DataFrame,
    triple_col: str,
    d_num: int,
    d_cat: int,
    group_by: Sequence[str] = (),
    nb: bool = False,
    result_col: str = "triple",
    flat_entries: bool = False,
) -> DataFrame:
    """⊕-aggregate a column of triples (reference ``sum_triple``,
    sum.cpp:57-261) — e.g. after :mod:`multiply` in a factorized join.

    Single-pass: each triple is lowered to flat entry rows with ONE
    generate (so the upstream plan executes once — an earlier 4-scan
    version re-ran the whole upstream join per statistic family), summed
    with one grouped aggregation (map-side combine bounds the shuffle by
    the number of distinct statistics, not input rows), and reassembled
    into the nested struct with one more grouping
    (:func:`~.flatten.unflatten_triple`).

    ``flat_entries=True`` (r14, guide §1.2 — don't compute things you
    throw away) returns the summed FLAT entry rows directly
    (``group_by..., part, i, j, k1, k2, val`` — the
    :func:`~.flatten.flatten_triple` layout) and skips the nested
    reassembly.  For callers that would immediately re-flatten the
    nested struct (both factorized-join query rows), the round trip is
    value-identical row for row: re-flattening the assembled struct
    emits exactly one row per summed ``(part, i, j, k1, k2)`` group
    with the summed ``val`` passed through unchanged (``N`` makes an
    exact double→bigint→double round trip — counts are integral and
    ≪ 2^53), only in a different (order-insensitive) row order — while
    the plan drops one single-row exchange, two ObjectHashAggregates
    (collect_list) and the two widest projections.
    """
    from .flatten import flatten_triple, unflatten_triple  # avoid a cycle

    group_by = list(group_by)
    internal_key = not group_by
    if internal_key:
        df = df.withColumn("__g", F.lit(0))
        group_by = ["__g"]

    entries = flatten_triple(df, d_num, d_cat, group_by, nb=nb, triple_col=triple_col)
    summed = entries.groupBy(*group_by, "part", "i", "j", "k1", "k2").agg(
        F.sum("val").alias("val")
    )
    if not flat_entries:
        summed = unflatten_triple(
            summed, d_num, d_cat, group_by, nb=nb, result_col=result_col
        )
    return summed.drop("__g") if internal_key else summed


def sum_to_triples_conditional(
    df: DataFrame,
    num_cols: Sequence[str],
    cat_cols: Sequence[str],
    conds: Sequence,
    nb: bool = False,
):
    """ONE scan, one triple per condition (a row may satisfy several
    conditions and contributes to each).

    Rows explode to one copy per satisfied condition tagged with its
    index, then the ordinary grouped cofactor aggregates per tag —
    within a partition each tag sees exactly the rows (in the same
    order) that ``df.filter(cond)`` would, so partial aggregates equal
    the per-filter form.  Built for driver loops that need several
    filtered cofactors of the SAME frame state (MICE ``low``: the
    post-rewrite delta of the current column and the pre-train delta of
    the next one) — halves the number of jobs without changing any
    value.

    Returns ``list[Triple]`` aligned with ``conds`` (zero triple for
    conditions matching no rows)."""
    from ..functions.triple import Triple

    tags = F.array(
        *[
            F.when(c, F.lit(i)).otherwise(F.lit(None).cast("int"))
            for i, c in enumerate(conds)
        ]
    )
    tagged = df.withColumn(
        "__cond", F.explode(F.filter(tags, lambda x: x.isNotNull()))
    )
    num_cols, cat_cols = list(num_cols), list(cat_cols)
    rows = [[] for _ in conds]
    for r in _cofactor_entries(tagged, num_cols, cat_cols, ["__cond"], nb, None).collect():
        rows[r["__cond"]].append(r)
    return [Triple.from_entries(r, len(num_cols), len(cat_cols), nb=nb) for r in rows]
