"""Ring ⊗ — factorized aggregation over joins.

Spark-first re-expression of the reference's ``multiply_triple`` scalar
function (duckdb_extension/src/triple/mul.cpp:19-611) and the
``sum_triple(multiply_triple(A,B)) FROM ... JOIN ... ON key`` pattern
(README.md:163-174, LMFAO/F-IVM lineage).

Catalyst does not rewrite agg-over-join into partial-agg ⊗ on its own
(SURVEY §4), so this is exposed as an explicit API:

* :func:`multiply_triples` — the ⊗ of two triple struct columns, as a pure
  Column expression (JVM-side higher-order functions, no Python UDF): the
  product triple spans the concatenated column spaces, with
  N = N₁N₂, lin = lin₁·N₂ ∥ lin₂·N₁, quad cross-blocks lin₁ᵢ·lin₂ⱼ, cat
  maps scaled by the other side's N, and the cat×cat cross block a full
  key cross product (mul.cpp:564-580).  It backs the registry's
  ``multiply_triple`` and any per-key product a caller wants to keep.
* :func:`multiply_flatten_entries` — the same product as the flat entry
  rows :func:`~.flatten.flatten_triple` would emit from it, without ever
  building the nested struct.  This is the form a ⊕ consumes.
* :func:`triple_over_join` — the cofactor over an equi-join.  When both
  sides repeat join keys it is the factorized pattern: group each side
  by the join key, aggregate *locally* to one triple per key, join the
  (tiny) grouped results, ⊗ with the flat emitter, then one grouped ⊕.
  At 100 TB this is the whole point: the join operates on |distinct
  keys| rows instead of the raw fact tables, whose join would multiply
  rows.  When the right key is unique (``unique_right=True``, a
  key/foreign-key join) the join cannot multiply rows, so factorizing
  saves nothing: it is one join plus one cofactor scan
  (:func:`~.cofactor._cofactor_entries`).  Nested output is
  :func:`~.flatten.unflatten_triple` over the entries on both paths.

Both ⊗ emitters walk one slot table (:func:`_product_slots`), so the
product's block layout and index arithmetic are written once.
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.triple import cat_pairs, pair_index
from .cofactor import (
    _KKV_T,
    _KV_T,
    _check_entry_keys,
    _cofactor_entries,
    _empty,
    _quad_pairs,
    sum_to_triple,
)
from .flatten import _entry, unflatten_triple

__all__ = ["multiply_triples", "multiply_flatten_entries", "triple_over_join"]


class _Slot(NamedTuple):
    """One output slot of A ⊗ B (after ``N``).

    ``part``/``i``/``j`` locate it as :func:`~.flatten.flatten_triple`
    does.  It reads operand ``side``'s ``field`` at 0-based ``pos`` and
    multiplies by the OTHER operand's ``scale``: its ``N``, its
    ``lin_agg`` at ``scale_pos``, or — for ``lin_cat`` — the full key
    cross product with its ``lin_cat`` map at ``scale_pos``."""

    part: str
    i: int
    j: int
    side: str
    field: str
    pos: int
    scale: str
    scale_pos: int = -1

    @property
    def scalar(self) -> bool:
        return self.field in ("lin_agg", "quad_agg")


def _product_slots(
    shape_left: tuple[int, int], shape_right: tuple[int, int], nb: bool
) -> list[_Slot]:
    """Every slot of the product of a ``shape_left`` and a
    ``shape_right`` triple (``(d_num, d_cat)`` each), in the emission
    order of :func:`~.flatten.flatten_triple`.  A block that lies wholly
    on one side is that side's block scaled by the other side's ``N``;
    the mixed blocks are the cross products of mul.cpp:564-580."""
    d1, c1 = shape_left
    d2, c2 = shape_right
    d, c = d1 + d2, c1 + c2
    slots = []
    for i in range(d):
        s = ("a", "lin_agg", i, "N") if i < d1 else ("b", "lin_agg", i - d1, "N")
        slots.append(_Slot("lin", i, -1, *s))
    for i, j in _quad_pairs(d, nb):
        if nb:
            # nb quad slots are the diagonal in storage order (slot p =
            # pair (p, p)); sides scale like lin
            s = ("a", "quad_agg", i, "N") if i < d1 else ("b", "quad_agg", i - d1, "N")
        elif j < d1:
            s = ("a", "quad_agg", pair_index(i, j, d1), "N")
        elif i >= d1:
            s = ("b", "quad_agg", pair_index(i - d1, j - d1, d2), "N")
        else:  # num from A × num from B
            s = ("a", "lin_agg", i, "lin_agg", j - d1)
        slots.append(_Slot("quad", i, j, *s))
    for j in range(c):
        s = ("a", "lin_cat", j, "N") if j < c1 else ("b", "lin_cat", j - c1, "N")
        slots.append(_Slot("lin_cat", j, -1, *s))
    if nb:
        return slots
    for i in range(d):
        for j in range(c):
            if i < d1 and j < c1:
                s = ("a", "quad_num_cat", i * c1 + j, "N")
            elif i >= d1 and j >= c1:
                s = ("b", "quad_num_cat", (i - d1) * c2 + (j - c1), "N")
            elif i < d1:  # num from A × cat from B
                s = ("b", "lin_cat", j - c1, "lin_agg", i)
            else:  # num from B × cat from A
                s = ("a", "lin_cat", j, "lin_agg", i - d1)
            slots.append(_Slot("quad_num_cat", i, j, *s))
    for x, y in cat_pairs(c):
        if y < c1:
            s = ("a", "quad_cat", pair_index(x, y, c1), "N")
        elif x >= c1:
            s = ("b", "quad_cat", pair_index(x - c1, y - c1, c2), "N")
        else:  # cat from A × cat from B
            s = ("a", "lin_cat", x, "lin_cat", y - c1)
        slots.append(_Slot("quad_cat", x, y, *s))
    return slots


def _slot_value(
    s: _Slot, a: Column, b: Column, entry: Callable[[Column, Column, Column], Column]
) -> Column:
    """The product expression of slot ``s``: a scalar for scalar slots,
    else an array.  ``entry(k1, k2, val)`` builds one output value
    (``k1``/``k2`` are None where the slot has no such key)."""
    src_t, other = (a, b) if s.side == "a" else (b, a)
    src = F.element_at(src_t[s.field], s.pos + 1)
    if s.scale == "lin_cat":
        # full key cross product; the sort makes the within-slot order
        # canonical (the entry prefix is constant, so ordering by the
        # whole element orders by (key1, key2))
        return F.sort_array(
            F.flatten(
                F.transform(
                    src,
                    lambda e1: F.transform(
                        F.element_at(other["lin_cat"], s.scale_pos + 1),
                        lambda e2: entry(
                            e1["key"], e2["key"], e1["value"] * e2["value"]
                        ),
                    ),
                )
            )
        )
    if s.scale == "N":
        factor = other["N"].cast("double")
    else:
        factor = F.element_at(other["lin_agg"], s.scale_pos + 1)
    if s.scalar:
        return entry(None, None, src * factor)
    if s.field == "quad_cat":
        return F.transform(
            src, lambda e: entry(e["key1"], e["key2"], e["value"] * factor)
        )
    return F.transform(src, lambda e: entry(e["key"], None, e["value"] * factor))


def _nested_entry(part: str) -> Callable[[Column, Column, Column], Column]:
    if part == "quad_cat":
        return lambda k1, k2, v: F.struct(
            k1.alias("key1"), k2.alias("key2"), v.alias("value")
        )
    if part in ("lin_cat", "quad_num_cat"):
        return lambda k1, k2, v: F.struct(k1.alias("key"), v.alias("value"))
    return lambda k1, k2, v: v


def multiply_triples(
    left: Column,
    right: Column,
    shape_left: tuple[int, int],
    shape_right: tuple[int, int],
    nb: bool = False,
) -> Column:
    """⊗ of two triple struct columns → product triple struct column.

    ``shape_* = (d_num, d_cat)``.  Shapes are compile-time (they determine
    the output struct), mirroring the reference's bind-time return-type
    computation (mul.cpp:614-650).
    """
    parts: dict[str, list[Column]] = {
        p: [] for p in ("lin", "quad", "lin_cat", "quad_num_cat", "quad_cat")
    }
    for s in _product_slots(shape_left, shape_right, nb):
        parts[s.part].append(_slot_value(s, left, right, _nested_entry(s.part)))

    def arr(part: str, array_t: str) -> Column:
        return F.array(*parts[part]) if parts[part] else _empty(array_t)

    fields = [
        (left["N"] * right["N"]).alias("N"),
        arr("lin", "array<double>").alias("lin_agg"),
        arr("quad", "array<double>").alias("quad_agg"),
        arr("lin_cat", f"array<{_KV_T}>").alias("lin_cat"),
    ]
    if not nb:
        fields += [
            arr("quad_num_cat", f"array<{_KV_T}>").alias("quad_num_cat"),
            arr("quad_cat", f"array<{_KKV_T}>").alias("quad_cat"),
        ]
    return F.struct(*fields)


def multiply_flatten_entries(
    left: Column,
    right: Column,
    shape_left: tuple[int, int],
    shape_right: tuple[int, int],
    nb: bool = False,
) -> Column:
    """Flat entry rows of the ⊗ product: the array
    :func:`~.flatten.flatten_triple` would generate from
    ``multiply_triples(left, right)``, element for element and in the
    same emission order, with each slot's product expression inlined
    into its entry struct — the intermediate nested product struct
    (13+ array allocations per joined key for the (1,1)x(1,1) shape,
    walked again by the generator) is never built.  Feed to
    ``F.inline`` and sum with one grouped aggregation."""
    minus1 = F.lit(-1)
    arrays = [F.array(_entry("N", -1, -1, minus1, minus1, left["N"] * right["N"]))]
    for s in _product_slots(shape_left, shape_right, nb):

        def entry(k1, k2, val):
            return _entry(
                s.part, s.i, s.j,
                minus1 if k1 is None else k1, minus1 if k2 is None else k2, val,
            )

        v = _slot_value(s, left, right, entry)
        arrays.append(F.array(v) if s.scalar else v)
    return F.concat(*arrays)


def triple_over_join(
    df1: DataFrame,
    df2: DataFrame,
    on: str | Sequence[str],
    num1: Sequence[str],
    cat1: Sequence[str] = (),
    num2: Sequence[str] = (),
    cat2: Sequence[str] = (),
    nb: bool = False,
    broadcast_right: bool = False,
    group_by: Sequence[str] = (),
    result_col: str = "triple",
    null_safe_keys: bool = False,
    unique_right: bool = False,
    flat_entries: bool = False,
) -> DataFrame:
    """Cofactor over an equi-join, equal to the cofactor of the
    materialized ``df1 ⋈ df2`` (README.md:166-174).  By default it is the
    factorized form:

        sum_triple( multiply_triple(g1.t, g2.t) )
        FROM (SELECT key, sum_to_triple(...) FROM df1 GROUP BY key) g1
        JOIN (SELECT key, sum_to_triple(...) FROM df2 GROUP BY key) g2
        USING key

    Each side is aggregated *before* the join by
    :func:`~.cofactor.sum_to_triple`, whose per-key aggregation is
    bounded by map-side combining however many rows a key carries, so
    the join touches one row per key per side.  Factorize when both
    sides repeat keys in large groups: ``lineitem ⋈ lineitem`` on
    ``l_suppkey`` (~600 rows per key, 4 cores, noop write) takes 1.84 s
    at sf0.1 and 3.66 s on the 10x replica, where the materialized join
    would have ~360M and ~3.6G rows.  When keys are near-unique the
    per-key triples cost more than the join they save: on ``l_orderkey``
    (1-7 rows per key) this path takes 5.6 s at sf0.1 and 56 s at 10x,
    while joining first and taking one cofactor scan takes 1.2 s and
    6.0 s — join first, or pass ``unique_right=True`` for a
    key/foreign-key join.  ``broadcast_right=True`` hints the right side
    of the join to broadcast (correct when it is dim-sized).
    ``group_by`` (columns of df1, e.g. a coarser key) yields one summed
    triple per group — the reference's ``GROUP BY gb`` over the join
    (README.md:166-172).  For one product triple per join key, aggregate
    each side with :func:`~.cofactor.sum_to_triple`, join, and apply
    :func:`multiply_triples`.

    Join keys follow SQL inner-join semantics (NULL keys never match),
    matching the reference's ``JOIN ... ON a = b``.  Pass
    ``null_safe_keys=True`` for ``<=>`` matching; the default plain
    equality also plans measurably faster (the null-safe comparison
    blocks Catalyst's isnotnull inference and key-exchange reuse —
    ~1.7× on the sf0.1 factorized-join benchmark).

    ``unique_right=True`` is the caller's promise that the right join
    key is UNIQUE in ``df2`` (a primary key, as in a key/foreign-key
    join).  The materialized join then has no more rows than ``df1``,
    so factorizing saves nothing: ``df1`` is joined with ``df2``'s key
    and feature columns and the join feeds one cofactor scan
    (:func:`~.cofactor._cofactor_entries`) — no per-key triples, no ⊗.
    The result is the same either way (NULL features are skipped as
    the materialized cofactor skips them); a duplicated right key only
    makes the join multiply rows, the cost this path exists to avoid.
    Set the ``SPARK_GRAFT_DEBUG_UNIQUE`` env var to make a duplicated
    key fail loudly: it runs one count-vs-distinct-count aggregate over
    ``df2`` first.  Vetted call sites (orders PK):
    ``queries.triple_factorized_join`` and
    ``queries.triple_factorized_join_grouped``.

    ``flat_entries=True`` returns the cofactor as FLAT entry rows
    (``group_by..., part, i, j, k1, k2, val`` — see
    :func:`~.flatten.triple_entries`) and skips the nested assembly.
    """
    keys = [on] if isinstance(on, str) else list(on)
    group_by = list(group_by)
    num1, cat1, num2, cat2 = list(num1), list(cat1), list(num2), list(cat2)
    rhs_keys = [f"__rhs_{k}" for k in keys]
    if unique_right:
        if os.environ.get("SPARK_GRAFT_DEBUG_UNIQUE"):
            # opt-in: one extra aggregate job, never part of the
            # production plan.  Keys count under the join's matching rule:
            # with <=> a NULL key is one more value (count_distinct over a
            # struct keeps it); with = a NULL-keyed row matches nothing
            matchable = df2 if null_safe_keys else df2.dropna(subset=keys)
            n_rows, n_keys = matchable.select(
                F.count(F.lit(1)), F.count_distinct(F.struct(*keys))
            ).first()
            if n_rows != n_keys:
                raise ValueError(
                    f"unique_right=True but the right join key is not "
                    f"unique: {n_rows} rows vs {n_keys} distinct "
                    f"{keys} values"
                )
        # the right features get positional names, so a df1 column of
        # the same name cannot clash with them in the join
        rnum = [f"__rhs_x{i}" for i in range(len(num2))]
        rcat = [f"__rhs_k{j}" for j in range(len(cat2))]
        left = df1
        right = df2.select(
            *[F.col(k).alias(r) for k, r in zip(keys, rhs_keys)],
            *[F.col(x).alias(r) for x, r in zip(num2 + cat2, rnum + rcat)],
        )
    else:
        _check_entry_keys(group_by)
        # one triple per join key and side: the join touches one row per
        # key, and each side's aggregation is bounded by map-side combining
        # however many rows a key carries
        left = sum_to_triple(df1, num1, cat1, group_by=keys + group_by, nb=nb, result_col="__t1")
        right = sum_to_triple(df2, num2, cat2, group_by=keys, nb=nb, result_col="__t2")
        right = right.withColumnsRenamed(dict(zip(keys, rhs_keys)))
    if broadcast_right:
        right = F.broadcast(right)
    cond = None
    for k, r in zip(keys, rhs_keys):
        lhs, rhs = F.col(k), F.col(r)
        c = lhs.eqNullSafe(rhs) if null_safe_keys else lhs == rhs
        cond = c if cond is None else cond & c
    joined = left.join(right, cond, "inner")
    if unique_right:
        summed = _cofactor_entries(joined, num1 + rnum, cat1 + rcat, group_by, nb, None)
    else:
        # the flat product entries straight off (__t1, __t2) — the nested
        # product struct is never built — then ONE grouped sum
        entries = joined.select(
            *group_by,
            F.inline(
                multiply_flatten_entries(
                    F.col("__t1"),
                    F.col("__t2"),
                    (len(num1), len(cat1)),
                    (len(num2), len(cat2)),
                    nb=nb,
                )
            ),
        )
        summed = entries.groupBy(*group_by, "part", "i", "j", "k1", "k2").agg(
            F.sum("val").alias("val")
        )
    if flat_entries:
        return summed
    return unflatten_triple(
        summed,
        len(num1) + len(num2),
        len(cat1) + len(cat2),
        group_by,
        nb=nb,
        result_col=result_col,
    )
