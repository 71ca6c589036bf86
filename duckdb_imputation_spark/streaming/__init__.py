"""Structured Streaming surface: incremental cofactor maintenance.

The reference is strictly batch (SURVEY §2.3 — "all streaming concepts:
none"), but its *algebra* is built for incrementality: the triple is a
commutative monoid under ⊕ (and supports ⊖ for retraction), which is
exactly what Spark streaming aggregation needs.  This module turns the
cofactor into a streaming operator:

* :func:`streaming_triple_parts` — event-time-windowed partial triples
  with a watermark for late data; dense parts are plain streaming sums
  (incremental state per window), categorical parts are streamed in
  entry form (part,i,j,k1,k2,val) so state stays bounded per key.
* :meth:`~duckdb_imputation_spark.functions.triple.Triple.from_entries`
  folds a micro-batch (or the complete output) of those entry rows into
  a driver-side triple via ⊕ — e.g. in ``foreachBatch`` to keep a live
  model fresh.

Entry-form streaming is the scale-safe choice: per-window state is one
row per (window, statistic) after partial aggregation, never per input
row, and the sink can be re-aggregated downstream with a plain batch
``groupBy`` because ⊕ is associative.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.cofactor import lift_columns
from ..operators.flatten import flatten_triple

__all__ = [
    "streaming_triple_parts",
    "streaming_exact_dedup",
    "streaming_corpus_stats",
    "corpus_stats_batch",
    "streaming_decontaminate",
    "streaming_sliding_counts",
]


def streaming_triple_parts(
    stream: DataFrame,
    num_cols: Sequence[str],
    cat_cols: Sequence[str] = (),
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Streaming cofactor in flat entry form, windowed on event time.

    Output schema: window_start, window_end, <group_by...>, part, i, j,
    k1, k2, val — the same entry rows as
    :func:`~duckdb_imputation_spark.operators.flatten.triple_entries`,
    one set per (window, group).  Late rows within ``watermark`` update
    their window; older rows are dropped (documented deviation from the
    reference, which has no notion of late data).
    """
    num_cols, cat_cols, group_by = list(num_cols), list(cat_cols), list(group_by)
    lifted = stream.withWatermark(ts_col, watermark).select(
        F.window(F.col(ts_col), window).alias("__w"),
        *group_by,
        lift_columns(num_cols, cat_cols).alias("triple"),
    )
    return (
        flatten_triple(lifted, len(num_cols), len(cat_cols), ["__w", *group_by])
        .groupBy("__w", *group_by, "part", "i", "j", "k1", "k2")
        .agg(F.sum("val").alias("val"))
        .select(
            F.col("__w.start").alias("window_start"),
            F.col("__w.end").alias("window_end"),
            *group_by,
            "part",
            "i",
            "j",
            "k1",
            "k2",
            "val",
        )
    )


def _corpus_stat_exprs(text_col: str):
    from ..operators.textstats import (
        quality_score,
        repetition_metrics,
        token_count_ws,
    )

    t = F.col(text_col)
    return [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(t)).alias("n_tokens"),
        F.round(F.avg(quality_score(t)), 6).alias("avg_quality"),
        F.round(F.avg(F.length(t)).cast("double"), 6).alias("avg_chars"),
        # boilerplate-flood detector: mean top-2-gram repetition
        F.round(
            F.avg(repetition_metrics(t)["top_ngram_frac"]), 6
        ).alias("avg_top_ngram_frac"),
    ]


def streaming_corpus_stats(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Live ingestion-quality monitor: per event-time window, document
    count, token volume and mean quality/length — the dashboard feed a
    training-data pipeline watches for upstream regressions (sudden
    quality drops, empty-doc floods).  Plain watermarked windowed
    aggregation: state is one row per open window."""
    win = F.window(F.col(ts_col), window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("__w"))
        .agg(*_corpus_stat_exprs(text_col))
        .select(
            F.col("__w.start").alias("window_start"),
            "n_docs", "n_tokens", "avg_quality", "avg_chars",
            "avg_top_ngram_frac",
        )
    )


def corpus_stats_batch(
    df: DataFrame, text_col: str = "text", ts_col: str = "ts", window: str = "1 hour"
) -> DataFrame:
    """Batch twin of :func:`streaming_corpus_stats` (same expressions,
    same windows) — the oracle for the streaming path."""
    win = F.window(F.col(ts_col), window)
    return (
        df.groupBy(win.alias("__w"))
        .agg(*_corpus_stat_exprs(text_col))
        .select(
            F.col("__w.start").alias("window_start"),
            "n_docs", "n_tokens", "avg_quality", "avg_chars",
            "avg_top_ngram_frac",
        )
    )


def streaming_sliding_counts(
    stream: DataFrame,
    ts_col: str = "ts",
    width: str = "2 hours",
    slide: str = "1 hour",
    by_cols=(),
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked SLIDING (hopping) window counts — the streaming twin
    of :func:`..operators.timeseries.sliding_counts` (same ``F.window``
    overlap semantics, same output schema: window_start_us, by...,
    n).  Each event updates width/slide open windows; the watermark
    bounds state at (open windows x by-key cardinality) rows and lets
    append mode emit a window once event time passes its end +
    watermark.  The batch op over the same rows is the oracle
    (asserted in tests/test_streaming.py under availableNow)."""
    cols = list(by_cols)
    win = F.window(F.col(ts_col).cast("timestamp"), width, slide)
    return (
        stream.where(F.col(ts_col).isNotNull())
        .withWatermark(ts_col, watermark)
        .groupBy(win.alias("__w"), *cols)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select(
            F.unix_micros(F.col("__w.start")).alias("window_start_us"),
            *cols,
            "n",
        )
    )


def streaming_exact_dedup(
    stream,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
):
    """Streaming exact dedup: drop rows whose md5(text) was already seen
    within the watermark horizon (state = one digest per distinct text,
    expired by the watermark — bounded, unlike an unbounded seen-set)."""
    from pyspark.sql import functions as F

    return (
        stream.withColumn("__h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["__h"])
        .drop("__h")
    )


def streaming_decontaminate(
    stream,
    contamination: DataFrame,
    text_col: str = "text",
    n: int = 13,
):
    """Streaming n-gram decontamination: arriving documents sharing ANY
    token ``n``-gram with the static contamination (eval/benchmark) set
    are dropped in-flight — the streaming twin of
    ``dedup.ngram_decontaminate``.

    The taint gram hashes are collected ONCE at plan time and inlined
    as an array literal, so the stream side is a pure narrow filter:
    no state, no watermark requirement, no stream-static join (Spark
    supports stream-static left_semi but not the left_anti this needs).
    The driver-resident taint contract is the use case's own bound —
    eval sets are benchmark-sized by nature; decontaminating against a
    corpus-sized taint belongs in the batch operator.
    """
    from ..operators.dedup import _token_ngrams
    from ..operators.hashing import md5_int60

    taint = sorted(
        r["__h"]
        for r in contamination.select(
            F.explode(_token_ngrams(F.col(text_col), n)).alias("__g")
        )
        .select(md5_int60(F.col("__g")).alias("__h"))
        .distinct()
        .collect()
    )
    taint_arr = F.array(*[F.lit(int(h)) for h in taint])
    grams_h = F.transform(
        _token_ngrams(F.col(text_col), n), lambda g: md5_int60(g)
    )
    return stream.filter(~F.arrays_overlap(grams_h, taint_arr))
