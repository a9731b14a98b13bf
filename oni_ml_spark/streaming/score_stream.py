"""Streaming scoring and windowed corpus aggregation.

- ``score_stream``: attach anomaly scores to a streaming DataFrame using a
  batch-trained TopicModel. It is the batch ``score_records`` over a
  stream (stream-static broadcast joins + the native dot product), so
  batch/stream parity holds by construction.
- ``windowed_corpus_counts``: watermarked sliding-window (doc, word) counts —
  the streaming input for periodic model refits; late events beyond the
  watermark are dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from oni_ml_spark.scoring import score_records
from oni_ml_spark.topics import TopicModel


def score_stream(
    stream: DataFrame,
    model: TopicModel,
    doc_col: str,
    word_col: str,
    score_col: str = "score",
) -> DataFrame:
    """Stream-static join scoring (left joins keep unseen docs/words with the
    uniform 1/k fallback, matching batch dns/proxy semantics)."""
    return score_records(stream, model, doc_col, word_col, score_col=score_col)


def windowed_corpus_counts(
    stream: DataFrame,
    ts_col: str,
    doc_col: str,
    word_col: str,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "5 minutes",
) -> DataFrame:
    """Watermarked windowed (doc, word) counts for continuous retraining.

    State is bounded by the watermark: Spark drops window state once
    event-time passes window_end + watermark. Output mode "update"/"append"
    both work downstream.
    """
    win = F.window(F.col(ts_col), window, slide or window)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(win.alias("window"), F.col(doc_col).alias("doc"), F.col(word_col).alias("word"))
        .agg(F.count(F.lit(1)).alias("count"))
    )


def as_of_enrich_stream(
    stream: DataFrame,
    right: DataFrame,
    key: str,
    stream_time: str,
    right_time: str,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Stream-static as-of enrichment: attach the latest static right row
    at-or-before each stream row's event time, per key.

    The batch as-of (datapipe/temporal.as_of_join) uses an ordered window,
    which streams don't allow — instead the STATIC side precomputes each
    row's validity interval [right_time, next right_time) via lead(), and
    the stream joins on key + time-in-interval. Inequality conditions are
    supported for stream-static joins, the static side broadcasts, and no
    streaming state is kept at all (the validity table is a bounded model
    artifact, same class as the scoring tables)."""
    right_cols = right_cols or [
        c for c in right.columns if c not in (key, right_time)
    ]
    from oni_ml_spark.transforms.time import time_as_double

    w = Window.partitionBy(key).orderBy(right_time)
    rtd = time_as_double(right, right_time)
    intervals = right.select(
        F.col(key).alias("__k"),
        rtd.alias("__start"),
        F.lead(rtd).over(w).alias("__end"),
        *[F.col(c) for c in right_cols],
    )
    st = time_as_double(stream, stream_time)
    cond = (
        (stream[key] == intervals["__k"])
        & (st >= F.col("__start"))
        & (F.col("__end").isNull() | (st < F.col("__end")))
    )
    return (
        stream.join(F.broadcast(intervals), cond, "left")
        .withColumn("__matched_time", F.col("__start"))
        .drop("__k", "__start", "__end")
    )


def dedup_stream(
    stream: DataFrame,
    key_cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop repeated keys within the watermark
    horizon (the streaming face of datapipe.dedup.drop_exact_duplicates).

    dropDuplicatesWithinWatermark is the variant whose state is actually
    evicted by the watermark for keys that don't include the event-time
    column — plain dropDuplicates(keys) would grow state forever."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(key_cols)


def windowed_approx_distinct(
    stream: DataFrame,
    ts_col: str,
    value_col: str,
    group_cols: list[str] | None = None,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "5 minutes",
    rsd: float = 0.02,
) -> DataFrame:
    """Watermarked per-window approximate distinct counts
    (window, group_cols..., approx_distinct) — the streaming "distinct
    users per window/source" rollup.

    approx_count_distinct's HLL++ state is a fixed-size MERGEABLE sketch,
    which is exactly what an incremental streaming aggregation needs:
    partial sketches merge across micro-batches without keeping the value
    set, so state per (window, group) is ~KB regardless of cardinality —
    an exact countDistinct would hold every distinct value in the state
    store. State lifetime is bounded by the watermark; batch parity with
    the same expression is asserted in tests/test_streaming.py.
    """
    win = F.window(F.col(ts_col), window, slide or window)
    keys = [win.alias("window")] + [F.col(c) for c in (group_cols or [])]
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.approx_count_distinct(value_col, rsd).alias("approx_distinct"))
    )
