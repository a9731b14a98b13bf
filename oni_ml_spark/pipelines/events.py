"""Flagship pipeline on the generic `events` table.

The reference's flagship question — "what are today's K most suspicious
connections?" (README.md:103-124) — applied to the driver's synthetic
events stream: document = user_id, word = event_type × value-decile ×
hour-of-day-bin. Same dataflow as the flow/dns/proxy pipelines (featurize →
corpus → in-cluster LDA → broadcast scoring → bottom-K), demonstrating the
engine end-to-end on a schema the oracle tables provide.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.pipelines.common import SuspiciousConnectsResult, train_and_score
from oni_ml_spark.transforms import (
    DECILES,
    QUINTILES,
    approx_quantile_cuts_multi,
    bin_expr,
    quantile_cuts_multi,
)


def featurize(df: DataFrame, exact_quantiles: bool = True) -> DataFrame:
    df = df.withColumn("hour", F.hour("ts").cast("double")).cache()
    cuts = (quantile_cuts_multi if exact_quantiles else approx_quantile_cuts_multi)(
        df, {"value": DECILES, "hour": QUINTILES}
    )
    df = df.withColumns(
        {
            "value_bin": bin_expr("value", cuts["value"]),
            "hour_bin": bin_expr("hour", cuts["hour"]),
        }
    )
    return df.withColumn(
        "word",
        F.concat_ws(
            "_",
            F.col("event_type"),
            F.col("value_bin").cast("string"),
            F.col("hour_bin").cast("string"),
        ),
    )


def run(
    df: DataFrame,
    *,
    topic_count: int = 10,
    threshold: float = 1.0,
    top_k: int = 100,
    seed: int = 0,
    max_iter: int = 10,
    max_count_per_word: int | None = 10_000,
    exact_quantiles: bool = True,
) -> SuspiciousConnectsResult:
    featurized = featurize(df, exact_quantiles=exact_quantiles).cache()
    return train_and_score(
        featurized.withColumn("doc_id", F.col("user_id").cast("string")),
        [("doc_id", "word", "score")],
        topic_count=topic_count,
        threshold=threshold,
        top_k=top_k,
        seed=seed,
        max_iter=max_iter,
        max_count_per_word=max_count_per_word,
    )
