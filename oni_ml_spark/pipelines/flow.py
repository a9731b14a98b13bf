"""Flow (netflow) suspicious-connects pipeline.

Reference dataflow: netflow/FlowSuspiciousConnects.scala:12-27 →
FlowPreLDA → OniLDACWrapper → FlowPostLDA (SURVEY.md §3.1). Re-expressed:
one featurization over raw ∪ oversampled-feedback, cached, feeding both
training corpus (both endpoints) and scoring; LDA in-cluster; per-endpoint
scores via broadcast joins; record score = least(src, dst).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.pipelines.common import (
    SuspiciousConnectsResult,
    train_and_score,
    with_feedback,
)
# perfbench/job.py patches these two names when tracing a run
from oni_ml_spark.scoring import score_records  # noqa: F401
from oni_ml_spark.topics import fit_topic_model  # noqa: F401
from oni_ml_spark.transforms import (
    DECILES,
    QUINTILES,
    approx_quantile_cuts_multi,
    bin_expr,
    flow_word_cols,
    fractional_hour,
    quantile_cuts_multi,
)


def valid_time_filter(df: DataFrame) -> DataFrame:
    """Sanity range predicate (netflow/FlowPreLDA.scala:107-109)."""
    return df.filter(
        F.col("trhour").between(0, 23)
        & F.col("trminute").between(0, 59)
        & F.col("trsec").between(0, 59)
    )


def featurize(df: DataFrame, exact_quantiles: bool = True) -> DataFrame:
    """num_time + three quantile-cut bins + flow words, single pass.

    The cut computation returns ≤10 doubles per column to the driver — the
    only driver-boundary crossing in featurization (reference had the same,
    netflow/FlowWordCreation.scala:26-49).
    """
    df = df.withColumn("num_time", fractional_hour("trhour", "trminute", "trsec"))
    df = df.cache()
    cuts = (quantile_cuts_multi if exact_quantiles else approx_quantile_cuts_multi)(
        df, {"num_time": DECILES, "ibyt": DECILES, "ipkt": QUINTILES}
    )
    time_cuts, ibyt_cuts, ipkt_cuts = cuts["num_time"], cuts["ibyt"], cuts["ipkt"]

    df = df.withColumns(
        {
            "time_bin": bin_expr("num_time", time_cuts),
            "ibyt_bin": bin_expr("ibyt", ibyt_cuts),
            "ipkt_bin": bin_expr("ipkt", ipkt_cuts),
        }
    )
    return df.withColumns(
        flow_word_cols("sip", "dip", "sport", "dport", "time_bin", "ibyt_bin", "ipkt_bin")
    )


def run(
    df: DataFrame,
    feedback: DataFrame | None = None,
    *,
    dup_factor: int = 1000,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    threshold: float = 1.0,
    top_k: int = -1,
    seed: int = 0,
    max_iter: int = 10,
    exact_quantiles: bool = True,
    max_count_per_word: int | None = 10_000,
) -> SuspiciousConnectsResult:
    df = with_feedback(valid_time_filter(df), feedback, "sev", dup_factor)
    featurized = featurize(df, exact_quantiles=exact_quantiles).cache()
    # Flow quirk preserved: inner join drops IPs unseen in training
    # (netflow/FlowPostLDA.scala:94, SURVEY.md §7.4.4).
    return train_and_score(
        featurized,
        [("sip", "source_word", "src_score"), ("dip", "destination_word", "dst_score")],
        topic_count=topic_count,
        doc_concentration=doc_concentration,
        threshold=threshold,
        top_k=top_k,
        seed=seed,
        max_iter=max_iter,
        drop_unseen_docs=True,
        max_count_per_word=max_count_per_word,
    )
