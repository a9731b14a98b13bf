"""Shared train-and-score core for all suspicious-connects pipelines."""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.scoring import min_endpoint_score, most_suspicious, score_records
from oni_ml_spark.topics import TopicModel, fit_topic_model
from oni_ml_spark.transforms.feedback import conform_feedback, oversample, severity_filter

FEEDBACK_FLAG = "__is_feedback"


@dataclass
class SuspiciousConnectsResult:
    scored: DataFrame          # all scored (non-feedback) records
    suspicious: DataFrame      # filtered + ascending + bottom-K
    model: TopicModel


def with_feedback(
    df: DataFrame, feedback: DataFrame | None, sev_col: str, dup_factor: int
) -> DataFrame:
    """Flag the day's records and append the analyst's confirmed-benign
    (severity 3) rows, each ``dup_factor`` times, conformed to the day's
    schema (netflow/FlowPreLDA.scala:73-99, dns/DNSPreLDA.scala:69-85,
    proxy/ProxyFeedback.scala:53-67). Feedback rows train the model and are
    never scored."""
    df = df.withColumn(FEEDBACK_FLAG, F.lit(False))
    if feedback is None:
        return df
    fb = oversample(severity_filter(feedback, sev_col), dup_factor).withColumn(
        FEEDBACK_FLAG, F.lit(True)
    )
    return df.unionByName(conform_feedback(fb, df))


def train_and_score(
    featurized: DataFrame,
    endpoints: list[tuple[str, str, str]],
    *,
    topic_count: int = 20,
    doc_concentration: float = 2.5,
    seed: int = 0,
    max_iter: int = 10,
    threshold: float = 1.0,
    top_k: int = -1,
    drop_unseen_docs: bool = False,
    max_count_per_word: int | None = 10_000,
) -> SuspiciousConnectsResult:
    """Train LDA on the full featurized corpus (feedback rows included when
    flagged via FEEDBACK_FLAG), score only the real records, rank.

    ``endpoints`` lists ``(doc, word, score)`` column triples: each record is
    one word in each endpoint's document. Flow has two, so each IP's
    document collects words from both sides of its flows
    (netflow/FlowPreLDA.scala:131-139) and the record's score is the lower
    endpoint score (netflow/FlowPostLDA.scala:115-126); dns, proxy and
    events have one. The corpus is one explode + one groupBy: a single
    shuffle over |endpoints|·N rows, instead of the reference's
    reduceByKey per side + union.
    """
    has_flag = FEEDBACK_FLAG in featurized.columns
    counts = (
        featurized.select(
            F.explode(
                F.array(*[
                    F.struct(F.col(doc).alias("doc"), F.col(word).alias("word"))
                    for doc, word, _ in endpoints
                ])
            ).alias("dw")
        )
        .select("dw.doc", "dw.word")
        .groupBy("doc", "word")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    model = fit_topic_model(
        counts,
        topic_count=topic_count,
        doc_concentration=doc_concentration,
        seed=seed,
        max_iter=max_iter,
        max_count_per_word=max_count_per_word,
    )

    scored = (
        featurized.filter(~F.col(FEEDBACK_FLAG)).drop(FEEDBACK_FLAG)
        if has_flag
        else featurized
    )
    for doc, word, score in endpoints:
        scored = score_records(
            scored, model, doc, word, score_col=score, drop_unseen_docs=drop_unseen_docs
        )
    if len(endpoints) > 1:
        scored = scored.withColumn(
            "score", min_endpoint_score(*[score for _, _, score in endpoints])
        )
    suspicious = most_suspicious(scored, threshold=threshold, top_k=top_k)
    return SuspiciousConnectsResult(scored, suspicious, model)
