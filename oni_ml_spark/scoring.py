"""Anomaly scoring: broadcast-join model tables + native array dot product.

score(doc, word) = Σ_t P(word | topic_t) · P(topic_t | doc)
(SuspiciousConnectsScoreFunction.scala:11-23, netflow/FlowPostLDA.scala:99-110).

The reference resolves both probability vectors from driver-broadcast Scala
Maps inside scalar UDFs; here both are small DataFrames attached via explicit
broadcast hash joins, and the dot product is a native
aggregate(zip_with(...)) — no Python in the hot path, scales with the fact
table only.

Fallback semantics (SURVEY.md §7.4.4): unseen doc or word → uniform 1/k
vector (dns/proxy semantics; the flow pipeline's inner-join record-drop
quirk is available via ``drop_unseen_docs=True``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from oni_ml_spark.topics import TopicModel


def dot(a: Column, b: Column, k: int | None = None) -> Column:
    """Native array dot product.

    With ``k`` (the vector length, always known for model vectors) the sum
    unrolls to try_element_at products — a plain codegen expression.
    Without it, the generic aggregate(zip_with(...)) form runs interpreted
    HOF lambdas per row (~3x slower in the scoring hot path).

    try_element_at (not element_at) keeps the generic form's semantics for
    malformed rows: an array shorter than k yields a NULL score instead of
    an ANSI out-of-bounds job failure; k=0 yields 0.0 like an empty fold."""
    if k is not None:
        if k == 0:
            return F.lit(0.0)
        terms = [
            F.try_element_at(a, F.lit(i + 1)) * F.try_element_at(b, F.lit(i + 1))
            for i in range(k)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def uniform_mix(k: int) -> Column:
    return F.array(*[F.lit(1.0 / k)] * k)


#: docs above which the doc-topic-mix join degrades from broadcast to a
#: plain shuffle join. At k=20 topics a mix row is ~180 bytes, so the default
#: caps the broadcast near ~1 GiB — a day with more distinct IPs than that
#: would OOM every executor if the hint were unconditional.
DEFAULT_BROADCAST_DOC_LIMIT = 5_000_000


def score_records(
    df: DataFrame,
    model: TopicModel,
    doc_col: str,
    word_col: str,
    score_col: str = "score",
    drop_unseen_docs: bool = False,
    broadcast_doc_limit: int = DEFAULT_BROADCAST_DOC_LIMIT,
) -> DataFrame:
    """Attach ``score_col`` to every record via model-table joins.

    ``drop_unseen_docs=True`` reproduces the flow pipeline's inner join
    (netflow/FlowPostLDA.scala:94) which silently drops records whose doc
    never appeared in training; the default keeps them with the uniform
    fallback like dns/proxy (SuspiciousConnectsScoreFunction.scala:17).

    The word-probs side is always broadcast (V is a cross of small
    categorical alphabets, bounded ~1e5). The doc-mix side scales with
    |distinct docs| = |IPs seen today|, so it is broadcast only while its
    row count stays under ``broadcast_doc_limit``; past that the join
    degrades to a plain shuffle join and Catalyst/AQE picks the strategy.
    fit_topic_model records the tally on the model (``n_docs``), so the
    decision costs no Spark action there; a hand-built TopicModel without
    one is counted lazily (cached by fit; once per call otherwise).
    """
    k = model.topic_count
    mix = model.doc_topic_mix.withColumnRenamed("doc", "__doc")
    wp = model.word_probs.withColumnRenamed("word", "__word")
    if broadcast_doc_limit:
        n_docs = model.n_docs if model.n_docs is not None else mix.count()
        if n_docs <= broadcast_doc_limit:
            mix = F.broadcast(mix)

    how = "inner" if drop_unseen_docs else "left"
    out = (
        df.join(mix, df[doc_col] == mix["__doc"], how)
        .join(F.broadcast(wp), df[word_col] == wp["__word"], "left")
        .withColumn(
            score_col,
            dot(
                F.coalesce(F.col("topic_mix"), uniform_mix(k)),
                F.coalesce(F.col("word_given_topic"), uniform_mix(k)),
                k=k,
            ),
        )
        .drop("__doc", "__word", "topic_mix", "word_given_topic")
    )
    return out


def min_endpoint_score(*scores: Column | str) -> Column:
    """Flow records are scored from both endpoints; the record's score is the
    minimum (netflow/FlowPostLDA.scala:115-126) — F.least, not a UDF."""
    return F.least(*scores)


def most_suspicious(
    df: DataFrame, score_col: str = "score", threshold: float = 1.0, top_k: int = -1
) -> DataFrame:
    """score <= threshold, ascending, bottom-K.

    orderBy().limit() compiles to TakeOrderedAndProject — per-partition
    top-K then a single small merge, replacing the reference's
    count + RDD takeOrdered + re-parallelize + sortBy chain
    (dns/DNSPostLDA.scala:51-69, utilities/DataFrameUtils.scala:21-38).
    top_k = -1 means "no limit" (DataFrameUtils.scala:22 semantics).
    """
    out = df.filter(F.col(score_col) <= threshold).orderBy(score_col)
    if top_k is not None and top_k >= 0:
        out = out.limit(top_k)
    return out
