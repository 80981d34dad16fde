"""Span recognition — the reference's flagship query, as relational ops.

The reference extends spans with a co-sequential sorted merge over
posting lists (ref: EntityMatch/EntityMatch/Recognizer.cs:197-300): a
span over query positions extends to the next query token iff the
matched entity token is *adjacent* in the entity
((qpos - span.start) + span.entity_start == entity_pos, Recognizer.cs:255-268).

That invariant means every maximal span lies on a constant diagonal
``diag = qpos - epos``, and its query positions are consecutive. So the
whole iterative scan collapses to a **gap-and-island window query** —
no loop, no driver iteration, fully parallel:

    candidates = query_tokens ⋈ posting ON token        (the blocking join)
    island     = qpos - row_number() OVER (PARTITION BY qid, entity, diag
                                           ORDER BY qpos)
    span       = GROUP BY qid, entity, diag, island
                 → start = min(qpos), length = count, weight = sum(token idf)

Scoring (ref: Recognizer.cs:55-64): score = span_weight / entity_total,
dropped below threshold. Top-k per (type, start) ordered by score desc
(ref: Recognizer.cs:24-46) is a row_number window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def extend_spans(
    query_tokens: DataFrame,
    posting: DataFrame,
    idf: DataFrame,
    totals: DataFrame,
    threshold: float = 0.0,
    query_id: str = "query_id",
    entity_id: str = "entity_id",
) -> DataFrame:
    """Maximal adjacent-run spans of query tokens inside entities.

    query_tokens: (query_id, qpos, token [, weight])   weight defaults 1.0
    posting:      (entity_id, pos, token)
    idf:          (token, idf [, ...])
    totals:       (entity_id, total_weight [, entity attributes...])

    Returns (query_id, entity_id, start, length, score) plus every
    totals column other than total_weight, so entity attributes (type,
    phrase) ride along the totals join instead of needing another one.

    idf and totals are vocabulary/entity-count sized and broadcast. The
    posting join is left to the planner: a posting under the broadcast
    threshold is broadcast, a larger one shuffles with the query tokens
    on ``token``. The max aggregate, the island window and the span
    aggregate are all keyed on (query_id, entity_id, diag, ...), so when
    the query tokens arrive hash-partitioned on query_id and the posting
    is broadcast, the whole operator runs without a shuffle.
    """
    q = query_tokens
    if "weight" not in q.columns:
        q = q.withColumn("weight", F.lit(1.0))
    cand = (
        q.join(posting.withColumnRenamed("pos", "epos"), "token")
        .join(F.broadcast(idf.select("token", "idf")), "token")
        .select(
            query_id,
            entity_id,
            "qpos",
            "epos",
            (F.col("weight") * F.col("idf")).alias("wtok"),
        )
        .withColumn("diag", F.col("qpos") - F.col("epos"))
    )
    # A query token may match the same (entity, epos) via several
    # alternatives: keep max weight (ref: Recognizer.cs:135-194 UnionSorted).
    cand = cand.groupBy(query_id, entity_id, "diag", "qpos").agg(
        F.max("wtok").alias("wtok")
    )
    w = Window.partitionBy(query_id, entity_id, "diag").orderBy("qpos")
    spans = (
        cand.withColumn("island", F.col("qpos") - F.row_number().over(w))
        .groupBy(query_id, entity_id, "diag", "island")
        .agg(
            F.min("qpos").alias("start"),
            F.count("*").alias("length"),
            F.sum("wtok").alias("span_weight"),
        )
    )
    attrs = [c for c in totals.columns if c not in (entity_id, "total_weight")]
    out = spans.join(F.broadcast(totals), entity_id).select(
        query_id,
        entity_id,
        "start",
        "length",
        (F.col("span_weight") / F.col("total_weight")).alias("score"),
        *attrs,
    )
    if threshold > 0.0:
        out = out.filter(F.col("score") >= threshold)
    return out


def topk_spans(
    spans: DataFrame,
    k: int,
    partition_cols: tuple[str, ...] = ("type", "start"),
    order_col: str = "score",
    tiebreak_cols: tuple[str, ...] = ("entity_id",),
) -> DataFrame:
    """Top-k spans per group, score desc (ref: Recognizer.cs:24-46).

    Deterministic: ties broken by tiebreak_cols asc. The window's
    row_number is rank-limited, so Spark applies a per-partition
    top-k sort (no global sort).

    The default group ('type', 'start') is the reference's typed-span
    shape — extend_spans' RAW output has no 'type', and a multi-query
    frame needs 'query_id' IN the group (matcher.py passes
    ('query_id', 'type', 'start')) or one query's high scorers evict
    another's. Missing group columns raise here by name rather than
    deep in the window plan.
    """
    missing = [c for c in partition_cols if c not in spans.columns]
    if missing:
        raise ValueError(
            f"partition_cols {missing} not in spans columns "
            f"{spans.columns}; pass partition_cols= matching your "
            "frame (multi-query frames need 'query_id' in the group)"
        )
    order = [F.desc(order_col)] + [F.asc(c) for c in tiebreak_cols]
    w = Window.partitionBy(*partition_cols).orderBy(*order)
    return (
        spans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
