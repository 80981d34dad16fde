"""The reference's flagship query, end to end: Matcher.Interpretations.

ref: EntityMatch/EntityMatch/Matcher.cs:43-51 — tokenize -> expand each
token through the alternatives chain (spelling within edit distance 1
at weight 1/(1+d) with exact short-circuit, then synonyms with
multiplicative weights; TestMatcher/Program.cs:262-273 wiring) ->
recognize spans (posting lookup with weight = altWeight x IDF, maximal
adjacent runs, score = weight / entity total, threshold) -> top-k spans
per (type, start).

Build time (``build_matcher_index``, the reference's AddEntities +
Compute, Matcher.cs:28-41 / EntitiesDictionary.cs:39-96) computes and
materializes everything a request reads: the distinct vocabulary with
token lengths and IDF, the posting (entity, position, token) with the
decision whether requests broadcast it, and per-entity totals with type
and phrase. The index no longer depends on the entity source once built.

Per request (``interpret``) only the query side is computed. The whole
``queries(query_id, text)`` DataFrame flows through at once — the
per-query loop of the reference becomes one relational plan. The query
tokens are hash-partitioned on query_id, the vocabulary and totals are
broadcast, and every later aggregate and window is keyed on columns that
include query_id. When the posting fits under the broadcast threshold
(measured at build time) it is broadcast too and that repartition is the
plan's one shuffle; a larger posting adds a shuffle join on token and
the re-shuffles on query_id after it.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entitymatch_spark.functions.text import tokenize
from entitymatch_spark.operators.alternatives import spelling_alternatives
from entitymatch_spark.operators.posting import (
    build_posting,
    token_idf,
    total_token_weight,
)
from entitymatch_spark.operators.spans import extend_spans, topk_spans


@dataclass
class MatcherIndex:
    """The entity dictionary (AddEntities + Compute, Matcher.cs:28-41).

    Built once: tokenizing the phrases, the posting, IDF, entity totals
    and the vocabulary are all computed by ``build_matcher_index`` and
    materialized as local checkpoints, so the index outlives its entity
    source. vocab and totals are one partition each (every request
    broadcasts them whole). The posting keeps its partitions and
    carries a broadcast hint when its measured size fits under the
    session's ``spark.sql.autoBroadcastJoinThreshold`` at build time;
    a larger posting is shuffle-joined on token. A request computes
    only the query side: its tokens, their alternatives, the joins
    against these tables, the spans and the top-k.
    """

    vocab: DataFrame      # (token, df, idf, token_len) — one row per distinct token
    posting: DataFrame    # (entity_id, pos, token)
    totals: DataFrame     # (entity_id, total_weight, type, phrase)


def _materialize(df: DataFrame) -> DataFrame:
    return df.coalesce(1).localCheckpoint(eager=True)


def _fits_broadcast(posting: DataFrame) -> bool:
    """Whether the posting's bytes fit under the broadcast threshold.

    The planner cannot tell by itself: a checkpoint keeps the size
    estimate of the plan that built it, and the posexplode in that plan
    inflates it far past any threshold. Measured as an UnsafeRow
    (8-byte null bitset, three 8-byte slots) plus the token's bytes.
    """
    conf = posting.sparkSession._jsparkSession.sessionState().conf()
    limit = conf.autoBroadcastJoinThreshold()
    size = posting.select(F.sum(F.octet_length("token") + 32)).first()[0] or 0
    return 0 <= limit and size <= limit


def build_matcher_index(entities: DataFrame) -> MatcherIndex:
    """Tokenize, post, weigh and total the ``(entity_id, type, phrase)``
    frame once; see MatcherIndex."""
    # read by all three tables below: checkpointed so the source is read once
    ents = entities.select("entity_id", "type", "phrase").localCheckpoint(eager=True)
    toks = ents.select("entity_id", tokenize("phrase").alias("tokens"))
    posting = build_posting(toks, id_col="entity_id").localCheckpoint(eager=True)
    vocab = _materialize(
        token_idf(posting, n_docs=ents.count()).withColumn(
            "token_len", F.length("token")
        )
    )
    totals = _materialize(
        total_token_weight(posting, vocab, "entity_id").join(ents, "entity_id")
    )
    if _fits_broadcast(posting):
        posting = F.broadcast(posting)
    return MatcherIndex(vocab=vocab, posting=posting, totals=totals)


def interpret(
    queries: DataFrame,
    index: MatcherIndex,
    synonyms: DataFrame | None = None,
    spans_per_position: int = 1,
    threshold: float = 0.25,
    max_edit: int = 1,
) -> DataFrame:
    """(query_id, entity_id, type, phrase, start, length, score).

    Defaults mirror the reference REPL (spansPerPosition=1,
    threshold=0.25; TestMatcher/Program.cs:39-40).
    """
    # the plan's one shuffle when the posting is broadcast: every join
    # after it streams the query rows past a broadcast index table, and
    # every aggregate and window is keyed on columns that include
    # query_id, so nothing re-shuffles
    qtok = queries.select(
        "query_id", F.posexplode(tokenize("text")).alias("qpos", "token")
    ).repartition("query_id")
    # --- alternatives chain (SynonymAlternatives(SpellingAlternatives(Base)))
    # expanded per query position
    alts = spelling_alternatives(qtok, index.vocab, max_edit=max_edit)
    if synonyms is not None:
        # SynonymAlternatives is the OUTERMOST expander and *replaces* a
        # spelling alternative with its mapped synonyms, weights
        # multiplied (ref: Alternatives.cs:43-59 — a token present in
        # the map yields only the mapped alternatives, so the map must
        # contain the identity to keep it, exactly as the reference's
        # own example does: mouse -> {mouse 1.0, mice 0.9},
        # TestMatcher/Program.cs:279). The outer join keeps an unmapped
        # alternative as it is. A position may reach one alternative
        # twice (two spellings mapping to one synonym); extend_spans
        # keeps the max weight per (query, entity, diag, qpos), so no
        # dedup is needed here.
        # NOTE: alternatives.synonym_expand is the KEEP-IDENTITY
        # sibling of this replace-if-mapped join; both broadcast the
        # map under internal aliases and neither dedups — if a fix
        # lands in one (NULL keys), mirror it in the other.
        syn = synonyms.select(
            F.col("token").alias("__k"),
            F.col("alt_token").alias("__syn"),
            F.col("weight").alias("__w"),
        )
        mapped = F.col("__k").isNotNull()
        alts = alts.join(
            F.broadcast(syn), F.col("alt_token") == F.col("__k"), "left"
        ).select(
            "query_id",
            "qpos",
            F.when(mapped, F.col("__syn")).otherwise(F.col("alt_token")).alias("alt_token"),
            F.when(mapped, F.col("weight") * F.col("__w"))
            .otherwise(F.col("weight"))
            .alias("weight"),
        )
    expanded_q = alts.select(
        "query_id", "qpos", F.col("alt_token").alias("token"), "weight"
    )
    spans = extend_spans(
        expanded_q, index.posting, index.vocab, index.totals, threshold=threshold
    )
    return topk_spans(
        spans,
        k=spans_per_position,
        partition_cols=("query_id", "type", "start"),
    ).select("query_id", "entity_id", "type", "phrase", "start", "length", "score")
