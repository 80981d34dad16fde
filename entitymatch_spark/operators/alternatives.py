"""Token alternative expansion: spelling (edit-distance) + synonyms.

The reference expands each query token through a chain of expanders
(ref: EntityMatch/EntityMatch/Alternatives.cs):

- BaseAlternatives: identity, weight 1.0 (Alternatives.cs:11-21)
- SpellingAlternatives: trie EditLookup(token, k); **if an exact match
  exists it short-circuits and yields only that** (weight 1.0,
  Alternatives.cs:101-107); otherwise each match at distance d gets
  weight 1/(1+d) (Alternatives.cs:112).
- SynonymAlternatives: token -> weighted alternatives; weights multiply
  through the chain (Alternatives.cs:56).

The trie is a single-process execution strategy; on Spark the same
semantics are a **blocked fuzzy self-join on the vocabulary**:
Levenshtein <= k implies |len(a) - len(b)| <= k, so we equi-join on
candidate lengths (k+1-way explode of the probe side) and verify with
the built-in JVM ``levenshtein`` — whole-stage-codegen'd, no Python.
Vocabulary tables are tiny next to the corpus → broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spelling_alternatives(
    probe_tokens: DataFrame,
    vocab: DataFrame,
    max_edit: int = 1,
    token_col: str = "token",
) -> DataFrame:
    """Each probe row plus (alt_token, distance, weight), one row per
    alternative.

    probe_tokens: rows to expand (column ``token``). Every column is
                  carried through and rows are not deduplicated, so a
                  probe row can be a query position (query_id, qpos,
                  token) and a token repeated across rows is expanded
                  once per row. None may be named alt_token, distance
                  or weight.
    vocab:        dictionary tokens (column ``token``), DISTINCT by
                  contract: it is not deduplicated here, so a token
                  listed twice yields every exact hit and fuzzy
                  alternative of it twice. An optional ``token_len``
                  column holding ``length(token)`` saves computing it
                  per call.

    Exact-match short-circuit per the reference: a probe token present
    in the vocabulary yields only itself at weight 1.0; only absent
    tokens fan out to fuzzy matches at weight 1/(1+d).

    One stream of broadcast joins with the probe rows streamed: no
    union, no shuffle, so the output keeps the probe frame's
    partitioning.
    """
    probe_cols = probe_tokens.columns
    clash = {"alt_token", "distance", "weight", "__hit", "__cand_len", "__alt_len"}
    if clash & set(probe_cols):
        raise ValueError(
            f"probe columns {sorted(clash & set(probe_cols))} collide with the "
            "output or internal columns; rename them first"
        )
    alt_len = F.col("token_len") if "token_len" in vocab.columns else F.length(token_col)
    voc = vocab.select(F.col(token_col).alias("alt_token"), alt_len.alias("__alt_len"))
    hits = vocab.select(F.col(token_col).alias("__hit"))
    miss = F.col("__hit").isNull()
    # length blocking: lev(a,b) <= k  =>  |len(a)-len(b)| <= k
    lens = F.array(
        *[F.length(token_col) + F.lit(d) for d in range(-max_edit, max_edit + 1)]
    )
    # banded 3-arg levenshtein (same early-exit form as
    # autocomplete/scoring): O(len * band) per pair instead of the full
    # DP; -1 past the band, and NULL for a miss with no candidate of its
    # length: the filter drops both
    distance = F.when(
        miss, F.levenshtein(F.col(token_col), F.col("alt_token"), max_edit)
    ).otherwise(F.lit(0))
    return (
        probe_tokens.join(F.broadcast(hits), F.col(token_col) == F.col("__hit"), "left")
        # a hit gets no candidate lengths, so the outer join below
        # leaves it one row, with no fuzzy alternative: the short-circuit
        .withColumn("__cand_len", F.explode_outer(F.when(miss, lens)))
        # the vocabulary is distinct and each token has one length, so
        # a probe row meets each candidate once: no distinct() needed
        .join(F.broadcast(voc), F.col("__cand_len") == F.col("__alt_len"), "left")
        .select(
            *probe_cols,
            F.coalesce(F.col("__hit"), F.col("alt_token")).alias("alt_token"),
            distance.alias("distance"),
            (F.lit(1.0) / (1.0 + distance)).alias("weight"),
        )
        .filter(F.col("distance") >= 0)
    )


def synonym_expand(
    tokens: DataFrame,
    synonyms: DataFrame,
    token_col: str = "token",
    keep_identity: bool = True,
) -> DataFrame:
    """(token, alt_token, weight): identity at 1.0 plus synonym rows.

    ``tokens`` may carry a ``weight`` column from an upstream expander;
    weights multiply through the chain (ref: Alternatives.cs:56).
    Synonym tables are small → broadcast.
    """
    if token_col == "alt_token":
        raise ValueError(
            "token_col='alt_token' collides with the output column; "
            "rename the input column first (e.g. alt_token -> token)"
        )
    t = tokens
    if "weight" not in t.columns:
        t = t.withColumn("weight", F.lit(1.0))
    # syn's columns are ALL internally aliased: the input may itself
    # carry alt_token/weight from an upstream expander (the advertised
    # chain), and unqualified names would be AMBIGUOUS_REFERENCEs
    syn = synonyms.select(
        F.col("token").alias("__k"),
        F.col("alt_token").alias("__alt"),
        F.col("weight").alias("__w"),
    )
    mapped = (
        t.join(F.broadcast(syn), t[token_col] == F.col("__k"))
        .select(
            t[token_col],
            F.col("__alt").alias("alt_token"),
            (t["weight"] * F.col("__w")).alias("weight"),
        )
    )
    if not keep_identity:
        return mapped
    identity = t.select(
        token_col, F.col(token_col).alias("alt_token"), F.col("weight")
    )
    return identity.unionByName(mapped)
