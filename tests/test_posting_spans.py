"""Posting/IDF/span-recognition/alternatives operator tests.

Includes the port of the reference's only unit test
(ref: AutoComplete/TestEditDistance/UnitTest1.cs:8-26): the vocabulary
{match, matcher, watch, watcher, hatch} probed with "atch" and "matcher".
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from entitymatch_spark.functions.text import tokenize
from entitymatch_spark.operators.alternatives import (
    spelling_alternatives,
    synonym_expand,
)
from entitymatch_spark.operators.posting import (
    build_posting,
    collect_idf_map,
    token_idf,
    total_token_weight,
)
from entitymatch_spark.operators.spans import extend_spans, topk_spans

ENTITIES = [
    (0, "DVD", "the dark knight"),
    (1, "DVD", "dark knight rises"),
    (2, "DVD", "the the the"),
]


def _entity_posting(spark):
    ents = spark.createDataFrame(ENTITIES, "entity_id long, type string, phrase string")
    toks = ents.select("entity_id", tokenize("phrase").alias("tokens"))
    return ents, build_posting(toks, id_col="entity_id")


def test_posting_and_idf(spark):
    _, posting = _entity_posting(spark)
    rows = {(r["entity_id"], r["pos"], r["token"]) for r in posting.collect()}
    assert (0, 0, "the") in rows and (1, 2, "rises") in rows and len(rows) == 9

    idf = token_idf(posting, n_docs=3)
    got = {r["token"]: (r["df"], r["idf"]) for r in idf.collect()}
    # df counts OCCURRENCES: 'the' appears 1 + 3 = 4 times (> N) -> floor
    assert got["the"][0] == 4
    assert got["the"][1] == 1e-5  # ratio negative -> clamped to the floor
    # df=1: ln((3 + 0.5 - 1) / 1.5) = ln(5/3)
    assert math.isclose(got["rises"][1], math.log((3 + 0.5 - 1) / 1.5), rel_tol=1e-12)
    # df=2 at N=3: ln(1.5/2.5) < 0 -> clamped to the floor
    assert got["dark"][0] == 2 and got["dark"][1] == 1e-5
    assert got["knight"][1] == 1e-5


def test_total_weight(spark):
    _, posting = _entity_posting(spark)
    idf = token_idf(posting, n_docs=3)
    totals = {r["entity_id"]: r["total_weight"] for r in total_token_weight(posting, idf, "entity_id").collect()}
    m = collect_idf_map(idf)
    assert math.isclose(totals[0], m["the"] + m["dark"] + m["knight"], rel_tol=1e-12)
    assert math.isclose(totals[2], 3 * m["the"], rel_tol=1e-12)  # occurrences count


def test_tfidf_profiles_cosine_matches_bruteforce(spark):
    """tfidf_cosine_for_pairs (single-pass profile form) == the naive
    per-token brute force, including dot=0 for disjoint pairs and
    inner-drop of docs with no profile."""
    from entitymatch_spark.operators.posting import (
        tfidf_cosine_for_pairs,
        tfidf_doc_profiles,
    )

    _, posting = _entity_posting(spark)
    idf = token_idf(posting, n_docs=3)
    m = collect_idf_map(idf)
    profiles = tfidf_doc_profiles(posting, idf, id_col="entity_id")
    # pair (0,1) shares tokens; (0,2) shares 'the'; (0,99) has a
    # profile-less side and must be dropped
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 99)], "id_a long, id_b long"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in tfidf_cosine_for_pairs(pairs, profiles, id_col="entity_id").collect()
    }
    assert set(got) == {(0, 1), (0, 2)}

    toks = {0: ["the", "dark", "knight"], 1: ["dark", "knight", "rises"], 2: ["the"] * 3}

    def brute(a, b):
        wa = {t: toks[a].count(t) * m[t] for t in set(toks[a])}
        wb = {t: toks[b].count(t) * m[t] for t in set(toks[b])}
        dot = sum(wa[t] * wb[t] for t in set(wa) & set(wb))
        na = math.sqrt(sum(v * v for v in wa.values()))
        nb = math.sqrt(sum(v * v for v in wb.values()))
        return dot / (na * nb)

    assert math.isclose(got[(0, 1)], brute(0, 1), rel_tol=1e-12)
    assert math.isclose(got[(0, 2)], brute(0, 2), rel_tol=1e-12)


def test_extend_spans_gap_island(spark):
    _, posting = _entity_posting(spark)
    idf = token_idf(posting, n_docs=3)
    totals = total_token_weight(posting, idf, "entity_id")
    q = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate("watch the dark knight rises now".split())],
        "query_id long, qpos int, token string",
    )
    spans = extend_spans(q, posting, idf, totals).collect()
    by_ent = {}
    for r in spans:
        by_ent.setdefault(r["entity_id"], []).append((r["start"], r["length"], r["score"]))
    # entity 0: full phrase 'the dark knight' at qpos 1..3
    assert (1, 3) in {(s, l) for s, l, _ in by_ent[0]}
    full0 = [x for x in by_ent[0] if x[1] == 3][0]
    assert math.isclose(full0[2], 1.0, rel_tol=1e-12)  # all tokens matched
    # entity 1: full phrase at qpos 2..4, score 1.0
    full1 = [x for x in by_ent[1] if x[1] == 3][0]
    assert full1[0] == 2 and math.isclose(full1[2], 1.0, rel_tol=1e-12)
    # entity 2 ('the the the') matches single 'the' on 3 diagonals
    assert sorted(by_ent[2]) == [(1, 1, by_ent[2][0][2])] * 3
    # threshold drops partial spans
    hi = extend_spans(q, posting, idf, totals, threshold=0.9).collect()
    assert all(r["score"] >= 0.9 for r in hi)


def test_topk_spans(spark):
    spans = spark.createDataFrame(
        [("DVD", 0, 1, 0.9), ("DVD", 0, 2, 0.8), ("DVD", 0, 3, 0.95), ("CD", 0, 4, 0.1)],
        "type string, start int, entity_id int, score double",
    )
    top = topk_spans(spans, k=2).collect()
    dvd = sorted((r["entity_id"] for r in top if r["type"] == "DVD"))
    assert dvd == [1, 3]
    assert any(r["type"] == "CD" for r in top)


def test_spelling_alternatives_trie_port(spark):
    vocab = spark.createDataFrame(
        [("match",), ("matcher",), ("watch",), ("watcher",), ("hatch",)],
        "token string",
    )
    probes = spark.createDataFrame([("atch",), ("matcher",)], "token string")
    # k=3 reproduces UnitTest1's EditLookup("atch", 3) -> all 5 words
    alts3 = spelling_alternatives(probes, vocab, max_edit=3)
    atch3 = {r["alt_token"]: r["distance"] for r in alts3.filter(F.col("token") == "atch").collect()}
    assert set(atch3) == {"match", "watch", "hatch", "matcher", "watcher"}
    assert atch3["match"] == 1 and atch3["watcher"] == 3

    alts1 = spelling_alternatives(probes, vocab, max_edit=1)
    got = {(r["token"], r["alt_token"]): (r["distance"], r["weight"]) for r in alts1.collect()}
    # exact short-circuit: 'matcher' yields ONLY itself at weight 1.0
    assert got[("matcher", "matcher")] == (0, 1.0)
    assert not any(t == "matcher" and a != "matcher" for t, a in got)
    # 'atch' -> the three distance-1 words at weight 0.5
    fuzzy = {a for (t, a) in got if t == "atch"}
    assert fuzzy == {"match", "watch", "hatch"}
    assert all(got[("atch", a)] == (1, 0.5) for a in fuzzy)


def test_spelling_alternatives_duplicate_vocab_passes_through(spark):
    """The vocabulary is distinct by contract and not deduplicated: a
    token listed twice yields its exact hit and each fuzzy alternative
    to it twice. Probe rows are likewise expanded one by one."""
    vocab = spark.createDataFrame(
        [("match",), ("match",), ("watch",)], "token string"
    )
    probes = spark.createDataFrame(
        [(1, "match"), (2, "hatch"), (3, "hatch")], "qid int, token string"
    )
    got = sorted(
        (r["qid"], r["token"], r["alt_token"], r["distance"])
        for r in spelling_alternatives(probes, vocab, max_edit=1).collect()
    )
    assert got == [
        (1, "match", "match", 0), (1, "match", "match", 0),
        (2, "hatch", "match", 1), (2, "hatch", "match", 1), (2, "hatch", "watch", 1),
        (3, "hatch", "match", 1), (3, "hatch", "match", 1), (3, "hatch", "watch", 1),
    ]


def test_synonym_expand(spark):
    toks = spark.createDataFrame([("movie", 0.5), ("rock",  1.0)], "token string, weight double")
    syn = spark.createDataFrame(
        [("movie", "film", 0.9)], "token string, alt_token string, weight double"
    )
    out = {(r["token"], r["alt_token"]): r["weight"] for r in synonym_expand(toks, syn).collect()}
    assert out[("movie", "movie")] == 0.5  # identity keeps incoming weight
    assert math.isclose(out[("movie", "film")], 0.45, rel_tol=1e-12)  # 0.5 * 0.9
    assert out[("rock", "rock")] == 1.0 and len(out) == 3


def test_bounded_idf_map(spark):
    """collect_idf_map_bounded keeps the most frequent tokens and returns
    a tail default inside the dropped tokens' IDF band — the web-scale
    broadcast cap (see MatchConfig.idf_max_entries)."""
    from entitymatch_spark.functions.text import tokenize
    from entitymatch_spark.operators.posting import (
        build_posting,
        collect_idf_map,
        collect_idf_map_bounded,
        token_idf,
    )

    docs = spark.createDataFrame(
        [(i, f"common shared words plus rare{i} token{i % 7}") for i in range(40)],
        "doc_id long, text string",
    ).select("doc_id", tokenize("text").alias("tokens"))
    posting = build_posting(docs, id_col="doc_id")
    idf = token_idf(posting, n_docs=40)
    full = collect_idf_map(idf)

    cap = 8
    mp, default = collect_idf_map_bounded(idf, cap)
    assert len(mp) == cap
    # kept = the cap most frequent tokens (lowest idf values)
    kept_dfs = sorted(full[t] for t in mp)
    dropped = [v for t, v in full.items() if t not in mp]
    assert max(kept_dfs) <= min(dropped) + 1e-12
    # default approximates the dropped band
    assert min(dropped) - 1e-9 <= default <= max(dropped) + 1e-9
    # exact values preserved for kept tokens
    for t in mp:
        assert abs(mp[t] - full[t]) < 1e-12

    # no-truncation case: full map, floor default
    mp_all, d_all = collect_idf_map_bounded(idf, 10_000)
    assert mp_all == full and d_all == 1e-5


def test_pipeline_with_bounded_idf_still_clusters(spark):
    """Capping the IDF broadcast must not break matching on the labeled
    corpus (rare tokens score at the tail mean instead of exact IDF)."""
    from entitymatch_spark.plans.pipeline import MatchConfig, match_pipeline
    from entitymatch_spark.sources.synthetic import corpus_to_spark, generate_corpus

    fx = generate_corpus(n_clusters=30, seed=11)
    pages = corpus_to_spark(spark, fx)["pages"]
    full = match_pipeline(pages, MatchConfig(cache=False))
    capped = match_pipeline(pages, MatchConfig(cache=False, idf_max_entries=300))

    def clusters(res):
        rows = res.clusters.select("doc_id", "cluster_id").collect()
        by = {}
        for r in rows:
            by.setdefault(r["cluster_id"], set()).add(r["doc_id"])
        return {frozenset(v) for v in by.values()}

    a, b = clusters(full), clusters(capped)
    # allow tiny drift on boundary pairs, but the partitions must agree
    # on at least 90% of clusters
    inter = len(a & b)
    assert inter / max(len(a), len(b)) >= 0.9, (len(a), len(b), inter)


def test_topk_spans_names_missing_group_columns(spark):
    import pytest

    from entitymatch_spark.operators.spans import topk_spans

    spans = spark.createDataFrame(
        [(1, 0, 0.9)], "entity_id int, start int, score double"
    )
    with pytest.raises(ValueError, match="'type'"):
        topk_spans(spans, k=1)  # default group needs a typed frame
