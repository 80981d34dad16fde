"""Flagship Interpretations parity: the REPL scenario of the reference —
typos resolved via the spelling expander, synonyms via the synonym
table, maximal spans scored by IDF containment, top-k per position."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from entitymatch_spark.plans.matcher import build_matcher_index, interpret


@pytest.fixture(scope="module")
def index(spark):
    ents = spark.createDataFrame(
        [
            (0, "DVD", "The Dark Knight"),
            (1, "DVD", "Dark Knight Rises"),
            (2, "DVD", "Mouse Hunt"),
            (3, "DVD", "watch"),
            (4, "DVD", "Mice Hunt"),
        ],
        "entity_id long, type string, phrase string",
    )
    return build_matcher_index(ents)


@pytest.fixture(scope="module")
def synonyms(spark):
    # the reference's own example map, identity included (replacement
    # semantics; TestMatcher/Program.cs:279)
    return spark.createDataFrame(
        [("mouse", "mouse", 1.0), ("mouse", "mice", 0.9)],
        "token string, alt_token string, weight double",
    )


def test_exact_phrase_match(spark, index):
    q = spark.createDataFrame([(1, "please watch the dark knight now")],
                              "query_id long, text string")
    out = interpret(q, index, spans_per_position=2, threshold=0.25).collect()
    got = {(r["entity_id"], r["start"], r["length"]): r["score"] for r in out}
    assert math.isclose(got[(0, 2, 3)], 1.0, rel_tol=1e-12)  # full phrase at qpos 2..4
    assert math.isclose(got[(3, 1, 1)], 1.0, rel_tol=1e-12)  # 'watch' entity


def test_typo_resolved_by_spelling(spark, index):
    # 'knigt' is distance-1 from 'knight' -> alternative at weight 0.5
    q = spark.createDataFrame([(7, "the dark knigt")], "query_id long, text string")
    out = interpret(q, index, spans_per_position=1, threshold=0.25).collect()
    best = {r["entity_id"]: r for r in out}
    assert 0 in best
    r = best[0]
    assert (r["start"], r["length"]) == (0, 3)
    # score < 1.0 because the typo'd token contributes 0.5 x idf
    assert 0.5 < r["score"] < 1.0


def test_synonym_expansion(spark, index, synonyms):
    q = spark.createDataFrame([(9, "mouse hunt")], "query_id long, text string")
    no_syn = {
        (r["entity_id"], r["length"]): r["score"]
        for r in interpret(q, index, spans_per_position=3, threshold=0.2).collect()
    }
    assert no_syn.get((2, 2)) == pytest.approx(1.0)  # exact 'Mouse Hunt'
    assert (4, 2) not in no_syn  # 'Mice Hunt' unreachable without synonyms
    with_syn = {
        (r["entity_id"], r["length"]): r["score"]
        for r in interpret(
            q, index, synonyms=synonyms, spans_per_position=3, threshold=0.2
        ).collect()
    }
    assert with_syn.get((2, 2)) == pytest.approx(1.0)  # identity kept (weight 1.0)
    full_mice = with_syn.get((4, 2))
    assert full_mice is not None and 0.5 < full_mice < 1.0  # mice @ 0.9 discounts


def test_threshold_and_topk(spark, index):
    q = spark.createDataFrame([(3, "dark dark dark")], "query_id long, text string")
    out = interpret(q, index, spans_per_position=1, threshold=0.99).collect()
    assert out == []  # single shared token can't reach score 0.99
    out2 = interpret(q, index, spans_per_position=1, threshold=0.0).collect()
    # top-1 per (query, type, start): at most one span per start position
    starts = [(r["start"],) for r in out2]
    assert len(starts) == len(set(starts))


def _rows(df):
    return sorted(
        (r["query_id"], r["entity_id"], r["start"], r["length"], round(r["score"], 12))
        for r in df.collect()
    )


@pytest.mark.parametrize("with_synonyms", [False, True])
def test_batch_equals_one_query_at_a_time(spark, index, synonyms, with_synonyms):
    """Queries interpreted together over several partitions give the
    rows each gives alone: expansion runs per query position, with no
    dedup of probe tokens across positions or queries."""
    texts = [
        (1, "dark knight the dark knight"),  # tokens repeated in one query
        (2, "the dark knigt rises"),         # 'dark', 'the' shared across queries
        (3, "knigt mouse hunt"),             # typo 'knigt' shared with query 2
        (4, "watch mouse"),
    ]
    syn = synonyms if with_synonyms else None
    batch = spark.createDataFrame(
        spark.sparkContext.parallelize(texts, 3), "query_id long, text string"
    )
    assert batch.rdd.getNumPartitions() == 3
    together = _rows(
        interpret(batch, index, synonyms=syn, spans_per_position=3, threshold=0.2)
    )
    alone = sorted(
        row
        for qid, text in texts
        for row in _rows(
            interpret(
                spark.createDataFrame([(qid, text)], "query_id long, text string"),
                index, synonyms=syn, spans_per_position=3, threshold=0.2,
            )
        )
    )
    assert together == alone
    assert {r[0] for r in together} == {1, 2, 3, 4}


def test_index_outlives_its_source(spark, tmp_path):
    """The index is materialized at build time: deleting the entity
    source afterwards leaves every request answerable."""
    import shutil

    src = str(tmp_path / "entities")
    spark.createDataFrame(
        [(0, "DVD", "The Dark Knight"), (1, "DVD", "Mouse Hunt")],
        "entity_id long, type string, phrase string",
    ).write.parquet(src)
    index = build_matcher_index(spark.read.parquet(src))
    shutil.rmtree(src)
    q = spark.createDataFrame(
        [(1, "the dark knigt"), (2, "mouse hunt")], "query_id long, text string"
    )
    got = {(r["query_id"], r["entity_id"]) for r in interpret(q, index).collect()}
    assert got == {(1, 0), (2, 1)}


def test_index_over_broadcast_threshold_shuffles_posting(spark, index):
    """A posting measured over the broadcast threshold at build time is
    not hinted: requests shuffle-join it on token and give the same rows
    as the broadcast index."""
    ents = spark.createDataFrame(
        [
            (0, "DVD", "The Dark Knight"),
            (1, "DVD", "Dark Knight Rises"),
            (2, "DVD", "Mouse Hunt"),
            (3, "DVD", "watch"),
            (4, "DVD", "Mice Hunt"),
        ],
        "entity_id long, type string, phrase string",
    )
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        big = build_matcher_index(ents)
    finally:
        spark.conf.set(key, before)
    q = spark.createDataFrame(
        [(1, "the dark knigt rises"), (2, "watch mouse hunt")],
        "query_id long, text string",
    )
    shuffled = interpret(q, big, spans_per_position=3, threshold=0.2)
    assert _rows(shuffled) == _rows(
        interpret(q, index, spans_per_position=3, threshold=0.2)
    )
    plan = shuffled._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(token#" in plan, plan
