"""The benchmark's three workloads, driven through the public API.

Each workload generates its inputs from the seed with
``sources.synthetic.generate_corpus`` and hands the program only the
generated DataFrames; the ground truth stays with the benchmark, which
checks every output against it.

A workload's set-up is ``build`` (inputs plus the standing state or
index; repeatable) followed by ``warm_ops`` untimed warm-up operations,
``op(-warm_ops)`` .. ``op(-1)``, that pay first-use compilation.
Operations ``op(i)``, i = 0, 1, ..., run one at a time through the
public entry points; ``traced_op`` runs the same operation with one
span around each layer call and each layer boundary materialized
(persist plus count). ``check`` judges an operation's output, untimed,
``release`` drops what it cached, and ``finish`` runs a workload's
end-of-run check.
"""

from __future__ import annotations

import random
import shutil
import statistics
import time
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import entitymatch_spark as em
from entitymatch_spark.operators.evaluate import blocking_stats, pair_metrics
from entitymatch_spark.operators.posting import build_posting, token_idf
from entitymatch_spark.plans import pipeline
from entitymatch_spark.plans.incremental import (
    commit_increment,
    incremental_match,
    initial_state,
    load_state,
    save_state,
)
from entitymatch_spark.plans.matcher import build_matcher_index, interpret
from entitymatch_spark.plans.pipeline import prepare_docs
from entitymatch_spark.sources.synthetic import (
    CorpusFixture,
    corpus_to_spark,
    generate_corpus,
)

from perfbench.proc import io_write_bytes
from perfbench.trace import op_layer_metrics, traced_layers

F1_FLOOR = 0.99
# The generated entity set holds many duplicate and one-common-word
# phrases ("the", "but"), which tie or outscore a planted phrase at its
# start position; 32 spans per position keep the planted entity among
# them on every seed tried. The reference REPL's default is 1.
SPANS_PER_POSITION = 32

# The layer functions match_pipeline calls, by the span each runs under.
# plans.pipeline looks them up as module globals, so a traced run swaps
# them for spanned wrappers and still runs match_pipeline itself.
PIPELINE_LAYERS = {
    "prepare_docs": "pipeline.prepare",
    "build_posting": "posting",
    "token_idf": "posting",
    "collect_idf_map_bounded": "posting",
    "blocking_keys": "blocking",
    "candidate_pairs": "blocking",
    "score_pairs": "scoring",
    "connected_components": "clustering",
    "assign_clusters": "clustering",
}


@dataclass(frozen=True)
class Sizes:
    full_pages: int         # full_match corpus, cut at whole clusters
    incr_clusters: int      # incremental_growth corpus (state + batches)
    index_clusters: int     # interpret_queries: entities = clusters/2 + 5
    utterances: int = 16    # per interpret request
    request_pool: int = 64  # distinct requests, cycled


SIZES = {
    "bench": Sizes(full_pages=700, incr_clusters=150, index_clusters=3000),
    "tiny": Sizes(full_pages=100, incr_clusters=60, index_clusters=80, request_pool=4),
}


def _labels(dfs: dict) -> DataFrame:
    """Labeled pairs keyed like the pipeline's pair columns."""
    return dfs["labels"].select(
        F.col("url_a").alias("id_a"), F.col("url_b").alias("id_b"), "is_match"
    )


def cluster_pair_f1(clusters: DataFrame, labels: DataFrame) -> float:
    """Pair F1 of a clustering against labeled pairs: a labeled pair is
    predicted a match when both pages landed in one cluster."""
    c = clusters.select("doc_id", "cluster_id")
    pred = (
        labels.join(c.toDF("id_a", "ca"), "id_a")
        .join(c.toDF("id_b", "cb"), "id_b")
        .filter(F.col("ca") == F.col("cb"))
        .select("id_a", "id_b")
    )
    return float(pair_metrics(pred, labels).collect()[0]["f1"])


def pipeline_counters(res, clusters: DataFrame, positives: DataFrame, spans, cfg) -> dict:
    """Counters of one traced match_pipeline pass under ``cfg``: its
    result ``res``, its materialized ``clusters``, the labeled positive
    pairs (id_a, id_b) among its pages and the spans it recorded."""
    n_pairs = res.pairs.count()
    n_positive = positives.count()
    reached = positives.join(
        res.pairs.select("id_a", "id_b"), ["id_a", "id_b"], "semi"
    ).count()
    purged = blocking_stats(res.keys, max_block=cfg.max_block).agg(
        F.sum("n_purged")
    ).collect()[0][0]
    scoring_s = sum(s.duration for s in spans if s.name == "scoring")
    return {
        "posting.vocab": res.idf.count(),
        "blocking.candidate_pairs": n_pairs,
        "blocking.purged_blocks": int(purged or 0),
        "blocking.recall": reached / n_positive if n_positive else 1.0,
        "blocking.pair_yield": res.matches.count() / n_pairs if n_pairs else 0.0,
        "scoring.pairs_per_s": n_pairs / scoring_s if scoring_s else 0.0,
        "clustering.clusters": clusters.select("cluster_id").distinct().count(),
    }


def _first_pages(fx: CorpusFixture, n_pages: int) -> CorpusFixture:
    """The corpus cut after the first whole clusters that hold
    ``n_pages`` pages, with the labels among them: the page count, and
    with it the work, then varies little from seed to seed."""
    pages = fx.pages
    if len(pages) < n_pages:
        raise ValueError(f"corpus has {len(pages)} pages, fewer than {n_pages}")
    pages = pages[pages["cluster_id"] <= pages["cluster_id"].iloc[n_pages - 1]]
    urls = set(pages["url"])
    labels = fx.labels[fx.labels["url_a"].isin(urls) & fx.labels["url_b"].isin(urls)]
    return replace(fx, pages=pages, labels=labels)


class Workload:
    name = ""
    build_reps = 3
    warm_ops = 1
    item_unit = ""

    def __init__(self, spark, seed: int, sizes: Sizes, work_dir: str, tracer=None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.sizes = sizes
        self.work_dir = work_dir
        self.tracer = tracer
        self.cfg = em.MatchConfig()

    def has_input(self, i: int) -> bool:
        return True

    def release(self) -> None:
        """Drop what one operation cached."""

    def finish(self) -> bool | None:
        """End-of-run check; None when the workload has none."""
        return None

    def quality(self) -> float:
        raise NotImplementedError

    def layer_metrics(self) -> dict:
        """Per-layer metrics of a traced run measured outside the
        operations (set-up, end-of-run check)."""
        return {}

    def report(self) -> dict:
        return {}


class FullMatch(Workload):
    """A labeled corpus from pages to materialized clusters."""

    name = "full_match"
    item_unit = "pages"

    def build(self) -> None:
        fx = _first_pages(
            generate_corpus(n_clusters=self.sizes.full_pages // 3, seed=self.seed),
            self.sizes.full_pages,
        )
        dfs = corpus_to_spark(self.spark, fx)
        self.pages = dfs["pages"].drop("cluster_id")
        self.labels = _labels(dfs)
        self.positives = self.labels.filter("is_match").select("id_a", "id_b")
        self.n_pages = len(fx.pages)
        self.n_labels = len(fx.labels)
        self.f1s: list[float] = []

    def op(self, i: int):
        clusters = em.match_pipeline(self.pages, self.cfg).clusters.persist()
        clusters.count()
        return clusters, self.n_pages

    def traced_op(self, i: int, tr):
        first = len(tr.spans)
        with traced_layers(pipeline, PIPELINE_LAYERS, tr):
            res = em.match_pipeline(self.pages, self.cfg)
            clusters = res.clusters.persist()
            clusters.count()
        return clusters, self.n_pages, lambda: pipeline_counters(
            res, clusters, self.positives, tr.spans[first:], self.cfg
        )

    def check(self, clusters: DataFrame) -> bool:
        f1 = cluster_pair_f1(clusters, self.labels)
        self.f1s.append(f1)
        return f1 >= F1_FLOOR

    def release(self) -> None:
        self.spark.catalog.clearCache()

    def quality(self) -> float:
        return statistics.median(self.f1s)

    def report(self) -> dict:
        return {
            "pages": self.n_pages,
            "labeled_pairs": self.n_labels,
            "pair_f1": self.quality(),
        }


class IncrementalGrowth(Workload):
    """Batches of new pages folded into a standing state on disk."""

    name = "incremental_growth"
    build_reps = 1  # a state build costs about as much as the window
    # No warm-up batch: a nightly job folds one batch into the state per
    # session, so the first batch after the state build is what a user
    # waits for, and every run repeats the same sequence.
    warm_ops = 0
    item_unit = "docs"
    BUCKETS = 50    # entity buckets: 2% of the entities each
    BATCHES = 5     # buckets 0..4 arrive as batches; the rest is the state

    def build(self) -> None:
        fx = generate_corpus(n_clusters=self.sizes.incr_clusters, seed=self.seed)
        dfs = corpus_to_spark(self.spark, fx)
        pages = dfs["pages"]
        bucket = F.col("cluster_id") % self.BUCKETS
        self.all_pages = pages.drop("cluster_id")
        self.base = pages.filter(bucket >= self.BATCHES).drop("cluster_id")
        self.batches = [
            pages.filter(bucket == b).drop("cluster_id") for b in range(self.BATCHES)
        ]
        counts = dict(
            pages.groupBy(bucket.alias("b")).count().filter(f"b < {self.BATCHES}")
            .collect()
        )
        self.batch_docs = [counts.get(b, 0) for b in range(self.BATCHES)]
        self.labels = _labels(dfs)
        self.n_state_docs = len(fx.pages) - sum(self.batch_docs)
        # The frozen dictionary the state is built and grown under:
        # IDF over the whole crawl, as from a reference corpus.
        docs = prepare_docs(self.all_pages, self.cfg)
        self.idf = token_idf(
            build_posting(docs, id_col="doc_id"), n_docs=docs.count()
        ).localCheckpoint(eager=True)
        self.path = f"{self.work_dir}/state"
        shutil.rmtree(self.path, ignore_errors=True)
        save_state(initial_state(self.base, self.cfg, idf=self.idf), self.path)
        self.spark.catalog.clearCache()
        self.committed: list[int] = []
        self.jvm_pid = self.sc._gateway.proc.pid
        self.recompute_layers: dict = {}

    def has_input(self, i: int) -> bool:
        return i < self.BATCHES

    def op(self, i: int):
        state = load_state(self.spark, self.path)
        self._res = incremental_match(state, self.batches[i])
        commit_increment(self._res, self.path)
        self.committed.append(i)
        return None, self.batch_docs[i]

    def traced_op(self, i: int, tr):
        with tr.span("incremental.load"):
            state = load_state(self.spark, self.path)
        with tr.span("incremental.match"):
            res = incremental_match(state, self.batches[i])
            n_pairs = res.pairs.count()
            n_affected = res.affected_clusters.count()
        written = io_write_bytes(self.jvm_pid)
        with tr.span("incremental.commit"):
            commit_increment(res, self.path)
        written = io_write_bytes(self.jvm_pid) - written
        self.committed.append(i)
        self._res = res
        layer = {
            "incremental.pairs_per_batch_doc": n_pairs / max(1, self.batch_docs[i]),
            "incremental.commit_write_mb": written / 1e6,
            "incremental.affected_clusters": n_affected,
        }
        return None, self.batch_docs[i], lambda: layer

    def check(self, out) -> bool:
        return True  # judged at the end, against a full recompute

    def release(self) -> None:
        res, self._res = getattr(self, "_res", None), None
        if res is not None:
            res.unpersist()

    def _recompute(self, pages: DataFrame) -> DataFrame:
        """match_pipeline over ``pages`` under the frozen IDF. A traced
        run times its layers here, on the whole grown corpus."""
        tr = self.tracer
        if tr is None:
            return em.match_pipeline(pages, self.cfg, idf=self.idf).clusters
        first = len(tr.spans)
        with tr.span("recompute") as root:
            with traced_layers(pipeline, PIPELINE_LAYERS, tr):
                res = em.match_pipeline(pages, self.cfg, idf=self.idf)
                clusters = res.clusters
        tr.collect_job_counters()
        positives = self.labels.filter("is_match").select("id_a", "id_b").join(
            pages.select(F.col("url").alias("id_a")), "id_a", "semi"
        ).join(pages.select(F.col("url").alias("id_b")), "id_b", "semi")
        self.recompute_layers = {
            **op_layer_metrics(tr.spans, root),
            **pipeline_counters(res, clusters, positives, tr.spans[first:], self.cfg),
        }
        del self.recompute_layers["trace.glue_s"]
        return clusters

    def finish(self) -> bool:
        """The committed clusters equal a full recompute of the state's
        pages plus every committed batch, under the frozen IDF."""
        grown = self.base
        for b in self.committed:
            grown = grown.unionByName(self.batches[b])
        full = self._recompute(grown)
        stored = load_state(self.spark, self.path).clusters
        want = sorted(full.select("doc_id", "cluster_id").collect())
        got = sorted(stored.select("doc_id", "cluster_id").collect())
        self.final_f1 = cluster_pair_f1(stored, self.labels.join(
            stored.select(F.col("doc_id").alias("id_a")), "id_a", "semi"
        ).join(stored.select(F.col("doc_id").alias("id_b")), "id_b", "semi"))
        self.spark.catalog.clearCache()
        return want == got and self.final_f1 >= F1_FLOOR

    def quality(self) -> float:
        return self.final_f1

    def layer_metrics(self) -> dict:
        return self.recompute_layers

    def report(self) -> dict:
        return {
            "state_docs": self.n_state_docs,
            "batch_docs": self.batch_docs,
            "batches_committed": len(self.committed),
            "final_pair_f1": self.final_f1,
        }


# Words an utterance wraps around its planted phrase.
_QUERY_WORDS = (
    "find show me please where can i buy watch tonight cheap online "
    "about info best new review near want to get"
).split()


def _typo(rng: random.Random, w: str) -> str:
    i = rng.randrange(len(w))
    op = rng.randrange(3)
    c = rng.choice("abcdefghijklmnopqrstuvwxyz")
    if op == 0:
        return w[:i] + c + w[i:]
    if op == 1:
        return w[:i] + w[i + 1:]
    return w[:i] + c + w[i + 1:]


def make_requests(entities, seed: int, n_requests: int, per_request: int):
    """[[(text, planted_entity_id), ...] per request]. Each utterance
    is a planted entity phrase with one typo in a non-rare word (never
    one that lands on another indexed word) and query words around it."""
    rng = random.Random(seed * 7919 + 1)
    vocab = {w for p in entities["phrase"] for w in p.lower().split()}
    planted = [
        (int(r.entity_id), r.phrase) for r in entities.itertuples()
        if any(w.startswith("title") for w in r.phrase.split())
    ]
    requests = []
    for _ in range(n_requests):
        utts = []
        for _ in range(per_request):
            eid, phrase = rng.choice(planted)
            words = phrase.split()
            typoable = [
                i for i, w in enumerate(words)
                if len(w) >= 4 and not w.startswith("title")
            ]
            if typoable:
                i = rng.choice(typoable)
                t = _typo(rng, words[i])
                if t not in vocab:
                    words[i] = t
            before = rng.sample(_QUERY_WORDS, rng.randint(0, 3))
            after = rng.sample(_QUERY_WORDS, rng.randint(0, 3))
            utts.append((" ".join(before + words + after), eid))
        requests.append(utts)
    return requests


class InterpretQueries(Workload):
    """Closed loop of one client resolving utterances against an index."""

    name = "interpret_queries"
    item_unit = "utterances"
    # the first request pays code generation and the JIT, and requests
    # keep getting faster for about fifteen more (8.5 s, then 3.5 s down
    # to a plateau near 2.2 s on 4 cores): with fewer warm-up requests
    # the median moved with how fast the JIT caught up in that run
    warm_ops = 8

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.index_s: list[float] = []

    def build(self) -> None:
        fx = generate_corpus(n_clusters=self.sizes.index_clusters, seed=self.seed)
        ents = fx.entities
        self.entities = self.spark.createDataFrame(
            ents, schema="entity_id long, type string, phrase string"
        )
        # lazy but for one count of the entities: posting, IDF, totals
        # and vocabulary are derived again inside every interpret call
        t = time.perf_counter()
        self.index = build_matcher_index(self.entities)
        self.index_s.append(time.perf_counter() - t)
        by_phrase: dict[str, set[int]] = {}
        for r in ents.itertuples():
            by_phrase.setdefault(r.phrase, set()).add(int(r.entity_id))
        self.accept = {
            int(r.entity_id): by_phrase[r.phrase] for r in ents.itertuples()
        }
        self.n_phrases = len(ents)
        self.requests = make_requests(
            ents, self.seed, self.sizes.request_pool, self.sizes.utterances
        )
        self.hits = self.utterances = 0

    def layer_metrics(self) -> dict:
        return {"matcher.index_s": statistics.median(self.index_s)}

    def _query_frame(self, i: int) -> DataFrame:
        utts = self.requests[i % len(self.requests)]
        return self.spark.createDataFrame(
            [(q, text) for q, (text, _) in enumerate(utts)],
            "query_id long, text string",
        )

    def _interpret(self, i: int) -> list:
        return interpret(
            self._query_frame(i), self.index, spans_per_position=SPANS_PER_POSITION
        ).collect()

    def op(self, i: int):
        return (i, self._interpret(i)), self.sizes.utterances

    def traced_op(self, i: int, tr):
        with tr.span("matcher.interpret"):
            rows = self._interpret(i)
        layer = {"matcher.spans_per_query": len(rows) / self.sizes.utterances}
        return (i, rows), self.sizes.utterances, lambda: layer

    def check(self, out) -> bool:
        i, rows = out
        found: dict[int, set[int]] = {}
        for r in rows:
            found.setdefault(r["query_id"], set()).add(r["entity_id"])
        utts = self.requests[i % len(self.requests)]
        hits = sum(
            bool(found.get(q, set()) & self.accept[eid])
            for q, (_, eid) in enumerate(utts)
        )
        self.hits += hits
        self.utterances += len(utts)
        return hits == len(utts)

    def quality(self) -> float:
        return self.hits / self.utterances

    def report(self) -> dict:
        return {
            "phrases": self.n_phrases,
            "utterances_per_request": self.sizes.utterances,
            "query_hit_rate": self.quality(),
        }


WORKLOADS = {w.name: w for w in (FullMatch, IncrementalGrowth, InterpretQueries)}
