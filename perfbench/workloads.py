"""The benchmark's workloads.

Each workload sets up from its seed, warms up, runs a fixed number of
timed rounds, then checks every operation's output outside the timed
region. One client, closed loop: the next operation starts when the
previous one has returned. ``seconds`` sets the number of rounds, one
per ``round_s`` (a round's measured time at 4 CPUs on the commit that
introduced the benchmark) and never fewer than ``MIN_ROUNDS``, so two
commits compared on the same seed measure identical work: a faster
commit does not run more rounds and so more cache-warm repeats.

Every round issues each query kind once. The end-to-end metrics are
the engine's CPU seconds per operation (driver, JVM and Python workers
together), as medians per kind over the rounds: on a shared host the
wall clock moves with the neighbours' load, which the kernel keeps out
of CPU time, and a stall that hits one round (a garbage collection, a
late JIT compilation) moves no median, where it would move a mean. The
walls go to the run record.

- ``search`` (read path): rounds of the query kinds of
  ``inputs.ROUND`` over a committed single-segment blocks index, one
  warm-up round first. Operation = one query.
- ``ingest`` (write path): per incoming batch an append through
  ``build_index(batch_key=...)``, a reopen and a fixed handful of
  queries on the fresh handle; in traced runs also a near-duplicate
  pass (MinHash + LSH candidate pairs) before each append and, at the
  end, one compaction, a reopen and the same queries. Operation = one
  batch round; items = appended docs.

Both set-ups build an index with ``build_index(mode="blocks")`` into a
fresh root; that call is recorded as the ``build`` class.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from fulltextsearch_spark.functions.tokenizer import tokenize_terms_udf
from fulltextsearch_spark.operators import dedup as DD
from fulltextsearch_spark.operators.bm25 import WAND_MIN_DOCS, rank_terms_wand
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import FuncAst, WordAst
from fulltextsearch_spark.plans.planner import MAX_EXPANSIONS, expand_terms
from fulltextsearch_spark.sources.index_io import MANIFEST, Index, build_index, compact_index

import inputs
from harness import Recorder, storage_metrics
from oracle import (
    RANK_K,
    SEARCH_LIMIT,
    QueryChecker,
    StreamOracle,
    duckdb_minhash_pairs,
    leaves,
    stream_term_ids,
)

# Input sizes. Every run, set-up included, has to stay near a minute at
# 4 CPUs, so they are far below the 200k-document scale of bench.py.
SIZES = {
    "search": {"docs": 2000, "round_s": 4.0},
    "ingest": {"base_docs": 600, "batch_docs": 200, "dup_share": 0.2, "edit_frac": 0.03, "round_s": 9.0},
}
# Tiny inputs for the benchmark's self-test; its figures are not comparable.
SMOKE_SIZES = {
    "search": {"docs": 1500, "round_s": 60.0},
    "ingest": {"base_docs": 400, "batch_docs": 100, "dup_share": 0.2, "edit_frac": 0.03, "round_s": 60.0},
}
# A per-kind median needs at least three samples to shrug off one stall.
MIN_ROUNDS = 3


def flat_terms(query: str) -> list[str] | None:
    """WORD or OR-of-distinct-WORDs: the shapes block-max WAND serves."""
    ast = parser.parse(query)
    if isinstance(ast, WordAst):
        return [ast.value]
    if isinstance(ast, FuncAst) and ast.name == "OR" and all(isinstance(a, WordAst) for a in ast.args):
        terms = [a.value for a in ast.args]
        return terms if len(set(terms)) == len(terms) else None
    return None


def geomean(xs: list[float]) -> float:
    return float(np.exp(np.mean(np.log(xs))))


class Workload:
    name = ""
    # query kinds whose flat ranked queries run block-max WAND with its
    # cost gates off instead of ``Index.rank``
    wand_kinds: frozenset[str] = frozenset()

    def __init__(self, spark, work: str, seed: int, seconds: float, rec: Recorder, sizes: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.rec = rec
        self.size = sizes
        self.n_rounds = max(MIN_ROUNDS, round(seconds / sizes["round_s"]))
        self.rng = np.random.default_rng([seed, sorted(SIZES).index(self.name)])
        self.setup_phases: dict[str, float] = {}
        self.props: dict = {}
        self.detail: dict = {}
        self.text_bytes = 1
        self.expanded: list[int] = []
        self.wand: list[tuple[bool, int, int]] = []
        self.manifest: tuple[int, int] = (0, 0)
        self.candidate_pairs: list[int] = []
        # timed walls and engine CPU times per query kind, and each kind's class
        self.kind_walls: dict[str, list[float]] = {}
        self.kind_cpus: dict[str, list[float]] = {}
        self.kind_class: dict[str, str] = {}

    # --- helpers -----------------------------------------------------------
    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def read(self, path: str):
        return self.spark.read.parquet(path)

    @contextmanager
    def phase(self, name: str):
        t0 = time.perf_counter()
        yield
        self.setup_phases[name] = time.perf_counter() - t0

    def attempt(self, fn):
        """One operation; a raise counts as failed and the run goes on."""
        self.rec.attempted += 1
        try:
            return fn()
        except Exception:  # reported, counted, and the next operation runs
            self.rec.miss("raised:\n" + traceback.format_exc(limit=4))
            return None

    def build(self, pages: str, root: str, corpus: inputs.Corpus) -> Index:
        """Set-up build into a fresh root, recorded as the ``build`` class."""
        self.rec.call("build", lambda: build_index(self.spark, self.read(pages), root, mode="blocks"))
        idx, _, _ = self.rec.call("open", lambda: Index.open(self.spark, root))
        self.built = (root, corpus)
        return idx

    def prepare_check(self) -> None:
        """Check the set-up build before the timed part, on a handle of
        its own (the timed queries' handle keeps cold caches): its doc
        count and the dictionary df/cf of sampled terms."""
        root, corpus = self.built
        idx = Index.open(self.spark, root)
        df, cf = corpus.term_df_cf()
        by_cf = np.argsort(-cf, kind="stable")
        present = by_cf[cf[by_cf] > 0]
        sample = [*present[:3], *present[[50, 500]], *present[-3:]]
        want = {str(inputs.VOCAB[i]): (int(df[i]), int(cf[i])) for i in sample}
        rows = idx.dictionary().where(F.col("term").isin(list(want))).collect()
        got = {r["term"]: (r["df"], r["cf"]) for r in rows}
        self.rec.attempted += 1
        if idx.collection_stats()[0] != corpus.n_docs or got != want:
            self.rec.miss(f"{self.name} build: doc count or dictionary df/cf")

    def plan(self, idx: Index, kind: str, cls: str, query: str):
        """The query's DataFrame: ``search(q).limit(1000)``, or a top-10
        through ``Index.rank`` or, for flat queries of ``wand_kinds``,
        block-max WAND with its cost gates off."""
        terms = flat_terms(query) if cls == "rank" else None
        if cls != "rank":
            return idx.search(query).limit(SEARCH_LIMIT)
        if terms is not None and kind in self.wand_kinds:
            return rank_terms_wand(idx, terms, RANK_K, gates=False)
        return idx.rank(query, RANK_K)

    def query(self, idx: Index, kind: str, cls: str, query: str) -> list:
        """One timed query, collected, kept under its kind. Traced runs
        then probe, untimed, the expansion size and the WAND route."""
        rows, wall, cpu = self.rec.query(cls, lambda: self.plan(idx, kind, cls, query))
        self.kind_walls.setdefault(kind, []).append(wall)
        self.kind_cpus.setdefault(kind, []).append(cpu)
        self.kind_class[kind] = cls
        if self.rec.tracer is not None:
            self._probe(idx, kind, cls, query)
        return rows

    def _probe(self, idx: Index, kind: str, cls: str, query: str) -> None:
        terms = flat_terms(query) if cls == "rank" else None
        forced = kind in self.wand_kinds
        if cls == "expand":
            expanded = expand_terms(idx, parser.parse(query))
            self.expanded.append(len(expanded) if expanded is not None else MAX_EXPANSIONS)
        elif cls == "rank":
            if terms is not None and (forced or idx.collection_stats()[0] >= WAND_MIN_DOCS):
                stats: dict = {}
                rank_terms_wand(idx, terms, RANK_K, stats=stats, gates=not forced)
                self.wand.append((stats["route"] == "wand", stats["n_blocks"], stats["n_blocks_decoded"]))
            else:
                self.wand.append((False, 0, 0))

    def class_median(self, cls: str, per_kind: dict[str, list[float]]) -> float:
        """Geometric mean over the class's kinds of each kind's median:
        every kind weighs the same, and one slow round moves none."""
        return geomean([statistics.median(v) for k, v in per_kind.items() if self.kind_class[k] == cls])

    def end_to_end(self, setup_s: float) -> dict[str, tuple[float, str]]:
        """Engine CPU per operation, and the set-up's wall. The query
        walls, which on a shared host move with the neighbours' load,
        go to the run record."""
        for cls in ("bool", "rank"):
            self.detail[f"{cls}_wall_s"] = self.class_median(cls, self.kind_walls)
        self.detail["items_per_wall_s"] = self.items_per_s(cpu=False)
        return {
            "bool_cpu_s": (self.class_median("bool", self.kind_cpus), "s"),
            "rank_cpu_s": (self.class_median("rank", self.kind_cpus), "s"),
            "items_per_cpu_s": (self.items_per_s(cpu=True), "1/s"),
            "setup_s": (setup_s, "s"),
        }

    def items_per_s(self, cpu: bool) -> float:
        """Items per second of engine CPU, or of wall."""
        raise NotImplementedError

    # --- the phases --------------------------------------------------------
    def setup(self) -> None:
        raise NotImplementedError

    def run(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        raise NotImplementedError

    # --- per-layer metrics -------------------------------------------------
    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        rec = self.rec
        out = rec.per_class_metrics()
        bool_costs = rec.costs.get("bool", [])
        opens = rec.walls.get("open", [])
        routed = [w for w in self.wand if w[1]]
        total = sum(w[1] for w in routed)
        decoded = sum(w[2] for w in routed)

        def mean(xs) -> float:
            return float(np.mean(xs)) if len(xs) else 0.0

        out.update(
            {
                "expand.planner.expanded_terms": (mean(self.expanded), "count"),
                "bool.index_io.fast_path_share": (mean([c["scan.bytes"] == 0 for c in bool_costs]), "ratio"),
                "index_io.open_s": (mean(opens), "s"),
                "rank.bm25.wand_route_share": (mean([w[0] for w in self.wand]), "ratio"),
                "rank.bm25.blocks_total": (total / len(routed) if routed else 0.0, "count"),
                "rank.bm25.blocks_decoded": (decoded / len(routed) if routed else 0.0, "count"),
                "rank.bm25.decode_frac": (decoded / total if total else 0.0, "ratio"),
                "append.index_io.manifest_bytes": (self.manifest[0], "B"),
                "append.index_io.segments": (self.manifest[1], "count"),
                "dedup.candidate_pairs": (mean(self.candidate_pairs), "count"),
                "spark.failed_tasks": (rec.tracer.failed_tasks if rec.tracer else 0, "count"),
                "trace.overhead_frac": (
                    rec.tracer.overhead_s / rec.timed_s if rec.tracer and rec.timed_s else 0.0,
                    "ratio",
                ),
            }
        )
        with open(os.path.join(self.root, MANIFEST)) as f:
            segments = [seg["path"] for seg in json.load(f)["segments"] if seg["committed"]]
        out.update(storage_metrics(self.root, segments, self.text_bytes))
        return out


class Search(Workload):
    """Read path. Ranked OR queries of a hot and a mid term (the skew
    pair WAND prunes best) run block-max WAND with its cost gates off
    (``rank_terms_wand(gates=False)``): the index is far below
    ``WAND_MIN_DOCS``, where ``Index.rank`` always takes the exhaustive
    scorer, and even forced, Gate A routes every query of this size
    (about 20 candidate blocks) to it. The other ranked kinds take
    ``Index.rank``."""

    name = "search"
    wand_kinds = frozenset({"rank_or_skew"})

    def setup(self) -> None:
        with self.phase("inputs_s"):
            self.corpus = inputs.webtext(self.rng, self.size["docs"], f"bench://search/{self.seed}")
            inputs.write_pages(self.corpus, self.path("pages"))
            self.pools = inputs.query_pools(self.rng, self.corpus)
            warm, *self.rounds = inputs.query_rounds(self.rng, self.pools, 1 + self.n_rounds)
        with self.phase("index_s"):
            self.root = self.path("idx")
            self.idx = self.build(self.path("pages"), self.root, self.corpus)
        with self.phase("warm_s"):
            for kind, cls, query in warm:
                self.plan(self.idx, kind, cls, query).collect()
        self.text_bytes = self.corpus.text_bytes()
        self.done: list[tuple[str, str, str, list]] = []

    def prepare_check(self) -> None:
        super().prepare_check()
        queries = sorted({q for _, qs in self.pools.values() for q in qs})
        oracle = StreamOracle()
        oracle.add_corpus(self.corpus, stream_term_ids(queries, self.corpus))
        self.checker = QueryChecker(oracle)
        self.pool_terms = {
            leaf.value for q in queries for leaf in leaves(parser.parse(q)) if isinstance(leaf, WordAst)
        }

    def one_query(self, kind: str, cls: str, query: str) -> None:
        rows = self.query(self.idx, kind, cls, query)
        self.done.append((kind, cls, query, rows))

    def run(self) -> None:
        for round_ in self.rounds:
            for kind, cls, query in round_:
                self.attempt(lambda: self.one_query(kind, cls, query))

    def items_per_s(self, cpu: bool) -> float:
        """Queries per second of a round, each kind at its median."""
        medians = [statistics.median(v) for v in (self.kind_cpus if cpu else self.kind_walls).values()]
        return len(medians) / sum(medians)

    def check(self) -> None:
        for _, cls, query, rows in self.done:
            ok = self.checker.rank_ok(query, rows) if cls == "rank" else self.checker.search_ok(query, rows)
            if not ok:
                self.rec.miss(f"search {cls} {query}")
        issued = [q for _, _, q, _ in self.done]
        for kind, walls in self.kind_walls.items():
            self.detail[f"{kind}_p50_s"] = statistics.median(walls)
            self.detail[f"{kind}_cpu_s"] = statistics.median(self.kind_cpus[kind])
        self.props = {
            "docs": self.corpus.n_docs,
            "text_bytes": self.text_bytes,
            "pool_queries": sum(len(qs) for _, qs in self.pools.values()),
            "pool_exact_terms": len(self.pool_terms),
            "rounds": self.n_rounds,
            "queries": len(issued),
            "repeat_share": 1 - len(set(issued)) / len(issued) if issued else 0.0,
        }


class Ingest(Workload):
    """Write path on an index kept below ``WAND_MIN_DOCS``: ranked
    queries take the exhaustive scorer, so this workload is the no-change
    control for WAND. Sequential, one writer: it does not exercise
    appends racing a compaction.

    The near-duplicate pass (about 1 s per batch) and the compaction
    (about 25 s of mostly fixed cost at 4 CPUs) run in traced runs
    only: with them, untraced runs would not fit the benchmark's time
    budget. Their cost is the ``dedup.*`` and ``compact.*`` per-layer
    sets; the end-to-end metrics cover the batch rounds."""

    name = "ingest"

    def setup(self) -> None:
        s, prefix = self.size, f"bench://ingest/{self.seed}"
        with self.phase("inputs_s"):
            self.base = inputs.webtext(self.rng, s["base_docs"], f"{prefix}/b000")
            self.batches, self.largest = [], []
            for k in range(self.n_rounds):
                first = s["base_docs"] + k * s["batch_docs"] + 1
                raw = inputs.webtext(self.rng, s["batch_docs"], f"{prefix}/b{k + 1:03d}", first_id=first)
                batch, largest = inputs.with_near_duplicates(self.rng, raw, s["dup_share"], s["edit_frac"])
                self.batches.append(batch)
                self.largest.append(largest)
                inputs.write_pages(batch, self.path(f"pages{k}"), n_files=4)
                inputs.write_documents(batch, self.path(f"documents{k}"), n_files=4)
            inputs.write_pages(self.base, self.path("base"), n_files=4)
            pools = inputs.query_pools(self.rng, self.base)
            kinds = ("word_mid", "or", "rank_word")
            self.handful = [(k, pools[k][0], pools[k][1][0]) for k in kinds]
        with self.phase("index_s"):
            self.root = self.path("idx")
            idx = self.build(self.path("base"), self.root, self.base)
        with self.phase("warm_s"):
            for kind, cls, query in self.handful:
                self.plan(idx, kind, cls, query).collect()
        # (batches acknowledged, results of the handful) per read state
        self.states: list[tuple[int, list]] = []
        self.pairs: list[tuple[int, set]] = []
        self.acked = 0

    def read_state(self, idx: Index, read_back: bool) -> None:
        """The handful on ``idx`` (timed), then, untimed if ``read_back``,
        a read-back of every acknowledged batch."""
        results = []
        for kind, cls, q in self.handful:
            self.rec.attempted += 1
            results.append(self.query(idx, kind, cls, q))
        self.states.append((self.acked, results))
        if not read_back:
            return
        parts = [self.base, *self.batches[: self.acked]]
        want = {c.first_id + i: c.texts[i] for c in parts for i in (0, c.n_docs - 1)}
        rows = idx.docs().where(F.col("doc_id").isin(list(want))).select("doc_id", "text").collect()
        if {r["doc_id"]: r["text"] for r in rows} != want or idx.collection_stats()[0] != sum(
            c.n_docs for c in parts
        ):
            self.rec.miss(f"ingest: acknowledged batches not readable after {self.acked} appends")

    def dedup(self, k: int) -> None:
        def pairs():
            tok = self.read(self.path(f"documents{k}")).select("doc_id", tokenize_terms_udf("text").alias("tokens"))
            sigs = DD.minhash_signatures(tok, n=3, n_perm=8)
            return DD.lsh_candidate_pairs(sigs, n_bands=4, rows_per_band=2).collect()

        rows, _, _ = self.rec.call("dedup", pairs)
        self.pairs.append((k, {(r["doc_a"], r["doc_b"]) for r in rows}))
        self.candidate_pairs.append(len(rows))

    def batch_round(self, k: int) -> None:
        if self.rec.tracer is not None:
            self.dedup(k)
        self.rec.call(
            "append",
            lambda: build_index(
                self.spark, self.read(self.path(f"pages{k}")), self.root, mode="blocks", batch_key=f"b{k + 1:03d}"
            ),
        )
        self.acked += 1
        with open(os.path.join(self.root, MANIFEST), "rb") as f:
            raw = f.read()
        self.manifest = (len(raw), sum(s["committed"] for s in json.loads(raw)["segments"]))
        idx, _, _ = self.rec.call("open", lambda: Index.open(self.spark, self.root))
        self.read_state(idx, read_back=k == self.n_rounds - 1)

    def compact(self) -> None:
        self.rec.call("compact", lambda: compact_index(self.spark, self.root))
        idx, _, _ = self.rec.call("open", lambda: Index.open(self.spark, self.root))
        self.read_state(idx, read_back=True)

    def run(self) -> None:
        for k in range(self.n_rounds):
            self.attempt(lambda: self.batch_round(k))
        if self.rec.tracer is not None:
            self.attempt(self.compact)

    def items_per_s(self, cpu: bool) -> float:
        """Docs per second of an append, at the median append."""
        return self.size["batch_docs"] / statistics.median((self.rec.cpus if cpu else self.rec.walls)["append"])

    def check(self) -> None:
        for k, got in self.pairs:
            self.rec.attempted += 1
            want = duckdb_minhash_pairs(self.path(f"documents{k}"))
            if got != want:
                self.rec.miss(f"ingest dedup of batch {k}: {len(got)} pairs, oracle {len(want)}")
        queries = [q for _, _, q in self.handful]
        terms = np.unique(np.concatenate([stream_term_ids(queries, c) for c in (self.base, *self.batches)]))
        oracle = StreamOracle()
        oracle.add_corpus(self.base, terms)
        added, checker = 0, QueryChecker(oracle)
        for acked, results in self.states:
            while added < acked:
                oracle.add_corpus(self.batches[added], terms)
                added += 1
                checker = QueryChecker(oracle)
            for (_, cls, q), rows in zip(self.handful, results):
                ok = checker.rank_ok(q, rows) if cls == "rank" else checker.search_ok(q, rows)
                if not ok:
                    self.rec.miss(f"ingest after {acked} appends: {cls} {q}")
        self.text_bytes = self.base.text_bytes() + sum(b.text_bytes() for b in self.batches[: self.acked])
        self.props = {
            "base_docs": self.base.n_docs,
            "appends": self.acked,
            "appended_docs": sum(b.n_docs for b in self.batches[: self.acked]),
            "text_bytes": self.text_bytes,
            "dup_share": self.size["dup_share"],
            "largest_dup_cluster": max(self.largest[: self.acked], default=0),
        }


WORKLOADS = {w.name: w for w in (Search, Ingest)}
