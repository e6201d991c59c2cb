"""BM25 ranked top-k over the index.

The reference engine has NO ranking (verified — SURVEY.md §0.1); BM25
(k1=1.2, b=0.75) and deterministic top-k come from our spec
(BASELINE.json north_star). Rank identity is verified against the
pure-Python oracle (fulltextsearch_spark/oracle/pyoracle.py) which
implements the same scoring over the same corpus.

Scoring semantics (mirrored exactly by the oracle):

- idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))      (Robertson/Lucene)
- tfn(tf,dl)= tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
- leaf WORD/WILD/EDIT: expand to term set T;
      score(doc) = Σ_{t∈T, tf(t,doc)>0} idf(t)·tfn(tf(t,doc), dl)
- OR(children): doc qualifies if any child matched; score = Σ child scores
- AND(children): doc qualifies only if every child matched; score = Σ
- SEQ(terms): phrase occurrences per doc → tf_phrase; df_phrase = #docs
  with ≥1 phrase match; score = idf(df_phrase)·tfn(tf_phrase, dl)
- top-k: ORDER BY score DESC, doc_id ASC LIMIT k  (deterministic ties)

Scale shape: a flat query (WORD / OR of WORDs) whose blocks to decode
hold at most LOCAL_FAST_MAX_OCC occurrences is scored on the driver
(`score_blocks_local`): pyarrow reads just those blocks' payloads,
numpy decodes them to per-doc tf and scores them against the handle's
doc-length vector, and the top-k returns as a local relation — no Spark
job. Both the exhaustive route and each WAND decode pass use it. It
stops applying past either driver budget: more than
LOCAL_FAST_MAX_OCC occurrences in the pass (a hot term's 32-block WAND
seed), or more than LOCAL_META_MAX_BLOCKS committed docs (the
doc-length vector). Then the Spark scorer runs: the dictionary stats
join is broadcast; per-(doc,term) scores aggregate map-side; top-k is
a TakeOrdered (no global sort materialization). Block-max metadata
gives an upper score bound per block for WAND pruning — see
`rank_terms_wand`.
"""

from __future__ import annotations

import os
from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fulltextsearch_spark import BM25_B, BM25_K1
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import AstQuery, EditAst, FuncAst, WildAst, WordAst
from fulltextsearch_spark.plans.planner import expanded_postings, plan_node


def _idf_col(n_docs: int):
    return F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )


def _tfn_col(tf_col, avgdl: float):
    return (tf_col * (BM25_K1 + 1.0)) / (
        tf_col + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
    )


def _unique_term_doc_rows(index) -> bool:
    """True when posting rows are provably unique per (term, doc):
    single-field index, and (blocks modes) blocks never split a doc —
    the block_impacts manifest flag marks builds with that invariant.
    Then groupBy(term, doc).sum(tf) is the identity and its exchange
    can be elided from every scorer (guide §2.4: remove shuffles that
    re-derive an invariant the data already has)."""
    manifest = getattr(index, "manifest", None)
    if manifest is None:
        return False  # unknown layout (memory handles): keep the agg
    t = manifest["type"]
    if t.get("n_fields", 1) != 1:
        return False
    from fulltextsearch_spark.sources.index_io import BLOCK_MODES

    if index.mode in BLOCK_MODES and not t.get("block_impacts"):
        return False  # legacy blocks may split a doc across blocks
    return True


def _leaf_scores(
    index, node, n_docs: int, avgdl: float, postings_kwargs=None,
    doc_filter: DataFrame | None = None,
) -> DataFrame:
    """Terminal node → (doc_id, score). ``postings_kwargs`` (WORD
    leaves under AND) prunes the leg's blocks to the rarest sibling's
    doc neighborhood before decode (conj_postings_kwargs: doc windows,
    or exact block keys for scattered rare legs); ``doc_filter``
    (broadcast rare-doc relation, conj_doc_filter) semi-joins the rows
    before aggregation — idf/dl stay global (dictionary/doc_stats
    joins), and AND keeps only docs present in every child, all of
    which lie in the rarest leg's doc set, so scores are exact."""
    if postings_kwargs and isinstance(node, WordAst):
        postings = index.postings(
            exact_terms=[node.value], **postings_kwargs
        )
    else:
        postings = expanded_postings(index, node)
    if doc_filter is not None:
        postings = postings.join(
            F.broadcast(doc_filter), "doc_id", "left_semi"
        )
    unique_rows = _unique_term_doc_rows(index)
    # doc-level tf per term (sum over fields), then join stats; on a
    # single-field index rows are already (term, doc)-unique, so the
    # aggregation (and its exchange) is an identity — skip it
    if unique_rows:
        doc_tf = postings.select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf")
        )
    else:
        doc_tf = postings.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tf")
        )
    dictionary = index.dictionary()
    scored = (
        doc_tf.join(F.broadcast(dictionary), "term")
        .join(index.doc_stats(), "doc_id")
        .select(
            "doc_id",
            (_idf_col(n_docs) * _tfn_col(F.col("tf"), avgdl)).alias("s"),
        )
    )
    if unique_rows and isinstance(node, WordAst):
        # one term, one row per doc: the per-doc sum is an identity too
        return scored.select("doc_id", F.col("s").alias("score"))
    return scored.groupBy("doc_id").agg(F.sum("s").alias("score"))


def _phrase_scores(index, node: FuncAst, n_docs: int, avgdl: float) -> DataFrame:
    """Phrase BM25 as ONE execution of the phrase join: df_phrase (the
    count of docs with ≥1 phrase match) rides as a GLOBAL WINDOW count
    over the per-doc tf rows. The previous shape — a broadcast 1-row
    aggregate over "the same" doc_tf subplan — was never actually
    reused: the aggregate branch prunes columns differently, so the
    whole phrase join (two decodes + the position join) planned and
    EXECUTED twice (plans/r06/q_bm25_seq_before.txt shows both
    subtrees). The window moves the ~one-row-per-matching-doc (doc_id,
    tf) relation to one partition for the count — trivial next to a
    second phrase execution at any scale. Zero matches → empty doc_tf
    → empty result, no special case."""
    from pyspark.sql import Window

    matches = plan_node(index, node)  # (doc_id, field_id, positions)
    doc_tf = matches.groupBy("doc_id").agg(F.count("*").alias("tf"))
    dfp = F.count("*").over(Window.partitionBy()).cast("double")
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - F.col("dfp") + F.lit(0.5)) / (F.col("dfp") + F.lit(0.5))
    )
    return (
        doc_tf.withColumn("dfp", dfp)
        .join(index.doc_stats(), "doc_id")
        .select("doc_id", (idf * _tfn_col(F.col("tf"), avgdl)).alias("score"))
    )


def score_node(index, node: AstQuery, n_docs: int, avgdl: float) -> DataFrame:
    """(doc_id, score) for docs matching the node."""
    if isinstance(node, (WordAst, WildAst, EditAst)):
        return _leaf_scores(index, node, n_docs, avgdl)
    if isinstance(node, FuncAst):
        if node.name == "SEQ":
            if len(node.args) == 1:
                return _leaf_scores(index, node.args[0], n_docs, avgdl)
            return _phrase_scores(index, node, n_docs, avgdl)
        if not node.args:
            return index.spark.createDataFrame([], "doc_id long, score double")
        if node.name == "OR":
            children = [score_node(index, a, n_docs, avgdl) for a in node.args]
            return (
                reduce(DataFrame.unionAll, children)
                .groupBy("doc_id")
                .agg(F.sum("score").alias("score"))
            )
        if node.name == "AND":
            # all-WORD AND: the rarest leg's doc neighborhood prunes
            # the other legs' decode (see _leaf_scores; planner twin
            # in plans/planner.py plan_node)
            from fulltextsearch_spark.plans.planner import (
                conj_doc_filter,
                conj_postings_kwargs,
            )

            # pruning from the DIRECT WORD children only (mixed children
            # included — same safety argument as the planner twin: any
            # qualifying doc contains every direct WORD child); a direct
            # WORD term absent from the dictionary empties the AND
            word_terms = [a.value for a in node.args if isinstance(a, WordAst)]
            kw = conj_postings_kwargs(index, word_terms) if word_terms else {}
            if kw is None:  # a direct term is absent -> no doc qualifies
                return index.spark.createDataFrame(
                    [], "doc_id long, score double"
                )
            doc_filter = (
                conj_doc_filter(index, word_terms) if word_terms else None
            )
            children = [
                _leaf_scores(
                    index,
                    a,
                    n_docs,
                    avgdl,
                    postings_kwargs=kw.get(a.value),
                    doc_filter=doc_filter,
                )
                if isinstance(a, WordAst)
                else score_node(index, a, n_docs, avgdl)
                for a in node.args
            ]
            return reduce(
                lambda a, b: a.join(b, "doc_id").select(
                    "doc_id", (a["score"] + b["score"]).alias("score")
                ),
                children,
            )
        raise ValueError(f"unknown operator {node.name}")
    raise TypeError(f"unknown AST node {node!r}")


def _flat_word_terms(ast: AstQuery) -> list[str] | None:
    """Distinct term list when the AST is WORD or OR-of-WORDs — the
    shapes block-max WAND can serve. Duplicated terms disqualify: OR is
    duplicate-preserving, so a doubled child doubles its score
    contribution, which the per-term WAND aggregation would collapse."""
    if isinstance(ast, WordAst):
        return [ast.value]
    if isinstance(ast, FuncAst) and ast.name == "OR" and ast.args:
        terms = []
        for a in ast.args:
            if not isinstance(a, WordAst):
                return None
            terms.append(a.value)
        return terms if len(set(terms)) == len(terms) else None
    return None


# WAND pays for its two extra driver round-trips (seed scoring + the
# pruning threshold) only when the avoided block decodes dominate —
# i.e. on large collections. Below this doc count the exhaustive
# scorer's single job is strictly faster (measured: 2x at 50k docs).
WAND_MIN_DOCS = 200_000

# Blocks decoded in the seed phase (at least k). The threshold θ is the
# k-th best EXACT score among seed docs: a k-block seed gives θ ≈ the
# min of the seed blocks' maxima, far below the true k-th score when
# per-doc scores are compressed (hot terms: BM25's tf saturation packs
# every block's max into a narrow band), so pruning barely fired
# (measured 125/159 blocks surviving at 30k docs). Seeding a fixed 32
# blocks costs ~128k decoded occurrences — noise at WAND scale — and
# tightens θ to ≈ the true k-th score, since exact impact bounds make
# the top-ub blocks the ones actually holding the top docs (measured:
# survivors drop to ≈ the blocks containing true top-k docs).
WAND_SEED_BLOCKS = 32

# multi-term residual alignment grid: the index's doc-id SPAN (manifest
# doc_id_range high water, NOT n_docs — preassigned ids may be sparse)
# splits into this many cells; per term the exploded (block, cell)
# metadata is bounded by GRID_CELLS + that term's block count, so the
# residual pass stays linear no matter the corpus size
GRID_CELLS = 4096

# Routing gates (rank quality is unaffected — every route is exact):
# WAND's seed/grid phases only pay when they can skip >~half the decode
# work. Candidate sets at/below ~2 seed budgets route straight to the
# one-job exhaustive decode (Gate A); multi-term queries whose predicted
# survivor fraction at an estimated θ exceeds this route exhaustive
# before any seed decode (Gate P); after θ is known, a measured survivor
# fraction above this drops the residual-join decode for the plain full
# decode (Gate B).
WAND_MAX_SURVIVOR_FRAC = 0.5

# Gate P's θ estimate, as a fraction of θ_cap = the top cell's combined
# bound (no doc can score above θ_cap, so 1.0 would be the certain
# floor). Hot tf-saturated term pairs land their true θ in this band —
# their per-block bounds sit in a narrow band just under the cap, so
# survivors at 0.8·cap ≈ survivors at real θ ≈ all of them (measured:
# t0,t1 passed the 1.0-cap floor check, then decoded 1965/1965 after
# paying the full seed+grid round-trips). Spread-heavy candidates (the
# genuinely prunable shape: long-tail blocks far under the top ones)
# stay well below this gate either way.
WAND_THETA_EST_FRAC = 0.8

# Seed round-trip pricing (VERDICT r5 #2): Gate A used to compare the
# candidate count to the seed budget only, but the WAND route pays a
# whole extra job (seed decode + collect + schedule) that the one-job
# exhaustive decode does not. Priced in block-decode units so the gates
# stay metadata-only: even a PERFECT prune (surviving ≈ the seed set)
# saves at most candidates − 2·seed-budget decodes, so WAND routes only
# when that best case exceeds this overhead; Gate P (multi-term)
# additionally requires the PREDICTED saving at θ_est — candidates −
# predicted survivors − the seed decode itself — to clear it. Local[32]
# default ≈ the measured per-job fixed cost (~0.3 s) over the measured
# per-block decode cost (~3.5 ms: q_bm25_or skipped ~250 blocks for a
# 0.9 s win). On a real cluster per-block wall cost shrinks with
# executor count while job submit latency does not, so production
# deployments should RAISE it (env FTS_WAND_OVERHEAD_BLOCKS); the gate
# only picks between two exact routes, so any value is rank-safe.
WAND_ROUNDTRIP_OVERHEAD_BLOCKS = int(
    os.environ.get("FTS_WAND_OVERHEAD_BLOCKS", "64")
)


def _id_span(index, n_docs: int) -> int:
    """Doc-id upper bound + 1 for the alignment grid — the manifest's
    committed doc_id_range high water (zero Spark jobs). Falls back to
    n_docs for handles without a manifest (memory indexes). Sparse
    preassigned ids (build_index allows them) make n_docs alone wrong:
    cell width would collapse and F.sequence could emit millions of
    cells per block (ADVICE r3 medium)."""
    manifest = getattr(index, "manifest", None) or {}
    id_hi = max(
        (
            s["doc_id_range"][1]
            for s in manifest.get("segments", [])
            if s.get("committed")
        ),
        default=n_docs - 1,
    )
    return max(id_hi + 1, n_docs, 1)


def _wand_eligible(index, terms: list[str] | None, force: bool | None) -> bool:
    """WAND needs a blocks-mode index. Multi-field corpora additionally
    need impact frontiers (manifest flag ``block_impacts``): impact tf
    is the per-doc tf SUMMED over fields and blocks never split a doc,
    so the bound stays score-safe; without impacts the per-(doc,field)
    max_tf bound would undercount split docs. Cost-based gate on top:
    collections below WAND_MIN_DOCS take the exhaustive single-job path
    (override with ``force``)."""
    from fulltextsearch_spark.sources.index_io import BLOCK_MODES

    if force is not None and not force:
        return False
    mtype = index.manifest["type"] if getattr(index, "manifest", None) else {}
    structural = (
        terms is not None
        and getattr(index, "mode", None) in BLOCK_MODES
        and (mtype.get("n_fields", 1) == 1 or mtype.get("block_impacts"))
    )
    if not structural:
        return False
    if force:
        return True
    return index.collection_stats()[0] >= WAND_MIN_DOCS


def rank_query(
    index, query: str, k: int = 10, force_wand: bool | None = None
) -> DataFrame:
    """Deterministic BM25 top-k: (doc_id, score).

    Flat term queries (WORD / OR-of-distinct-WORDs) on a blocks-mode
    index of ≥ WAND_MIN_DOCS docs route through block-max WAND pruning
    (`rank_terms_wand`). Below that, a flat query whose candidate blocks
    fit the driver fast-path budget (LOCAL_FAST_MAX_OCC occurrences) is
    decoded and scored on the driver (`score_blocks_local`, no Spark
    job); everything else takes the exhaustive Spark scorer. Every
    route is rank-identical (test_wand.py, test_bm25_local.py)."""
    ast = parser.parse(query)
    terms = _flat_word_terms(ast)
    if _wand_eligible(index, terms, force_wand):
        return rank_terms_wand(index, terms, k)
    meta_fn = getattr(index, "local_block_meta", None)
    if terms is not None and meta_fn is not None:
        meta = meta_fn(terms)
        local = (
            score_blocks_local(index, terms, meta, np.arange(meta.num_rows))
            if meta is not None
            else None
        )
        if local is not None:
            return _local_top_k(index.spark, *local, k)
    return rank_query_exhaustive(index, query, k)


def rank_query_exhaustive(index, query: str, k: int = 10) -> DataFrame:
    """The exhaustive scorer (no block-max pruning) — WAND's
    rank-identity reference, and the path for non-flat ASTs."""
    ast = parser.parse(query)
    n_docs, avgdl = index.collection_stats()
    scores = score_node(index, ast, n_docs, avgdl)
    return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def _wand_exact_scores(
    index, dictionary, n_docs, avgdl, bdf, single_term: bool = False
) -> DataFrame:
    """Decode block rows → exact per-doc BM25 scores (shared by the
    seed and final passes of both WAND control planes). On single-field
    indexes the (term, doc) aggregation is an identity (decoded rows
    are unique — blocks never split a doc) and, for a single-term
    query, so is the per-doc sum: both exchanges elide, leaving a
    completely shuffle-free score plan."""
    from fulltextsearch_spark.operators.build import decode_blocks

    postings = decode_blocks(
        bdf.select("term", "payload"), codec=getattr(index, "mode", "blocks")
    )
    unique_rows = _unique_term_doc_rows(index)
    if unique_rows:
        doc_tf = postings.select(
            "term", "doc_id", F.col("tf").cast("long").alias("tf")
        )
    else:
        doc_tf = postings.groupBy("term", "doc_id").agg(
            F.sum("tf").alias("tf")
        )
    scored = (
        doc_tf.join(F.broadcast(dictionary), "term")
        .join(index.doc_stats(), "doc_id")
        .select(
            "doc_id",
            (_idf_col(n_docs) * _tfn_col(F.col("tf"), avgdl)).alias("s"),
        )
    )
    if unique_rows and single_term:
        return scored.select("doc_id", F.col("s").alias("score"))
    return scored.groupBy("doc_id").agg(F.sum("s").alias("score"))


_SCORES_SCHEMA = "doc_id long, score double"


def _meta_term_idf(meta, n_docs: int):
    """(term per block as an object array, term index per block, idf
    per term) from candidate block metadata. Blocks never split a doc
    and a term's blocks are doc-disjoint, so Σ n_docs over a term's
    blocks IS its document frequency."""
    term_col = np.array(meta.column("term").to_pylist(), dtype=object)
    uterms, tinv = np.unique(term_col, return_inverse=True)
    df_t = np.zeros(len(uterms), dtype=np.float64)
    np.add.at(df_t, tinv, meta.column("n_docs").to_numpy())
    idf_t = np.log(1.0 + (float(n_docs) - df_t + 0.5) / (df_t + 0.5))
    return term_col, tinv, idf_t


def score_blocks_local(index, terms: list[str], meta, block_idx):
    """Exact BM25 scores of the chosen candidate blocks, decoded and
    scored on the driver: (doc_ids, scores) numpy arrays, one entry per
    matching doc, or None when the Spark scorer must run instead.

    ``meta`` is the candidate blocks' metadata (Index.local_block_meta
    over ``terms``); ``block_idx`` picks the rows to decode. Same
    formulas and operation order as _idf_col/_tfn_col: idf from the
    candidate metadata (_meta_term_idf — ALL of ``meta``, not just the
    chosen blocks), dl from the handle's doc-length vector; docs
    without a doc_stats row drop, as in the Spark scorer's inner join.

    None when the chosen blocks hold more than LOCAL_FAST_MAX_OCC
    occurrences (Σ n_occ from metadata, checked before any payload is
    read), the layout may split a doc across blocks (no
    ``block_impacts`` manifest flag), the doc-length vector is not
    resident (Index.doc_lengths), or the payloads are not readable on
    the driver."""
    from fulltextsearch_spark.operators.build import _block_codec
    from fulltextsearch_spark.sources import index_io

    block_idx = np.asarray(block_idx, dtype=np.int64)
    if not index.manifest["type"].get("block_impacts"):
        return None
    n_occ = meta.column("n_occ").to_numpy()[block_idx]
    if int(n_occ.sum()) > index_io.LOCAL_FAST_MAX_OCC:
        return None
    lengths = index.doc_lengths()
    if lengths is None:
        return None
    n_docs, avgdl = index.collection_stats()
    term_col, tinv, idf_t = _meta_term_idf(meta, n_docs)
    payloads = index.local_block_payloads(
        terms, term_col[block_idx], meta.column("first_doc").to_numpy()[block_idx]
    )
    if payloads is None:
        return None
    k1, b = BM25_K1, BM25_B
    # per block: occurrences → (doc, tf) runs; a block's docs are sorted
    decode_block = _block_codec(index.mode)[1]
    t_parts = [np.empty(0, dtype=np.int64)]
    d_parts = [np.empty(0, dtype=np.int64)]
    tf_parts = [np.empty(0, dtype=np.int64)]
    for ti, payload in zip(tinv[block_idx], payloads):
        docs = decode_block(payload)[0]
        if not len(docs):
            continue
        starts = np.flatnonzero(np.r_[True, docs[1:] != docs[:-1]])
        t_parts.append(np.full(len(starts), ti, dtype=np.int64))
        d_parts.append(docs[starts])
        tf_parts.append(np.diff(np.r_[starts, len(docs)]))
    t, d, tf = (np.concatenate(p) for p in (t_parts, d_parts, tf_parts))
    ids, dls = lengths
    pos = np.searchsorted(ids, d)
    hit = pos < len(ids)
    hit[hit] = ids[pos[hit]] == d[hit]
    t, d, pos = t[hit], d[hit], pos[hit]
    tf, dl = tf[hit].astype(np.float64), dls[pos].astype(np.float64)
    s = idf_t[t] * ((tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl)))
    doc_ids, inv = np.unique(d, return_inverse=True)
    return doc_ids, np.bincount(inv, weights=s, minlength=len(doc_ids))


def _local_top_k(spark, doc_ids, scores, k: int) -> DataFrame:
    """Top-k of driver-side scores (score DESC, doc_id ASC) as a local
    relation: collecting it runs no Spark job."""
    import pandas as pd

    order = np.lexsort((doc_ids, -scores))[: max(k, 0)]
    if not len(order):
        # an empty pandas frame plans as a one-job RDD scan, while a
        # limit(0) over a one-row local relation folds to an empty one
        return spark.createDataFrame(
            pd.DataFrame({"doc_id": [0], "score": [0.0]}), _SCORES_SCHEMA
        ).limit(0)
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": doc_ids[order], "score": scores[order]}),
        _SCORES_SCHEMA,
    )


def _rank_wand_driver_cp(
    index,
    terms: list[str],
    k: int,
    stats: dict | None,
    gates: bool,
    meta,
    n_docs: int,
    avgdl: float,
) -> DataFrame:
    """Block-max WAND with the CONTROL PLANE on the driver (VERDICT r4
    #4/#5): ``meta`` is the candidate blocks' metadata (term, first/
    last_doc, n_docs, max_tf, impact frontiers — never payloads) as a
    driver-resident pyarrow table (Index.local_block_meta, budgeted).
    Everything the distributed plane computed as separate metadata
    Spark jobs — per-term ub aggregates, Gate P's θ_cap/floor count,
    the seed-cell ranking, Gate B's survivor count — is numpy over a
    few thousand rows here. Identical routing decisions and identical
    ranks (same formulas, same gates — test_wand runs this plane;
    FTS_NO_LOCAL_FAST_PATH or an over-budget term falls back to the
    distributed plane in rank_terms_wand).

    Each decode pass — the seed blocks, then the survivors or, on the
    exhaustive routes, every candidate block — runs on the driver
    (score_blocks_local) when its blocks fit LOCAL_FAST_MAX_OCC, so a
    small query runs no Spark job at all. Otherwise the pass is one
    Spark job (decode+score), its block set pushed as a broadcast
    (term, first_doc) key join — never giant IN literals. Only where
    the blocks are decoded moves; routing and block sets do not."""
    import pandas as pd

    k1, b = BM25_K1, BM25_B
    nblocks = meta.num_rows
    if nblocks == 0:
        return _local_top_k(index.spark, np.empty(0), np.empty(0), k)
    term_col, tinv, idf_t = _meta_term_idf(meta, n_docs)
    single_term = len(idf_t) == 1
    first = meta.column("first_doc").to_numpy()
    last = meta.column("last_doc").to_numpy()
    max_tf = meta.column("max_tf").to_numpy().astype(np.float64)
    # per-block exact impact bound (empty/absent frontier -> dl→0 fallback;
    # legacy segments have no imp columns at all)
    fallback = max_tf * (k1 + 1.0) / (max_tf + k1 * (1.0 - b))
    if "imp_tf" in meta.column_names:
        imp_tf = meta.column("imp_tf").combine_chunks()
        imp_dl = meta.column("imp_dl").combine_chunks()
        off = imp_tf.offsets.to_numpy().astype(np.int64)
        tfv = imp_tf.values.to_numpy().astype(np.float64)
        dlv = imp_dl.values.to_numpy().astype(np.float64)
        tfn_flat = tfv * (k1 + 1.0) / (tfv + k1 * (1.0 - b + b * dlv / avgdl))
        lens = off[1:] - off[:-1]
        seg_max = np.full(nblocks, -np.inf)
        ne = lens > 0
        if ne.any():
            # empty segments are zero-width in the flat values, so reducing
            # between consecutive NON-EMPTY starts covers each exactly
            seg_max[ne] = np.maximum.reduceat(tfn_flat, off[:-1][ne])
        tfn_ub = np.where(np.isfinite(seg_max), seg_max, fallback)
    else:
        tfn_ub = fallback
    ub = idf_t[tinv] * tfn_ub

    driver_decodes = []  # per decode pass: did it run on the driver?

    def local_scores(block_idx):
        if block_idx is None:
            block_idx = np.arange(nblocks)
        local = score_blocks_local(index, terms, meta, block_idx)
        driver_decodes.append(local is not None)
        return local

    def spark_scores(block_idx) -> DataFrame:
        """Spark decode+score of the chosen blocks (None: all of them)."""
        blocks = index.blocks(exact_terms=terms)
        if block_idx is not None:
            keys = pd.DataFrame(
                {
                    "term": term_col[block_idx],
                    "first_doc": pd.Series(first[block_idx], dtype="int64"),
                }
            )
            blocks = blocks.join(
                F.broadcast(
                    index.spark.createDataFrame(
                        keys, "term string, first_doc long"
                    )
                ),
                ["term", "first_doc"],
            )
        return _wand_exact_scores(
            index,
            index.dictionary().where(F.col("term").isin(terms)),
            n_docs,
            avgdl,
            blocks,
            single_term=single_term,
        )

    def finish(block_idx, route: str, n_seeded: int, n_decoded: int) -> DataFrame:
        local = local_scores(block_idx)
        if stats is not None:
            stats["n_blocks"] = nblocks
            stats["n_blocks_seeded"] = min(n_seeded, nblocks)
            stats["n_blocks_decoded"] = n_decoded
            stats["route"] = route
            stats["driver_decode"] = all(driver_decodes)
        if local is not None:
            return _local_top_k(index.spark, *local, k)
        return (
            spark_scores(block_idx)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    n_seed = max(k, WAND_SEED_BLOCKS)
    # Gate A with the seed round-trip priced in: a WAND route decodes
    # ≥ n_seed blocks seeding and ≥ ~n_seed surviving, so its best-case
    # saving is nblocks − 2·n_seed decodes — worth a second job only
    # when that clears the job's fixed cost (VERDICT r5 #2).
    if gates and nblocks <= 2 * n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS:
        return finish(None, "exhaustive_small", 0, nblocks)
    others_ub = None
    if single_term:
        # No single-term Gate P: a term's per-block ubs sit in a ~1%
        # band (bench t0: median/max = 0.99), so no metadata θ estimate
        # can resolve where the true θ lands inside it — 0.8·max
        # predicts 100% survivors where the measured prune skips 74%.
        # Gate A prices the seed round-trip instead, and Gate B still
        # catches a θ that failed to prune after the (cheap) seed pass.
        seed_blocks = np.argsort(-ub, kind="stable")[:n_seed]
    else:
        # doc-range-grid residuals, dense numpy twin of the Spark
        # plane (see rank_terms_wand docstring for the math)
        cell_w = max(1, -(-_id_span(index, n_docs) // GRID_CELLS))
        c0 = first // cell_w
        c1 = last // cell_w
        cnt = (c1 - c0 + 1).astype(np.int64)
        inc_block = np.repeat(np.arange(nblocks), cnt)
        starts = np.cumsum(cnt) - cnt
        inc_cell = (
            np.repeat(c0, cnt) + np.arange(cnt.sum()) - np.repeat(starts, cnt)
        ).astype(np.int64)
        ncells = int(c1.max()) + 1
        gub = np.zeros((len(idf_t), ncells))
        np.maximum.at(gub, (tinv[inc_block], inc_cell), ub[inc_block])
        tot = gub.sum(axis=0)
        others_cell = tot[None, :] - gub
        others_ub = np.full(nblocks, -np.inf)
        np.maximum.at(
            others_ub, inc_block, others_cell[tinv[inc_block], inc_cell]
        )
        if gates:  # Gate P — zero jobs, zero decode
            theta_est = tot.max() * WAND_THETA_EST_FRAC
            n_floor = int((ub + others_ub >= theta_est).sum())
            if (
                n_floor > WAND_MAX_SURVIVOR_FRAC * nblocks
                or nblocks - n_floor
                <= n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS
            ):
                return finish(None, "exhaustive_unprunable", 0, nblocks)
        nb = np.zeros(ncells, dtype=np.int64)
        np.add.at(nb, inc_cell, 1)
        order = np.argsort(-tot, kind="stable")[:64]
        picked, budget = [], 0
        for c in order:
            picked.append(int(c))
            budget += int(nb[c])
            if budget >= n_seed:
                break
        pick_mask = np.isin(inc_cell, np.array(picked, dtype=np.int64))
        seed_blocks = np.unique(inc_block[pick_mask])
    seeded_n = len(seed_blocks)
    local = local_scores(seed_blocks)
    if local is not None:
        seed_scores = np.sort(local[1])[::-1][:k]
    else:
        seed_scores = [
            r["score"]
            for r in spark_scores(seed_blocks)
            .orderBy(F.desc("score"))
            .limit(k)
            .collect()
        ]
    if len(seed_scores) < k:
        return finish(None, "exhaustive_underfull", seeded_n, nblocks)
    theta = seed_scores[-1]
    surv_mask = (
        ub >= theta if others_ub is None else ub + others_ub >= theta
    )
    n_surv = int(surv_mask.sum())
    if gates and n_surv > WAND_MAX_SURVIVOR_FRAC * nblocks:
        return finish(None, "exhaustive_post_theta", seeded_n, nblocks)
    return finish(np.nonzero(surv_mask)[0], "wand", seeded_n, n_surv)


def rank_terms_wand(
    index,
    terms: list[str],
    k: int = 10,
    stats: dict | None = None,
    gates: bool = True,
) -> DataFrame:
    """Block-max WAND top-k over a term set (blocks mode) — score-safe.

    Per-block score upper bound from the stored impact frontier (the
    block's Pareto-maximal (doc tf, doc dl) pairs, operators/build.py):

        ub = idf(term) · max_i tfn(imp_tf[i], imp_dl[i])

    evaluated at the live avgdl — the EXACT maximum score any doc in
    the block can contribute (impact tf sums a doc's fields and blocks
    never split a doc; impact dl lower-bounds the true dl, and tfn is
    ↓ in dl, so multi-field bounds only over-estimate). Blocks without
    impacts (legacy segments) fall back to the dl→0 majorization
    tfn(max_tf, 0). Two phases:

    1. SEED: single-term queries decode the highest-ub blocks.
       Multi-term queries seed BY CELL: the top grid cells by combined
       per-cell bound, decoding every query term's blocks that touch
       them — a doc inside a seed cell therefore gets its COMPLETE
       multi-term score (each of its term-blocks touches its cell),
       which puts θ at the true combined-score level. (Seeding by
       individual blocks leaves seeded docs missing the other terms'
       contributions, θ lands a term's share low, and nothing prunes.)
       All seed scores are exact or underestimates, so θ ≤ the true
       k-th score — conservative, never unsafe.
    2. PRUNE with doc-range-grid residuals (classic block-max WAND
       alignment): doc ids are dense 0..n_docs-1, so a fixed grid of
       GRID_CELLS cells of width A = ⌈n_docs / GRID_CELLS⌉ covers the
       corpus, and each block maps to the cells its [first_doc,
       last_doc] span touches. For any doc d in cell c and term u,
       contrib_u(d) ≤ gub(u, c) := max ub over u's blocks touching c.
       Keep block b of term t iff
           ub_t(b) + max_{c ∈ cells(b)} Σ_{u≠t} gub(u, c) ≥ θ
       — a pruned block's every doc d sits in some cell c with total
       score ≤ ub_t + Σ_{u≠t} gub(u, c) < θ ≤ true k-th score, so no
       true top-k doc ever loses a contribution. Decode survivors,
       score exactly, take top-k. The cell-local residual is strictly
       tighter than a global Σ ubmax (gub ≤ ubmax, and 0 in cells
       where the other term has no postings at all), which is what
       lets same-grade multi-term OR queries prune. The explode is
       bounded by construction: per term, blocks are doc-disjoint, so
       Σ_b cells(b) ≤ GRID_CELLS + n_blocks(term) — linear metadata
       work at any corpus size.

    Verified rank-identical to the exhaustive scorer in tests
    (test_wand.py), including multi-field compound indexes (impact
    frontiers required — no-impacts multi-field indexes raise and
    rank_query routes them to the exhaustive path).

    Cost gates (routing only — every route returns exact ranks): Gate A
    skips seed/grid for candidate sets ≤ 2× the seed budget; Gate P
    (multi-term) counts best-case survivors at θ_cap = the top cell's
    combined bound before any payload decode and routes unprunable
    queries (same-grade hot pairs) to the one-job full decode; Gate B
    re-checks the measured survivor fraction after θ. All three read
    only the persisted block-metadata cache.

    ``stats``, when given, receives {"n_blocks": total candidate blocks,
    "n_blocks_seeded": DISTINCT blocks decoded by the seed phase,
    "n_blocks_decoded": blocks decoded by the final pass, "route": which
    gate routed ("wand" | "exhaustive_small" | "exhaustive_unprunable" |
    "exhaustive_underfull" | "exhaustive_post_theta"), "driver_decode":
    whether every payload decode of the call ran on the driver
    (score_blocks_local) rather than in Spark} for prune-ratio
    reporting off the persisted candidate-block cache.

    Scale shape: the residual side (per-(cell, term) maxima) is block
    METADATA — ~1 row per 4096 occurrences, explode-bounded by the
    grid — aggregated once and broadcast back onto the block set; no
    payload is touched before the survivor decode.
    """
    manifest = getattr(index, "manifest", None)
    mtype = manifest["type"] if manifest else {}
    if mtype.get("n_fields", 1) != 1 and not mtype.get("block_impacts"):
        raise ValueError(
            "block-max WAND on a multi-field index requires impact "
            "frontiers (per-(doc,field) max_tf is unsafe when a doc's "
            "tf splits across fields) — rebuild, or use the exhaustive path"
        )
    n_docs, avgdl = index.collection_stats()
    avgdl = avgdl or 1.0  # empty index: avoid a 0-division in the bound
    # driver-resident control plane when the candidate block METADATA
    # fits the driver budget (the common interactive case); the
    # distributed plane below is the same algorithm for over-budget
    # term sets and handles without local file access
    meta_fn = getattr(index, "local_block_meta", None)
    meta = meta_fn(terms, with_impacts=True) if meta_fn is not None else None
    if meta is not None:
        return _rank_wand_driver_cp(
            index, terms, k, stats, gates, meta, n_docs, avgdl
        )
    dictionary = index.dictionary().where(F.col("term").isin(terms))
    blocks = index.blocks(exact_terms=terms).join(F.broadcast(dictionary), "term")
    # exact impact bound when the frontier exists; dl→0 majorization
    # otherwise (array_max over an empty/null array yields null)
    k1, b = BM25_K1, BM25_B
    imp_tfn = F.array_max(
        F.zip_with(
            "imp_tf",
            "imp_dl",
            lambda tf, dl: tf.cast("double")
            * (k1 + 1.0)
            / (
                tf.cast("double")
                + k1 * (1.0 - b + b * dl.cast("double") / F.lit(avgdl))
            ),
        )
        if "imp_tf" in blocks.columns
        else F.lit(None).cast("array<double>")
    )
    fallback_tfn = (
        F.col("max_tf") * (k1 + 1.0) / (F.col("max_tf") + k1 * (1.0 - b))
    )
    ub = _idf_col(n_docs) * F.coalesce(imp_tfn, fallback_tfn)
    blocks = blocks.withColumn("ub", ub).persist()
    try:
        agg = (
            blocks.groupBy("term")
            .agg(F.max("ub").alias("m"), F.count("*").alias("n"))
            .collect()
        )
        ubmax = {r["term"]: r["m"] for r in agg}
        n_total = sum(r["n"] for r in agg)
        if not ubmax:
            return index.spark.createDataFrame([], "doc_id long, score double")
        block_cols = ["term", "payload"]

        def exact_scores(bdf) -> DataFrame:
            return _wand_exact_scores(
                index, dictionary, n_docs, avgdl, bdf.select(*block_cols),
                single_term=len(set(terms)) == 1,
            )

        def finish(bdf, route: str, n_seeded: int, n_decoded: int) -> DataFrame:
            if stats is not None:
                stats["n_blocks"] = n_total
                stats["n_blocks_seeded"] = min(n_seeded, n_total)
                stats["n_blocks_decoded"] = n_decoded
                stats["route"] = route
                stats["driver_decode"] = False
            return (
                exact_scores(bdf)
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .limit(k)
            )

        n_seed = max(k, WAND_SEED_BLOCKS)
        # Gate A: candidate set at/below ~2 seed budgets — the seed
        # phase would decode a comparable share anyway; one decode job
        # beats seed + θ + prune round-trips (the 3-block skew case).
        # The seed round-trip's fixed job cost is priced in block units
        # on top (VERDICT r5 #2). ``gates=False`` (tests) exercises the
        # pruning machinery on fixture-sized corpora the gates would
        # route around.
        if gates and n_total <= 2 * n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS:
            return finish(blocks, "exhaustive_small", 0, n_total)
        cells = gub = tot = others = None
        seeded_n = n_seed
        if len(ubmax) == 1:
            seed = blocks.orderBy(F.desc("ub")).limit(n_seed)
        else:
            # doc-range-grid metadata (see docstring), shared by the
            # seed and prune phases; all projections of the persisted
            # candidate-block cache. Cell width covers the doc-ID SPAN
            # (manifest high water), not n_docs — preassigned sparse
            # ids would otherwise explode millions of cells per block.
            cell_w = max(1, -(-_id_span(index, n_docs) // GRID_CELLS))
            cells = blocks.select(
                "term",
                "first_doc",
                "ub",
                F.explode(
                    F.sequence(
                        (F.col("first_doc") / cell_w).cast("long"),
                        (F.col("last_doc") / cell_w).cast("long"),
                    )
                ).alias("cell"),
            )
            gub = cells.groupBy("cell", "term").agg(F.max("ub").alias("gub"))
            tot = gub.groupBy("cell").agg(F.sum("gub").alias("tot_gub"))
            # per (block, term): the best cell's other-terms sum;
            # (term, first_doc) is a unique block key (a term's
            # blocks never overlap in doc range, across segments)
            others = (
                cells.join(gub, ["cell", "term"])
                .join(tot, "cell")
                .groupBy("term", "first_doc")
                .agg(F.max(F.col("tot_gub") - F.col("gub")).alias("others_ub"))
            )
            # Gate P: predicted payoff check BEFORE any payload decode.
            # θ can never exceed θ_cap = the top cell's combined bound
            # (a doc's score ≤ Σ_u gub(u, its cell)); hot tf-saturated
            # pairs land their real θ just under it, so survivors at
            # the WAND_THETA_EST_FRAC·θ_cap estimate predict the real
            # decode set. Same-grade hot term pairs (narrow ub bands)
            # bottom out near 100% here — route them to the one-job
            # exhaustive decode instead of paying seed + grid
            # round-trips to prune ~0 (round-3: q_bm25_or decoded
            # 1961/1965 blocks through full WAND and lost 3x).
            if gates:
                # one metadata job: θ_cap rides in as a broadcast 1-row
                # aggregate instead of its own collect round-trip
                cap = tot.agg(
                    (F.max("tot_gub") * WAND_THETA_EST_FRAC).alias(
                        "theta_est"
                    )
                )
                n_floor = (
                    blocks.join(F.broadcast(others), ["term", "first_doc"])
                    .crossJoin(F.broadcast(cap))
                    .where(
                        F.col("ub") + F.col("others_ub")
                        >= F.col("theta_est")
                    )
                    .count()
                )
                if (
                    n_floor > WAND_MAX_SURVIVOR_FRAC * n_total
                    or n_total - n_floor
                    <= n_seed + WAND_ROUNDTRIP_OVERHEAD_BLOCKS
                ):
                    return finish(blocks, "exhaustive_unprunable", 0, n_total)
            # SEED BY CELLS, not by blocks: decode every term's blocks
            # touching the top cells by combined bound, so each doc in
            # a seed cell gets its COMPLETE multi-term score (its block
            # for every query term touches the doc's cell). Per-block
            # seeding gives seeded docs only one term's contribution,
            # so θ lands a whole term's share low and nothing prunes.
            cell_counts = (
                cells.groupBy("cell")
                .agg(F.count("*").alias("nb"))
                .join(tot, "cell")
                # cell-asc tiebreak: the driver plane breaks tot_gub
                # ties with a stable argsort by cell index, so the
                # distributed twin must too — otherwise seed-cell picks
                # (and seeded counts) diverge between planes on ties
                # (ADVICE r5; ranks stay exact either way)
                .orderBy(F.desc("tot_gub"), F.asc("cell"))
                .limit(64)
                .collect()
            )
            picked, budget = [], 0
            for r in cell_counts:
                picked.append(r["cell"])
                budget += r["nb"]
                if budget >= n_seed:
                    break
            seed_keys = (
                cells.where(F.col("cell").isin(picked))
                .select("term", "first_doc")
                .distinct()
            )
            seed = blocks.join(F.broadcast(seed_keys), ["term", "first_doc"])
            # distinct block count, not (block, cell) incidences
            # (ADVICE r3 low: budget overcounted multi-cell blocks)
            seeded_n = seed_keys.count() if stats is not None else budget
        seed_scores = (
            exact_scores(seed).orderBy(F.desc("score")).limit(k).collect()
        )
        if len(seed_scores) < k:
            # not enough candidates to prune safely
            return finish(blocks, "exhaustive_underfull", seeded_n, n_total)
        theta = seed_scores[-1]["score"]
        if len(ubmax) == 1:
            # single term: no other-term residual — pure block-max
            survivors = blocks.where(F.col("ub") >= F.lit(theta))
        else:
            survivors = blocks.join(
                F.broadcast(others), ["term", "first_doc"]
            ).where(F.col("ub") + F.col("others_ub") >= F.lit(theta))
        # Gate B: measured payoff. A survivor set over half the
        # candidates decodes as much as the plain path WITH the extra
        # residual join riding on every decoded block — drop to the
        # straight full decode. The count is metadata-only over the
        # persisted cache (no payload touched).
        if gates or stats is not None:
            n_surv = survivors.count()
            if gates and n_surv > WAND_MAX_SURVIVOR_FRAC * n_total:
                return finish(
                    blocks, "exhaustive_post_theta", seeded_n, n_total
                )
        else:
            n_surv = -1  # uncounted (gates off, no stats requested)
        return finish(survivors, "wand", seeded_n, n_surv)
    finally:
        blocks.unpersist()
