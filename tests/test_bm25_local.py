"""Driver-side BM25 scoring (operators/bm25.score_blocks_local): flat
ranked queries whose candidate blocks fit LOCAL_FAST_MAX_OCC decode and
score on the driver. Every case runs with the fast path on and off
(the ``fast_path`` fixture) and must match the pure-Python oracle and
the Spark scorer (rank_query_exhaustive) — ranks exactly, scores to
1e-9."""

import datetime

import numpy as np
import pytest

from fulltextsearch_spark.oracle.pyoracle import OracleIndex, corpus_oracle
from fulltextsearch_spark.operators.bm25 import rank_query_exhaustive
from fulltextsearch_spark.sources import index_io
from fulltextsearch_spark.sources.index_io import Index, build_index
from fulltextsearch_spark.sources.pages import synth_doc, synth_pages

EPOCH = datetime.datetime(2020, 1, 1, tzinfo=datetime.timezone.utc)


def _driver_scored(df) -> bool:
    """A driver-scored top-k is a bare local relation: no scan, no job.
    (The Spark scorer may read small legs from local relations too, but
    under a join/aggregate/top-k plan.)"""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.startswith("LocalTableScan")


def _check(idx, oracle, query, k, driver: bool | None = None):
    df = idx.rank(query, k)
    got = [(r["doc_id"], r["score"]) for r in df.collect()]
    want = oracle.rank(query, k)
    assert [d for d, _ in got] == [d for d, _ in want], query
    for (d, s1), (_, s2) in zip(got, want):
        assert s1 == pytest.approx(s2, rel=1e-9), (query, d)
    spark_rows = rank_query_exhaustive(idx, query, k).collect()
    assert [d for d, _ in got] == [r["doc_id"] for r in spark_rows], query
    for (_, s1), r in zip(got, spark_rows):
        assert s1 == pytest.approx(r["score"], rel=1e-9, abs=1e-12), query
    if driver is not None:
        assert _driver_scored(df) == driver, query
    return got


@pytest.fixture(scope="module")
def two_segment_root(spark, tmp_path_factory):
    """synth docs 0-149 (seed 42) committed, then an append of 150 more
    (seed 43): doc ids 1-150 and 151-300."""
    root = str(tmp_path_factory.mktemp("local_rank_2seg"))
    build_index(spark, synth_pages(spark, 150), root, mode="blocks")
    build_index(spark, synth_pages(spark, 150, seed=43), root, mode="blocks")
    texts = {i + 1: synth_doc(i) for i in range(150)}
    texts.update({151 + i: synth_doc(i, 43) for i in range(150)})
    return root, corpus_oracle(texts)


@pytest.mark.parametrize(
    "query,k",
    [
        ("WORD(t0)", 10),
        ("WORD(t17)", 5),
        ("OR(WORD(t3),WORD(t11),WORD(t250))", 10),
        ("WORD(zmarkerz)", 10),  # k > matches
        ("OR(WORD(t40),WORD(nosuchterm))", 1000),  # k > matches
        ("WORD(nosuchterm)", 5),  # absent term
    ],
)
def test_rank_multi_segment_after_append(
    spark, two_segment_root, fast_path, query, k
):
    root, oracle = two_segment_root
    idx = Index.open(spark, root)
    assert len(idx.manifest["segments"]) == 2
    got = _check(idx, oracle, query, k, driver=fast_path == "fast")
    if query.startswith("WORD(zmarkerz)"):
        assert 0 < len(got) < k


def test_collection_stats_from_doc_lengths(spark, two_segment_root, monkeypatch):
    """The driver doc-length vector gives (N, avgdl) bit-identical to
    Spark's count/avg over doc_stats, with no Spark job."""
    root, oracle = two_segment_root
    sc = spark.sparkContext
    sc.setJobGroup("local-stats", "local-stats")
    try:
        local = Index.open(spark, root).collection_stats()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup("local-stats") == []
    monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    via_spark = Index.open(spark, root).collection_stats()
    assert local == via_spark
    assert local[0] == 300 == len(oracle.doc_len)


@pytest.fixture(scope="module")
def compound_local(spark, tmp_path_factory):
    """Two-field (title, body) index: per-doc tf sums the fields."""
    root = str(tmp_path_factory.mktemp("local_rank_compound"))
    rng = np.random.default_rng(5)
    rows, oracle = [], OracleIndex()
    for i in range(200):
        title = " ".join(f"t{t}" for t in rng.integers(0, 20, rng.integers(2, 6)))
        body = " ".join(f"t{t}" for t in rng.integers(0, 200, rng.integers(10, 60)))
        rows.append((f"c{i:05d}", title, body))
        oracle.add(i + 1, title, 1)
        oracle.add(i + 1, body, 2)
    docs = spark.createDataFrame(rows, "url string, title string, body string")
    build_index(spark, docs, root, mode="blocks", field_cols=["title", "body"])
    return root, oracle


@pytest.mark.parametrize(
    "query", ["WORD(t1)", "OR(WORD(t0),WORD(t5))", "OR(WORD(t3),WORD(t150))"]
)
def test_rank_multi_field(spark, compound_local, fast_path, query):
    root, oracle = compound_local
    idx = Index.open(spark, root)
    assert idx.manifest["type"]["n_fields"] == 2
    _check(idx, oracle, query, 10, driver=fast_path == "fast")


def test_rank_sparse_preassigned_ids(spark, tmp_path, fast_path):
    """Doc ids ~1e7 apart: the doc-length lookup is by id, not by
    position."""
    rows, texts = [], {}
    for i in range(120):
        term = "sa" if i % 2 == 0 else "sb"
        text = f"{term} " + " ".join(f"f{i}x{j}" for j in range(i % 13 + 2))
        doc_id = 1 + i * 10_000_000
        rows.append((doc_id, f"s{i:05d}", EPOCH, text, "en"))
        texts[doc_id] = text
    pages = spark.createDataFrame(
        rows, "doc_id long, url string, warc_ts timestamp, text string, lang string"
    )
    root = str(tmp_path / "sparse")
    build_index(spark, pages, root, mode="blocks", preassigned_ids=True)
    idx = Index.open(spark, root)
    oracle = corpus_oracle(texts)
    for query in ("WORD(sa)", "OR(WORD(sa),WORD(sb))"):
        _check(idx, oracle, query, 10, driver=fast_path == "fast")


def test_rank_equal_scores_break_ties_by_doc_id(spark, tmp_path, fast_path):
    """Identical docs score identically; the top-k orders them by
    ascending doc_id, on both scorers."""
    rows, texts = [], {}
    for i in range(60):
        text = "tie tie other words here" if i % 3 == 0 else f"tie filler{i} " * 3
        rows.append((f"u{i:05d}", EPOCH, b"", text, "en"))
        texts[i + 1] = text
    from fulltextsearch_spark.sources.pages import PAGES_SCHEMA

    root = str(tmp_path / "ties")
    build_index(spark, spark.createDataFrame(rows, PAGES_SCHEMA), root, mode="blocks")
    idx = Index.open(spark, root)
    got = _check(
        idx, corpus_oracle(texts), "WORD(tie)", 7, driver=fast_path == "fast"
    )
    assert len({s for _, s in got}) == 1  # all seven tie
    assert [d for d, _ in got] == sorted(d for d, _ in got)


def test_over_budget_falls_back_to_spark(spark, synth_blocks_idx, monkeypatch):
    """Candidate blocks over LOCAL_FAST_MAX_OCC decode in Spark, with
    the same ranks as the driver-scored query."""
    oracle = corpus_oracle({i + 1: synth_doc(i) for i in range(400)})
    query = "OR(WORD(t0),WORD(t500))"
    fast = _check(
        Index.open(spark, synth_blocks_idx.root), oracle, query, 10, driver=True
    )
    monkeypatch.setattr(index_io, "LOCAL_FAST_MAX_OCC", 100)
    capped = _check(
        Index.open(spark, synth_blocks_idx.root), oracle, query, 10, driver=False
    )
    assert capped == fast


def test_driver_caches_stay_bounded(spark, synth_blocks_idx):
    """100 distinct term sets on one handle leave every per-handle memo
    dict at most LOCAL_CACHE_ENTRIES entries."""
    idx = Index.open(spark, synth_blocks_idx.root)
    for i in range(100):
        terms = [f"t{i}", f"t{i + 101}", f"t{3 * i + 7}"]
        idx.local_block_meta(terms)
        idx.postings(exact_terms=terms)
        idx.term_doc_ids(terms[0])
        idx.block_doc_ranges(terms[0])
        idx.rank("OR(" + ",".join(f"WORD({t})" for t in terms) + ")", 3)
    caches = {
        name: getattr(idx, name)
        for name in (
            "_range_cache",
            "_blockmeta_cache",
            "_docids_cache",
            "_local_ds_cache",
            "_local_occ_cache",
            "_local_pdf_cache",
        )
    }
    assert all(
        len(c) <= index_io.LOCAL_CACHE_ENTRIES for c in caches.values()
    ), {k: len(c) for k, c in caches.items()}
    # the cap engaged: more distinct keys than entries were inserted
    assert len(caches["_blockmeta_cache"]) == index_io.LOCAL_CACHE_ENTRIES


def test_cache_put_concurrent_inserts_stay_bounded():
    """Concurrent queries share a handle: inserts racing evictions from
    more threads than cores neither raise nor overshoot the cap."""
    import sys
    import threading

    idx = Index(spark=None, root="unused", manifest={})
    errors = []

    def insert(worker: int):
        try:
            for i in range(2000):
                idx._cache_put(idx._blockmeta_cache, (worker, i), i)
                assert len(idx._blockmeta_cache) <= index_io.LOCAL_CACHE_ENTRIES
        except Exception as e:  # collected and asserted below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=insert, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(idx._blockmeta_cache) == index_io.LOCAL_CACHE_ENTRIES
