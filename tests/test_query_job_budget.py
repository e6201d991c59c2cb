"""Interactive-query floor: repeated small queries must not fan out
into extra Spark jobs (VERDICT r2 #4). Per-handle memoization (table
handles, the persisted dictionary, term dfs, pattern expansions) makes
every query after the first on a handle run in:

  WORD  1 job   (TakeOrderedAndProject collect — no sort-sampling job)
  SEQ   <= 2 jobs
  WILD  <= 2 jobs

First-run budgets are looser: they pay one-time handle warm-up (parquet
footer/schema resolution per segment table, dictionary persist
materialization) that amortizes across the handle's lifetime — the
steady-state number is the interactive floor. Job counts come from the
status tracker under a per-query job group."""

import pytest

from fulltextsearch_spark.sources.index_io import Index


def _jobs_for(spark, tag: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="module")
def idx(spark, pms_index_roots):
    return Index.open(spark, pms_index_roots["blocks"])


def test_word_query_job_budget(spark, idx):
    first = _jobs_for(
        spark, "budget-word-1", lambda: idx.search("WORD(this)").limit(100).collect()
    )
    assert 1 <= first <= 6, first  # one-time table-handle warm-up
    again = _jobs_for(
        spark, "budget-word-2", lambda: idx.search("WORD(this)").limit(100).collect()
    )
    assert again == 1, again


def test_seq_query_job_budget(spark, idx):
    q = "SEQ(WORD(test),WORD(document))"
    first = _jobs_for(
        spark, "budget-seq-1", lambda: idx.search(q).limit(100).collect()
    )
    assert 1 <= first <= 10, first  # dictionary persist + df lookup warm-up
    again = _jobs_for(
        spark, "budget-seq-2", lambda: idx.search(q).limit(100).collect()
    )
    assert again <= 2, again  # term dfs memoized


def test_local_fast_path_zero_jobs(spark, idx):
    """Driver-side fast path (VERDICT r3 #3): a bucket-pruned exact-term
    posting read below LOCAL_FAST_MAX_OCC resolves with pyarrow on the
    driver — ZERO Spark jobs for the read itself — and the end-to-end
    search needs only the single local-relation collect job."""
    jobs = _jobs_for(
        spark, "fast-read", lambda: idx.postings(exact_terms=["this"])
    )
    assert jobs == 0, jobs
    # end-to-end: plan + collect over the local relation
    got = _jobs_for(
        spark,
        "fast-search",
        lambda: idx.search("WORD(this)").limit(100).collect(),
    )
    assert got <= 1, got


def test_local_fast_path_matches_distributed(spark, pms_index_roots, monkeypatch):
    """Fast-path rows are identical to the distributed decode, and a
    term over the occurrence cap falls back to the Spark path."""
    from fulltextsearch_spark.sources import index_io

    idx_fast = Index.open(spark, pms_index_roots["blocks"])
    fast = sorted(
        (r["term"], r["doc_id"], r["field_id"], list(r["positions"]), r["tf"])
        for r in idx_fast.postings(exact_terms=["this", "test"]).collect()
    )
    monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    idx_dist = Index.open(spark, pms_index_roots["blocks"])
    dist = sorted(
        (r["term"], r["doc_id"], r["field_id"], list(r["positions"]), r["tf"])
        for r in idx_dist.postings(exact_terms=["this", "test"]).collect()
    )
    assert fast == dist and fast
    monkeypatch.delenv("FTS_NO_LOCAL_FAST_PATH")
    # over-cap terms must route to the distributed scan (plan has a scan)
    monkeypatch.setattr(index_io, "LOCAL_FAST_MAX_OCC", 0)
    idx_cap = Index.open(spark, pms_index_roots["blocks"])
    df = idx_cap.postings(exact_terms=["this"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan or "FileScan" in plan
    capped = sorted(
        (r["term"], r["doc_id"], r["field_id"], list(r["positions"]), r["tf"])
        for r in df.collect()
    )
    assert capped == sorted(t for t in fast if t[0] == "this")


def test_local_fast_path_min_doc_seek(spark, idx):
    """min_doc lower-bound seek applies on the driver-side decode too."""
    full = idx.postings(exact_terms=["this"]).collect()
    assert len(full) >= 2
    cut = sorted(r["doc_id"] for r in full)[1]
    seek = idx.postings(exact_terms=["this"], min_doc=cut).collect()
    assert sorted(r["doc_id"] for r in seek) == sorted(
        r["doc_id"] for r in full if r["doc_id"] >= cut
    )


def test_wild_query_job_budget(spark, idx):
    first = _jobs_for(
        spark, "budget-wild-1", lambda: idx.search("WILD(te*)").limit(100).collect()
    )
    assert 1 <= first <= 6, first
    again = _jobs_for(
        spark, "budget-wild-2", lambda: idx.search("WILD(te*)").limit(100).collect()
    )
    assert again <= 2, again  # expansion memoized


def test_small_ranked_queries_run_no_spark_job(spark, synth_blocks_idx):
    """Flat ranked queries whose candidate blocks fit LOCAL_FAST_MAX_OCC
    are decoded and scored on the driver (score_blocks_local) and
    collected from a local relation: zero Spark jobs, even on a fresh
    handle (N and avgdl come from the driver doc-length vector) — for
    Index.rank below WAND_MIN_DOCS and for both WAND decode passes."""
    from fulltextsearch_spark.operators.bm25 import rank_terms_wand

    idx = Index.open(spark, synth_blocks_idx.root)
    word = _jobs_for(
        spark, "rank-word", lambda: idx.rank("WORD(t17)", 5).collect()
    )
    assert word == 0, word
    stats: dict = {}
    wand = _jobs_for(
        spark,
        "rank-wand",
        lambda: rank_terms_wand(
            idx, ["t0", "t500"], 5, stats=stats, gates=False
        ).collect(),
    )
    assert wand == 0, wand
    assert stats["route"] == "wand" and stats["driver_decode"], stats
    absent = _jobs_for(
        spark, "rank-absent", lambda: idx.rank("WORD(nosuchterm)", 5).collect()
    )
    assert absent == 0, absent
