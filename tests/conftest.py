import pytest

from fulltextsearch_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "fts-tests",
        cores=4,
        shuffle_partitions=4,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pms_index_roots(spark, tmp_path_factory):
    """Build the reference golden corpus index in both storage modes and
    all three incremental segment states (SearchTest.cs:32-42)."""
    from fulltextsearch_spark.sources.index_io import build_index
    from fulltextsearch_spark.sources.pages import pms_corpus_pages

    roots = {}
    for mode in ("arrays", "blocks", "groupvarint", "packedints", "binary"):
        root = str(tmp_path_factory.mktemp(f"pms_{mode}"))
        for seg in (1, 2, 3):
            build_index(
                spark,
                pms_corpus_pages(spark, (seg,)),
                root,
                mode=mode,
                input_desc=f"pms_corpus segment {seg}",
            )
        roots[mode] = root
    return roots


@pytest.fixture(scope="session")
def synth_blocks_idx(spark, tmp_path_factory):
    """400-doc synthetic Zipf corpus (pages.synth_pages), blocks mode:
    doc i has id i + 1 and text pages.synth_doc(i)."""
    from fulltextsearch_spark.sources.index_io import Index, build_index
    from fulltextsearch_spark.sources.pages import synth_pages

    root = str(tmp_path_factory.mktemp("wand_idx"))
    build_index(spark, synth_pages(spark, 400), root, mode="blocks")
    return Index.open(spark, root)


@pytest.fixture(params=["fast", "spark"])
def fast_path(request, monkeypatch):
    """Run a test with the driver-side fast path on ("fast") and off
    ("spark": FTS_NO_LOCAL_FAST_PATH=1, so every ranked decode runs in
    Spark). Handles must be opened inside the test."""
    if request.param == "spark":
        monkeypatch.setenv("FTS_NO_LOCAL_FAST_PATH", "1")
    return request.param
