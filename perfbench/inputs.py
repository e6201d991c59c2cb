"""Seeded input generators of the benchmark.

The benchmark owns these generators, so a change to the program cannot
change its inputs: the program only ever sees the materialized parquet.
Text is webtext-shaped: a Zipf(1.07) vocabulary of 50,000 terms
``t<rank>``, lognormal document lengths (median about 150 tokens) and a
rare marker term in 0.5% of documents.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 50_000
ZIPF_S = 1.07
MARKER = "zmarkerz"
VOCAB = np.array([f"t{i}" for i in range(VOCAB_SIZE)] + [MARKER], dtype=object)
MARKER_ID = VOCAB_SIZE
_CDF = np.cumsum(1.0 / np.power(np.arange(1, VOCAB_SIZE + 1), ZIPF_S))
_CDF /= _CDF[-1]


@dataclass
class Corpus:
    """Token ids of every document, concatenated, with document offsets.

    Document ``i`` (0-based) holds ``tokens[offsets[i]:offsets[i + 1]]``;
    its engine doc id is ``first_id + i`` because the urls sort in
    generation order and the engine assigns dense ids in url order.
    """

    tokens: np.ndarray
    offsets: np.ndarray
    texts: list[str]
    urls: list[str]
    first_id: int = 1

    @property
    def n_docs(self) -> int:
        return len(self.texts)

    def doc_tokens(self, i: int) -> np.ndarray:
        return self.tokens[self.offsets[i] : self.offsets[i + 1]]

    def text_bytes(self) -> int:
        return sum(len(t.encode("utf-8")) for t in self.texts)

    def term_df_cf(self) -> tuple[np.ndarray, np.ndarray]:
        """Per vocabulary id: documents containing it, occurrences."""
        cf = np.bincount(self.tokens, minlength=len(VOCAB))
        doc_of = np.repeat(np.arange(self.n_docs), np.diff(self.offsets))
        pairs = np.unique(doc_of.astype(np.int64) * len(VOCAB) + self.tokens)
        df = np.bincount(pairs % len(VOCAB), minlength=len(VOCAB))
        return df, cf


def _texts(tokens: np.ndarray, offsets: np.ndarray) -> list[str]:
    words = VOCAB[tokens]
    return [" ".join(words[a:b]) for a, b in zip(offsets[:-1], offsets[1:])]


def webtext(
    rng: np.random.Generator, n_docs: int, url_prefix: str, first_id: int = 1
) -> Corpus:
    """``n_docs`` Zipf-vocabulary pages with lognormal lengths."""
    lens = np.clip(rng.lognormal(5.0, 0.6, n_docs), 10, 2000).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    tokens = np.searchsorted(_CDF, rng.random(int(offsets[-1]))).astype(np.int64)
    marked = np.nonzero(rng.random(n_docs) < 0.005)[0]
    tokens[offsets[marked] + lens[marked] // 2] = MARKER_ID
    urls = [f"{url_prefix}/{i:09d}" for i in range(n_docs)]
    return Corpus(tokens, offsets, _texts(tokens, offsets), urls, first_id)


def with_near_duplicates(
    rng: np.random.Generator, base: Corpus, dup_share: float, edit_frac: float
) -> tuple[Corpus, int]:
    """Replace a ``dup_share`` of ``base`` with edited copies of the rest.

    Copies attach to source documents with Zipf(1.1) weights, so cluster
    sizes are skewed; each copy re-draws ``edit_frac`` of its tokens.
    Returns the corpus (documents shuffled) and the largest cluster size.
    """
    n = base.n_docs
    n_copies = int(n * dup_share)
    n_src = n - n_copies
    pool = max(1, n_copies // 4)
    weights = 1.0 / np.power(np.arange(1, pool + 1), 1.1)
    src = rng.choice(n_src, size=pool, replace=False)[
        rng.choice(pool, size=n_copies, p=weights / weights.sum())
    ]
    docs = [base.doc_tokens(i) for i in range(n_src)]
    for s in src:
        copy = docs[s].copy()
        edits = rng.random(len(copy)) < edit_frac
        copy[edits] = np.searchsorted(_CDF, rng.random(int(edits.sum())))
        docs.append(copy)
    order = rng.permutation(n)
    docs = [docs[i] for i in order]
    lens = np.array([len(d) for d in docs], dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    tokens = np.concatenate(docs)
    largest = 1 + int(np.bincount(src).max()) if n_copies else 1
    urls = [f"{base.urls[0].rsplit('/', 1)[0]}/{i:09d}" for i in range(n)]
    return Corpus(tokens, offsets, _texts(tokens, offsets), urls, base.first_id), largest


def write_pages(corpus: Corpus, path: str, n_files: int = 8) -> None:
    """Materialize as parquet in the ``pages`` shape the engine reads."""
    n = corpus.n_docs
    ts = pa.array(
        np.datetime64("2017-07-01T00:00:00", "us")
        + np.arange(n).astype("timedelta64[s]")
    )
    table = pa.table(
        {
            "url": corpus.urls,
            "warc_ts": ts,
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in corpus.texts],
            "text": corpus.texts,
            "lang": ["en"] * n,
        }
    )
    _write(table, path, n_files)


def write_documents(corpus: Corpus, path: str, n_files: int = 8) -> None:
    """Materialize as ``(doc_id, text)`` parquet, ids ``first_id + i``."""
    n = corpus.n_docs
    ids = np.arange(corpus.first_id, corpus.first_id + n, dtype=np.int64)
    _write(pa.table({"doc_id": ids, "text": corpus.texts}), path, n_files)


def _write(table: pa.Table, path: str, n_files: int) -> None:
    """``table`` as ``n_files`` parquet files in the new directory ``path``."""
    os.makedirs(path)
    step = -(-table.num_rows // n_files)
    for f, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step), os.path.join(path, f"part-{f:03d}.parquet"))


# --- query streams -------------------------------------------------------


def _word(t: str) -> str:
    return f"WORD({t})"


# One round of the query stream, by kind: 6 ``bool`` (2 of them, mid
# and rare WORD, take the driver fast path), 1 ``expand`` and 2 ``rank``
# kinds. Every round issues each kind once, so every run measures the
# same mix; the hot WORD is one query and repeats in every round.
ROUND = (
    "word_hot", "rank_word", "wild_q", "word_mid", "and", "rank_or_skew",
    "seq", "word_rare", "or",
)
def query_pools(
    rng: np.random.Generator, corpus: Corpus, pool_size: int = 8
) -> dict[str, tuple[str, list[str]]]:
    """Seeded pool of queries per kind: ``kind -> (class, queries)``.

    Tiers are narrow bands of rank by the corpus's own collection
    frequency, so a kind costs about the same whatever the seed draws
    (a term's frequency varies by at most 1.7x within a band): ``hot``
    the top term, ``upper`` 15-25 (dense enough for AND and SEQ to
    match), ``mid`` 140-160 and ``rare`` at most three occurrences.
    WILD patterns take a mid term of ranks 100-200 with its last digit
    replaced by ``?``: the narrow band holds too few distinct prefixes.
    """
    _, cf = corpus.term_df_cf()
    order = np.argsort(-cf, kind="stable")
    order = order[cf[order] > 0]
    rank = np.full(len(VOCAB), len(VOCAB))
    rank[order] = np.arange(len(order))
    terms = [str(VOCAB[i]) for i in order]
    hot, upper, mid, wide_mid = terms[0], terms[15:25], terms[140:160], terms[100:200]
    rare = [str(VOCAB[i]) for i in order if cf[i] <= 3 and i != MARKER_ID] + [MARKER]

    def pick(tier: list[str], k: int = 1) -> list[str]:
        return [str(t) for t in rng.choice(tier, size=k, replace=False)]

    def pool(fn) -> list[str]:
        """Up to ``pool_size`` distinct queries; a narrow tier may hold fewer."""
        qs: list[str] = []
        for _ in range(20 * pool_size):
            q = fn()
            if q not in qs:
                qs.append(q)
            if len(qs) == pool_size:
                break
        return qs

    def two(a: list[str], b: list[str]) -> tuple[str, str]:
        x, y = pick(a)[0], pick(b)[0]
        return (x, y) if x != y else two(a, b)

    def phrase() -> str:
        """An adjacent pair of ``upper`` terms that occurs in the corpus."""
        in_upper = (rank >= 15) & (rank < 25)
        while True:
            toks = corpus.doc_tokens(int(rng.integers(corpus.n_docs)))
            lead = np.nonzero(in_upper[toks[:-1]] & in_upper[toks[1:]])[0]
            if len(lead):
                p = int(rng.choice(lead))
                a, b = str(VOCAB[toks[p]]), str(VOCAB[toks[p + 1]])
                if a != b and MARKER not in (a, b):
                    return f"SEQ({_word(a)},{_word(b)})"

    def or_of(a: list[str], b: list[str]) -> str:
        return "OR({},{})".format(*map(_word, two(a, b)))

    def and_of(a: list[str], b: list[str]) -> str:
        return "AND({},{})".format(*map(_word, two(a, b)))

    return {
        "word_hot": ("bool", [_word(hot)]),
        "word_mid": ("bool", pool(lambda: _word(pick(mid)[0]))),
        "word_rare": ("bool", pool(lambda: _word(pick(rare)[0]))),
        "or": ("bool", pool(lambda: or_of(mid, mid))),
        "and": ("bool", pool(lambda: and_of(upper, upper))),
        "seq": ("bool", pool(phrase)),
        "wild_q": ("expand", pool(lambda: f"WILD({pick(wide_mid)[0][:-1]}?)")),
        "rank_word": ("rank", pool(lambda: _word(pick(mid)[0]))),
        "rank_or_skew": ("rank", pool(lambda: or_of([hot], mid))),
    }


def query_rounds(
    rng: np.random.Generator, pools: dict[str, tuple[str, list[str]]], n_rounds: int
) -> list[list[tuple[str, str, str]]]:
    """``n_rounds`` lists of (kind, class, query): ``ROUND`` with each
    slot taking the next unused query of its kind's pool, in a seeded
    order. The pools hold up to 8 queries, so up to 8 rounds issue
    distinct queries of every kind but the single-query hot WORD."""
    order = {k: [str(q) for q in rng.permutation(qs)] for k, (_, qs) in pools.items()}
    return [
        [(kind, pools[kind][0], order[kind][r % len(order[kind])]) for kind in ROUND]
        for r in range(n_rounds)
    ]
