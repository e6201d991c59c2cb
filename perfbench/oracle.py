"""Output checks: the engine's answers against independent references.

Queries are checked against the pure-Python oracle's semantics
(``fulltextsearch_spark.oracle.pyoracle``), restricted to the terms the
stream can touch but with every document's length, so BM25's N and
avgdl are exact. Candidate pairs are checked against the DuckDB
``minhash_lsh`` oracle of ``__spark_entry__.oracle_sql``.
"""

from __future__ import annotations

import numpy as np

from fulltextsearch_spark.oracle.pyoracle import OracleIndex, levenshtein, wildcard_match
from fulltextsearch_spark.plans import parser
from fulltextsearch_spark.plans.ast import EditAst, FuncAst, WildAst, WordAst

from inputs import VOCAB, Corpus

SEARCH_LIMIT = 1000
RANK_K = 10
SCORE_TOL = 1e-6


class StreamOracle(OracleIndex):
    """pyoracle with a set-based SEQ: the reference rebuilds the next
    term's occurrence set per candidate, quadratic on hot terms."""

    def matches(self, node):
        if isinstance(node, FuncAst) and node.name == "SEQ":
            terms = [a.value for a in node.args]
            later = [set(self.postings.get(t, ())) for t in terms[1:]]
            out = []
            for d, f, p in self.postings.get(terms[0], ()):
                seq = tuple((d, f, p + i) for i in range(len(terms)))
                if all(o in s for o, s in zip(seq[1:], later)):
                    out.append(seq)
            return sorted(out)
        return super().matches(node)

    def add_corpus(self, corpus: Corpus, term_ids: np.ndarray) -> None:
        """Postings of ``term_ids`` and the length of every document."""
        lens = np.diff(corpus.offsets)
        doc_of = np.repeat(np.arange(corpus.n_docs), lens)
        hit = np.nonzero(np.isin(corpus.tokens, term_ids))[0]
        pos = hit - corpus.offsets[doc_of[hit]] + 1
        for t, d, p in zip(corpus.tokens[hit], doc_of[hit] + corpus.first_id, pos):
            self.postings[VOCAB[t]].append((int(d), 1, int(p)))
        for i, n in enumerate(lens):
            self.doc_len[corpus.first_id + i] = int(n)


VOCAB_INDEX = {str(t): i for i, t in enumerate(VOCAB)}


def leaves(node):
    if isinstance(node, FuncAst):
        for a in node.args:
            yield from leaves(a)
    else:
        yield node


def _edit_candidates(word: str, alphabet: set[str], distance: int) -> set[str]:
    """Every string within ``distance`` single-character edits of ``word``."""
    seen = frontier = {word}
    for _ in range(distance):
        nxt = set()
        for w in frontier:
            for i in range(len(w) + 1):
                nxt.update(w[:i] + c + w[i:] for c in alphabet)
                if i < len(w):
                    nxt.add(w[:i] + w[i + 1 :])
                    nxt.update(w[:i] + c + w[i + 1 :] for c in alphabet)
        frontier = nxt - seen
        seen = seen | nxt
    return seen


def stream_term_ids(queries: list[str], corpus: Corpus) -> np.ndarray:
    """Vocabulary ids of every corpus term the queries name or expand to.

    Candidates are narrowed cheaply (literal prefix, edit neighbourhood)
    and then confirmed with pyoracle's own matchers."""
    cf = np.bincount(corpus.tokens, minlength=len(VOCAB))
    present = {str(VOCAB[i]) for i in np.nonzero(cf)[0]}
    alphabet = {c for t in present for c in t}
    terms: set[str] = set()
    for q in queries:
        for leaf in leaves(parser.parse(q)):
            if isinstance(leaf, WordAst):
                terms.add(leaf.value)
            elif isinstance(leaf, WildAst):
                prefix = leaf.value.split("*", 1)[0].split("?", 1)[0]
                terms.update(
                    t for t in present if t.startswith(prefix) and wildcard_match(leaf.value, t)
                )
            elif isinstance(leaf, EditAst):
                near = _edit_candidates(leaf.value, alphabet, leaf.distance) & present
                terms.update(t for t in near if levenshtein(t, leaf.value) <= leaf.distance)
    return np.array(sorted(VOCAB_INDEX[t] for t in terms if t in present), dtype=np.int64)


class QueryChecker:
    """Memoized expected answers for one index state."""

    def __init__(self, oracle: StreamOracle):
        self.oracle = oracle
        self._search: dict[str, list] = {}
        self._rank: dict[str, list] = {}

    def search_ok(self, query: str, rows) -> bool:
        if query not in self._search:
            ms = self.oracle.matches(parser.parse(query))[:SEARCH_LIMIT]
            self._search[query] = [(m[0][0], m[0][1], [p for _, _, p in m]) for m in ms]
        got = [(r["doc_id"], r["field_id"], list(r["positions"])) for r in rows]
        return got == self._search[query]

    def rank_ok(self, query: str, rows) -> bool:
        if query not in self._rank:
            self._rank[query] = self.oracle.rank(query, RANK_K)
        want = self._rank[query]
        return len(rows) == len(want) and all(
            r["doc_id"] == d and abs(r["score"] - s) <= SCORE_TOL
            for r, (d, s) in zip(rows, want)
        )


def duckdb_minhash_pairs(documents_path: str) -> set[tuple[int, int]]:
    """The ``minhash_lsh`` oracle (n=3, 8 perms, 4 bands x 2 rows)."""
    import duckdb

    from __spark_entry__ import oracle_sql

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_path}/*.parquet')"
        )
        rows = con.execute(oracle_sql()["minhash_lsh"]).fetchall()
    finally:
        con.close()
    return {(int(a), int(b)) for a, b in rows}
