"""Seeded corpus and query-stream generator.

Everything here is a pure function of ``(seed, size)``: the same seed
gives a byte-identical ``documents.parquet`` and identical query
streams. The engine under test only ever sees these generated inputs.

Corpus model
    * vocabulary: ``VOCAB`` synthetic lowercase words, drawn per token
      with Zipf(s=1) probability over their rank;
    * document length in tokens: lognormal with median ``DL_MEDIAN``;
    * hosts: Zipf(s=1) over ``N_HOSTS`` synthetic host names; the url is
      ``https://<host>/doc/<doc_id>`` (as ``corpus.load_documents``
      derives it from the ``source`` column).

Query model
    1 to 4 distinct terms per query, each term drawn Zipf(s=1) over the
    top ``QUERY_RANKS`` vocabulary ranks. A repeating stream draws its
    queries from a pool with Zipf(s=``STREAM_ZIPF_S``) popularity.
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = 100_000
QUERY_RANKS = 20_000
DL_MEDIAN = 120
DL_SIGMA = 0.6
N_HOSTS = 500
# query popularity skew of the repeating stream. Under s=1 the ten most
# popular queries of each length take 39% of the pages, so the few
# queries a seed puts there set much of a run's median page time; ten
# seeds spread 0.14 around it against 0.075 under s=0.8, at a repeat
# share of about 0.3 instead of 0.45 (one 4-CPU VM, 5 s of pages a seed).
STREAM_ZIPF_S = 0.8
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
# stream identifiers: each generated object draws from its own
# SeedSequence child, so adding a stream never shifts another one
_CORPUS, _QUERIES, _UPDATES = 1, 2, 3


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


@functools.lru_cache(maxsize=1)
def vocabulary() -> np.ndarray:
    """Rank-ordered word list (rank 0 is the most frequent), the same for
    every seed: a 1-3 letter prefix that varies word length, then rank r
    spelled in four base-26 letters after a fixed bijective scramble.
    Callers must not modify the returned (shared) array."""
    ranks = np.arange(VOCAB, dtype=np.int64)
    # 7919 is prime to 26, so this permutes [0, 26**4) bijectively
    scr = (ranks * 7919 + 12345) % (26**4)
    letters = np.stack([_LETTERS[(scr // 26**i) % 26] for i in range(4)], 1)
    prefix = [_LETTERS[r % 7] * (1 + r % 3) for r in range(VOCAB)]
    return np.array([p + "".join(b) for p, b in zip(prefix, letters)])


def _zipf_cdf(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    c = np.cumsum(w)
    return c / c[-1]


def _zipf_draw(rng: np.random.Generator, cdf: np.ndarray, size) -> np.ndarray:
    return np.searchsorted(cdf, rng.random(size), side="right").clip(
        0, len(cdf) - 1
    )


def make_documents(seed: int, n_docs: int) -> pa.Table:
    """The ``documents`` table (doc_id, text, lang, source, n_chars)."""
    rng = _rng(seed, _CORPUS, n_docs, 0)  # sub-stream 0: the table itself
    vocab = vocabulary()
    lengths = np.exp(
        rng.normal(np.log(DL_MEDIAN), DL_SIGMA, n_docs)
    ).astype(np.int64).clip(4, 2000)
    tokens = _zipf_draw(rng, _zipf_cdf(VOCAB), int(lengths.sum()))
    words = vocab[tokens]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    hosts = _zipf_draw(rng, _zipf_cdf(N_HOSTS), n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * n_docs, pa.string()),
            "source": pa.array(
                [f"h{h}.example" for h in hosts], pa.string()
            ),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def corpus_dir(work_dir: str, seed: int, n_docs: int) -> str:
    """Directory holding ``documents.parquet`` for (seed, size), cached
    on disk: generated once, then reused by every later run."""
    d = os.path.join(work_dir, "corpus", f"seed{seed}-docs{n_docs}")
    path = os.path.join(d, "documents.parquet")
    if not os.path.exists(path):
        os.makedirs(d, exist_ok=True)
        tmp = path + f".tmp{os.getpid()}"
        pq.write_table(make_documents(seed, n_docs), tmp)
        os.replace(tmp, path)
    return d


def distinct_queries(seed: int, n: int, salt: int = 0) -> list[str]:
    """``n`` pairwise-distinct queries (as term sets). Query ``k`` has
    ``1 + k % 4`` distinct terms, each drawn Zipf(s=1) over the top
    ``QUERY_RANKS`` words, so every run sees the same mix of lengths."""
    rng = _rng(seed, _QUERIES, salt)
    vocab = vocabulary()
    cdf = _zipf_cdf(QUERY_RANKS)
    out: list[str] = []
    seen: set[frozenset] = set()
    while len(out) < n:
        n_terms = 1 + len(out) % 4
        terms: list[str] = []
        while len(terms) < n_terms:
            w = str(vocab[_zipf_draw(rng, cdf, 1)[0]])
            if w not in terms:
                terms.append(w)
        if frozenset(terms) not in seen:
            seen.add(frozenset(terms))
            out.append(" ".join(terms))
    return out


def zipf_stream(seed: int, pool: list[str], n: int) -> list[str]:
    """A query stream over ``pool`` (as made by :func:`distinct_queries`)
    in which popular queries repeat the way a real log's head does.
    Position ``i`` asks a query of ``1 + i % 4`` terms, picked
    Zipf(s=``STREAM_ZIPF_S``) by rank among the pool's queries of that
    length, so short runs still see every query length in a fixed
    order."""
    rng = _rng(seed, _QUERIES, 7_000_001)
    per_len = len(pool) // 4
    cdf = _zipf_cdf(per_len, STREAM_ZIPF_S)
    ranks = _zipf_draw(rng, cdf, n)
    return [pool[i % 4 + 4 * int(r)] for i, r in enumerate(ranks)]


def repeat_share(stream: list[str]) -> float:
    """Share of stream entries whose query appeared earlier."""
    seen: set[str] = set()
    rep = 0
    for q in stream:
        rep += q in seen
        seen.add(q)
    return rep / len(stream) if stream else 0.0


def update_slices(
    seed: int, n_docs: int, frac: float
) -> tuple[np.ndarray, np.ndarray]:
    """Two disjoint, sorted slices of a seeded permutation of the
    corpus, ``frac`` of it each: ids to tombstone and ids to upsert."""
    rng = _rng(seed, _UPDATES, n_docs)
    perm = rng.permutation(n_docs)
    m = max(1, int(n_docs * frac))
    return np.sort(perm[:m]), np.sort(perm[m:2 * m])


def upsert_texts(seed: int, n: int) -> list[str]:
    """Replacement texts for the upserted docs: fresh draws from the
    same corpus model."""
    return make_documents(seed + 1_000_003, n).column("text").to_pylist()
