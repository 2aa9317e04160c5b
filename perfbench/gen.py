"""Seeded input generators for the benchmark workloads and search requests.

Everything here is numpy and pyarrow only: inputs are made in the
benchmark's own process, written to disk, and the program under test sees
nothing but those files. Each generator also returns the totals it knows
by construction (token counts, planted duplicate pairs, exact nearest
neighbours, BM25 references); the workloads check the program's outputs
against them. The same seed always gives the same files and totals.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))

# token categories, in the order the program's classifier names them
WORD, NUMBER, JUNK = 0, 1, 2
CATEGORY_NAMES = ("word", "number")


def _distinct_strings(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    """``n`` distinct lower-case letter strings of length ``lo..hi``."""
    out: dict[str, None] = {}
    while len(out) < n:
        k = n - len(out)
        lens = rng.integers(lo, hi + 1, size=k)
        chars = _LETTERS[rng.integers(0, 26, size=(k, hi))]
        for row, ln in zip(chars, lens):
            out.setdefault("".join(row[:ln]), None)
    return list(out)[:n]


def _zipf_ids(rng: np.random.Generator, n_vocab: int, size, s: float) -> np.ndarray:
    """Ids in ``[0, n_vocab)`` with probability proportional to ``1/(id+1)^s``."""
    cdf = np.cumsum(1.0 / np.arange(1, n_vocab + 1, dtype=np.float64) ** s)
    u = rng.random(size) * cdf[-1]
    return np.minimum(np.searchsorted(cdf, u, side="right"), n_vocab - 1)


def _write_parquet_parts(table: pa.Table, path: str, parts: int) -> None:
    """One directory of ``parts`` files so a scan gets ``parts`` tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(
            table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet")
        )


# --------------------------------------------------------------- corpus_stats


@dataclass
class Corpus:
    vocab: list[str]          # token id -> token string
    cats: np.ndarray          # token id -> WORD / NUMBER / JUNK
    ids: np.ndarray           # (lines, tokens_per_line) token ids
    lines: list[str]


def make_corpus(
    seed: int,
    lines: int,
    tokens_per_line: int = 20,
    words: int = 50_000,
    numbers: int = 5_000,
    junk: int = 1_000,
    mix: tuple[float, float, float] = (0.80, 0.15, 0.05),
) -> Corpus:
    """Zipf-distributed lines mixing words, numbers and tokens that match
    neither pattern (upper-case words, mixed tokens, the empty token that
    a double space makes), so the classifier's discard path runs."""
    rng = np.random.default_rng([seed, 1])
    word_v = _distinct_strings(rng, words, 2, 9)
    num_v = [str(i) for i in range(numbers // 2)] + [
        f"{i}.{i % 97}" if i % 3 else f"-{i}" for i in range(numbers - numbers // 2)
    ]
    junk_v = [""] + [
        w.capitalize() if i % 2 else f"{w}{i}" for i, w in enumerate(
            _distinct_strings(rng, junk - 1, 3, 6)
        )
    ]
    vocab = word_v + num_v + junk_v
    cats = np.repeat(
        np.array([WORD, NUMBER, JUNK], dtype=np.int8), [words, numbers, junk]
    )
    shape = (lines, tokens_per_line)
    cat = rng.choice(3, size=shape, p=mix)
    ids = np.where(
        cat == WORD,
        _zipf_ids(rng, words, shape, 1.05),
        np.where(
            cat == NUMBER,
            words + _zipf_ids(rng, numbers, shape, 1.0),
            words + numbers + _zipf_ids(rng, junk, shape, 1.0),
        ),
    )
    arr = np.array(vocab, dtype=object)
    text = [" ".join(row) for row in arr[ids]]
    return Corpus(vocab=vocab, cats=cats, ids=ids, lines=text)


def write_corpus(corpus: Corpus, path: str, parts: int) -> None:
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(corpus.lines), dtype=np.int64)),
            "text": pa.array(corpus.lines, type=pa.string()),
        }
    )
    _write_parquet_parts(table, path, parts)


def _key_stats(keys: np.ndarray) -> tuple[int, int, int]:
    """(distinct keys, total count, sum of squared per-key counts)."""
    if keys.size == 0:
        return 0, 0, 0
    _, cnt = np.unique(keys, return_counts=True)
    cnt = cnt.astype(np.int64)
    return int(cnt.size), int(cnt.sum()), int((cnt * cnt).sum())


def _window_keys(corpus: Corpus, offsets: list[int]) -> np.ndarray:
    """``left * V + right`` for every same-category, categorized pair at
    the given position offsets, per line (lines never pair across)."""
    ids, cats, v = corpus.ids, corpus.cats, len(corpus.vocab)
    out = []
    for d in offsets:
        if d > 0:
            left, right = ids[:, :-d], ids[:, d:]
        else:
            left, right = ids[:, -d:], ids[:, :d]
        cl, cr = cats[left], cats[right]
        keep = (cl == cr) & (cl != JUNK)
        out.append(left[keep].astype(np.int64) * v + right[keep])
    return np.concatenate(out) if out else np.empty(0, np.int64)


def corpus_truth(corpus: Corpus, k: int, pair_windows: list[int], stripe_window: int) -> dict:
    """Totals the generator knows: per-category token counts, the exact
    top-``k`` (count desc, token asc), per-window pair statistics and the
    stripe statistics of the symmetric window."""
    counts = np.bincount(corpus.ids.ravel(), minlength=len(corpus.vocab))
    kept = np.flatnonzero((counts > 0) & (corpus.cats != JUNK))
    per_cat = {
        CATEGORY_NAMES[c]: int(counts[kept][corpus.cats[kept] == c].sum()) for c in (WORD, NUMBER)
    }
    order = sorted(kept.tolist(), key=lambda t: (-int(counts[t]), corpus.vocab[t]))
    top = [[corpus.vocab[t], int(counts[t])] for t in order[:k]]
    pairs = {}
    for m in pair_windows:
        pairs[str(m)] = list(_key_stats(_window_keys(corpus, list(range(1, m + 1)))))
    sym = [d for d in range(-stripe_window, stripe_window + 1) if d != 0]
    n_keys, mass, _ = _key_stats(_window_keys(corpus, sym))
    per_token = np.bincount(
        _window_keys(corpus, sym) // len(corpus.vocab), minlength=len(corpus.vocab)
    )[kept].astype(np.int64)
    return {
        "tokens": int(corpus.ids.size),
        "token_counts": per_cat,
        "distinct_tokens": int(kept.size),
        "top": top,
        "pairs": pairs,
        # rows (one per distinct categorized token), total mass, total
        # stripe entries, sum of squared per-token mass
        "stripes": [int(kept.size), mass, n_keys, int((per_token * per_token).sum())],
    }


# ------------------------------------------------------------ neardup_ingest


def shingle_set(tokens: list[str], n: int) -> set[str]:
    return {" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


@dataclass
class NeardupInputs:
    base: list[tuple[int, str]]            # (doc_id, text)
    batches: list[list[tuple[int, str]]]
    planted: list[tuple[int, int, float]]  # (id_a, id_b, exact jaccard), id_a < id_b


def make_neardup(
    seed: int,
    base_docs: int,
    batch_docs: int,
    n_batches: int,
    dup_share: float = 0.2,
    tokens_per_doc: int = 60,
    words: int = 20_000,
    shingle_n: int = 3,
) -> NeardupInputs:
    """Unrelated random documents, plus planted near-duplicates: one
    token of a source document replaced. Within the base corpus a share
    of documents copy an earlier base document; in every refresh batch a
    ``dup_share`` of documents copy a document already in history (base
    or an earlier batch), so the band join against stored signatures
    finds real matches. Ids are fresh in every batch."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_distinct_strings(rng, words, 3, 8), dtype=object)
    docs: list[list[str]] = []
    planted = []

    def fresh() -> list[str]:
        return list(vocab[rng.integers(0, words, size=tokens_per_doc)])

    def near_copy(src: int) -> list[str]:
        toks = list(docs[src])
        toks[int(rng.integers(0, tokens_per_doc))] = vocab[int(rng.integers(0, words))]
        return toks

    def add(n: int, share: float) -> list[tuple[int, str]]:
        start, out = len(docs), []
        n_dup = int(round(n * share))
        dup_slots = set(rng.choice(n, size=n_dup, replace=False).tolist()) if start else set()
        for j in range(n):
            if j in dup_slots:
                src = int(rng.integers(0, start))
                docs.append(near_copy(src))
                j_exact = jaccard(
                    shingle_set(docs[src], shingle_n), shingle_set(docs[-1], shingle_n)
                )
                planted.append((src, len(docs) - 1, j_exact))
            else:
                docs.append(fresh())
            out.append((len(docs) - 1, " ".join(docs[-1])))
        return out

    half = base_docs // 2
    base = add(half, 0.0)
    base += add(base_docs - half, dup_share)
    batches = [add(batch_docs, dup_share) for _ in range(n_batches)]
    return NeardupInputs(base=base, batches=batches, planted=planted)


def write_docs(docs: list[tuple[int, str]], path: str, parts: int) -> None:
    ids, text = zip(*docs)
    table = pa.table(
        {
            "doc_id": pa.array(ids, type=pa.int64()),
            "text": pa.array(text, type=pa.string()),
        }
    )
    _write_parquet_parts(table, path, parts)


# ----------------------------------------------------------- search requests


@dataclass
class SearchInputs:
    vectors: np.ndarray         # (n, dim) float64, row i has vec_id i
    queries: np.ndarray         # (q, dim) external query vectors
    exact_top: np.ndarray       # (q, k) exact cosine neighbours of each query
    vocab: list[str]            # BM25 term id -> term
    doc_terms: np.ndarray       # flat term ids of every document, in order
    doc_len: np.ndarray         # tokens per document, doc_id i
    keyword_queries: list[str]

    def doc_text(self) -> list[str]:
        bounds = np.concatenate([[0], np.cumsum(self.doc_len)])
        words = np.array(self.vocab, dtype=object)[self.doc_terms]
        return [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(len(self.doc_len))]


def make_search(
    seed: int,
    vectors: int,
    docs: int,
    dim: int = 64,
    clusters: int = 32,
    query_pool: int = 256,
    doc_len: tuple[int, int] = (12, 40),
    words: int = 20_000,
    keyword_pool: int = 128,
    k: int = 10,
) -> SearchInputs:
    """Clustered Gaussian vectors with external queries drawn from the
    same clusters, and a Zipf-vocabulary document set with keyword
    queries of 2-4 mid-frequency terms."""
    rng = np.random.default_rng([seed, 3])
    centers = rng.normal(size=(clusters, dim))
    vec = centers[rng.integers(0, clusters, vectors)] + 0.6 * rng.normal(size=(vectors, dim))
    qv = centers[rng.integers(0, clusters, query_pool)] + 0.6 * rng.normal(size=(query_pool, dim))
    # exact top-k with the program's tie-break: similarity desc, id asc
    exact = np.array([_top_ids(row, k) for row in cosine_matrix(qv, vec)])
    vocab = _distinct_strings(rng, words, 3, 9)
    lens = rng.integers(doc_len[0], doc_len[1] + 1, size=docs)
    terms = _zipf_ids(rng, words, int(lens.sum()), 1.0)
    mid = np.arange(50, 3_000)
    kw = [
        " ".join(vocab[t] for t in rng.choice(mid, size=int(rng.integers(2, 5)), replace=False))
        for _ in range(keyword_pool)
    ]
    return SearchInputs(vec, qv, exact, vocab, terms, lens, kw)


def _top_ids(scores: np.ndarray, k: int) -> np.ndarray:
    """Ids of the ``k`` highest scores, score descending then id ascending."""
    cand = np.flatnonzero(scores >= np.partition(scores, -k)[-k])
    return cand[np.lexsort((cand, -scores[cand]))][:k]


def cosine_matrix(q: np.ndarray, v: np.ndarray) -> np.ndarray:
    return (q @ v.T) / np.outer(np.linalg.norm(q, axis=1), np.linalg.norm(v, axis=1))


def write_vectors(vec: np.ndarray, path: str, parts: int) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vec), dtype=np.int64)),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float64())),
        }
    )
    _write_parquet_parts(table, path, parts)


class BM25Reference:
    """Okapi BM25 written from the formula (Lucene idf, distinct query
    terms, kept tokens are the non-empty, space-split, lower-cased
    tokens), over the generator's term ids rather than the program's
    index."""

    def __init__(self, inputs: SearchInputs, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.term_id = {t: i for i, t in enumerate(inputs.vocab)}
        self.n = len(inputs.doc_len)
        self.dlen = inputs.doc_len.astype(np.float64)
        self.avgdl = self.dlen.mean()
        doc_of = np.repeat(np.arange(self.n), inputs.doc_len)
        order = np.argsort(inputs.doc_terms, kind="stable")
        self._terms, self._docs = inputs.doc_terms[order], doc_of[order]

    def scores(self, query: str) -> np.ndarray:
        out = np.zeros(self.n)
        for term in {t for t in query.lower().split(" ") if t}:
            tid = self.term_id.get(term)
            if tid is None:
                continue
            lo, hi = np.searchsorted(self._terms, [tid, tid + 1])
            docs, tf = np.unique(self._docs[lo:hi], return_counts=True)
            if docs.size == 0:
                continue
            df = docs.size
            idf = np.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            tf = tf.astype(np.float64)
            norm = self.k1 * (1.0 - self.b + self.b * self.dlen[docs] / self.avgdl)
            out[docs] += idf * tf * (self.k1 + 1.0) / (tf + norm)
        return out
