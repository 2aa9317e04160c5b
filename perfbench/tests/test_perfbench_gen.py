"""The generator's known totals against pure-Python references."""

import math
import os
import re
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import gen

WORD = re.compile(r"[a-z_-]+")
NUMBER = re.compile(r"[-+]?[0-9]+[.]?[0-9]*")


def category(tok):
    if WORD.fullmatch(tok):
        return "word"
    if NUMBER.fullmatch(tok):
        return "number"
    return None


def corpus_oracle(lines, pair_windows, stripe_window):
    """Word count, pairs and stripes of the reference jobs, with Counters."""
    counts, pairs, stripes = Counter(), {m: Counter() for m in pair_windows}, {}
    for line in lines:
        toks = line.split(" ")
        cats = [category(t) for t in toks]
        for i, (t, c) in enumerate(zip(toks, cats)):
            if c is None:
                continue
            counts[(c, t)] += 1
            stripe = stripes.setdefault((c, t), Counter())
            for d in range(-stripe_window, stripe_window + 1):
                j = i + d
                if d and 0 <= j < len(toks) and cats[j] == c:
                    stripe[toks[j]] += 1
            for m in pair_windows:
                for j in range(i + 1, min(i + m, len(toks) - 1) + 1):
                    if cats[j] == c:
                        pairs[m][(c, t, toks[j])] += 1
    return counts, pairs, stripes


def stats(counter):
    return [len(counter), sum(counter.values()), sum(v * v for v in counter.values())]


def test_corpus_truth_matches_counter_oracle():
    corpus = gen.make_corpus(5, 300, words=400, numbers=60, junk=20)
    truth = gen.corpus_truth(corpus, 50, [1, 3], 2)
    counts, pairs, stripes = corpus_oracle(corpus.lines, [1, 3], 2)
    assert truth["tokens"] == sum(len(l.split(" ")) for l in corpus.lines)
    per_cat = Counter()
    for (c, _), n in counts.items():
        per_cat[c] += n
    assert truth["token_counts"] == dict(per_cat)
    assert truth["distinct_tokens"] == len(counts)
    top = sorted(((t, n) for (_, t), n in counts.items()), key=lambda x: (-x[1], x[0]))[:50]
    assert truth["top"] == [list(x) for x in top]
    for m in (1, 3):
        assert truth["pairs"][str(m)] == stats(pairs[m])
    mass = [sum(s.values()) for s in stripes.values()]
    assert truth["stripes"] == [
        len(stripes), sum(mass), sum(len(s) for s in stripes.values()), sum(x * x for x in mass)
    ]
    # every category and the discard path occur
    assert per_cat["word"] and per_cat["number"]
    assert any(category(t) is None for l in corpus.lines for t in l.split(" "))
    assert any("  " in l for l in corpus.lines)


def test_generators_are_deterministic(tmp_path):
    for sub in ("a", "b"):
        corpus = gen.make_corpus(7, 50, words=100, numbers=10, junk=5)
        gen.write_corpus(corpus, str(tmp_path / sub), 2)
    a = pq.read_table(str(tmp_path / "a")).to_pylist()
    assert a == pq.read_table(str(tmp_path / "b")).to_pylist()
    assert a != [
        dict(doc_id=i, text=t) for i, t in enumerate(gen.make_corpus(8, 50, words=100, numbers=10, junk=5).lines)
    ]
    n1, n2 = (gen.make_neardup(3, 40, 10, 2) for _ in range(2))
    assert (n1.base, n1.batches, n1.planted) == (n2.base, n2.batches, n2.planted)
    s1, s2 = (gen.make_search(3, 200, 50, query_pool=8, keyword_pool=4) for _ in range(2))
    assert np.array_equal(s1.vectors, s2.vectors) and np.array_equal(s1.exact_top, s2.exact_top)
    assert s1.keyword_queries == s2.keyword_queries


def test_planted_pairs_are_real_near_duplicates():
    nd = gen.make_neardup(4, 60, 20, 3, dup_share=0.25)
    text = dict(nd.base + [d for b in nd.batches for d in b])
    assert len(text) == 60 + 3 * 20
    assert nd.planted
    for a, b, j in nd.planted:
        assert a < b
        sa, sb = (gen.shingle_set(text[x].split(" "), 3) for x in (a, b))
        assert j == gen.jaccard(sa, sb) and j > 0.85
    # every batch copies documents from its history, never from itself
    start = 60
    for batch in nd.batches:
        ids = {d for d, _ in batch}
        assert any(b in ids and a < start for a, b, _ in nd.planted)
        start += len(batch)


def test_exact_neighbours_are_brute_force_cosine():
    s = gen.make_search(9, 300, 40, query_pool=6, keyword_pool=3, k=5)
    for q, row in zip(s.queries, s.exact_top):
        sims = [
            sum(a * b for a, b in zip(q, v)) / (math.sqrt(sum(a * a for a in q)) * math.sqrt(sum(b * b for b in v)))
            for v in s.vectors
        ]
        want = sorted(range(len(sims)), key=lambda i: (-sims[i], i))[:5]
        assert row.tolist() == want


def test_bm25_reference_matches_formula():
    s = gen.make_search(2, 10, 200, query_pool=2, keyword_pool=6)
    ref = gen.BM25Reference(s)
    docs = [t.split(" ") for t in s.doc_text()]
    n, avgdl = len(docs), sum(map(len, docs)) / len(docs)
    for q in s.keyword_queries + ["nosuchterm " + s.keyword_queries[0]]:
        want = []
        for d in docs:
            score, tf = 0.0, Counter(d)
            for term in set(q.split(" ")):
                df = sum(term in x for x in docs)
                if tf[term]:
                    idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
                    score += idf * tf[term] * 2.2 / (tf[term] + 1.2 * (0.25 + 0.75 * len(d) / avgdl))
            want.append(score)
        assert np.allclose(ref.scores(q), want, rtol=1e-12, atol=0)
        assert max(want) > 0


def test_parquet_parts_give_one_task_each(tmp_path):
    gen.write_docs([(i, f"doc {i}") for i in range(10)], str(tmp_path / "d"), 4)
    assert len(os.listdir(tmp_path / "d")) == 4
    assert pq.read_table(str(tmp_path / "d")).num_rows == 10
