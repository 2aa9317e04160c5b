"""The benchmark workloads.

Each workload generates its inputs from the seed (``generate``), builds the
program's state from those files (``setup``, repeated so set-up time is a
median), runs one timed operation at a time in a closed loop (``op``),
checks every operation's output against the generator's totals
(``check``), and at the end checks what the whole run produced
(``finish``). ``layers`` turns a traced run's spans and Spark jobs into
the per-layer metrics; ``isolated`` runs the traced run's single-layer
actions.

The program is driven only through public functions of
``big_data_hadoop_spark``; inputs reach it only as parquet files.
"""

from __future__ import annotations

import json
import os
import statistics

import numpy as np
from pyspark.sql import functions as F

import gen

from big_data_hadoop_spark.operators.bm25 import BM25Index, bm25_index, bm25_topk
from big_data_hadoop_spark.operators.cooccur import pair_counts, stripes
from big_data_hadoop_spark.operators.counts import token_counts, top_k
from big_data_hadoop_spark.operators.dedup import duplicate_clusters, minhash_signatures
from big_data_hadoop_spark.operators.neardup_graph import (
    neardup_graph_build,
    neardup_graph_load,
    neardup_graph_refresh,
)
from big_data_hadoop_spark.operators.similarity import ivf_build, ivf_search_vectors
from big_data_hadoop_spark.operators.tokenize import tokens
from big_data_hadoop_spark.sources.io import load_table, local_frame

OP = "op"  # name of the span around one timed operation


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _write_json(obj, path: str) -> None:
    with open(path, "w") as f:
        json.dump(obj, f)


class Workload:
    name = ""

    def __init__(self, seed: int, work: str, cpus: int, tracer):
        self.seed, self.work, self.cpus, self.tracer = seed, work, cpus, tracer
        self.inputs = os.path.join(work, "inputs")
        os.makedirs(self.inputs, exist_ok=True)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)

    def isolated(self, spark) -> list[str]:
        """The traced run's single-layer actions, after the timed loop;
        returns the errors of any output they check."""
        return []


# ----------------------------------------------------------------- corpus


def _count_stats(df) -> list[int]:
    """(rows, sum cnt, sum cnt^2) of a pair-count frame: the statistics
    the generator computes exactly, read with one small aggregate."""
    r = df.agg(
        F.count(F.lit(1)), F.sum("cnt"), F.sum(F.col("cnt") * F.col("cnt"))
    ).first()
    return [int(r[0]), int(r[1] or 0), int(r[2] or 0)]


def _stripe_stats(df) -> list[int]:
    r = df.agg(
        F.count(F.lit(1)),
        F.sum("mass"),
        F.sum(F.size("stripe")),
        F.sum(F.col("mass") * F.col("mass")),
    ).first()
    return [int(r[0]), int(r[1] or 0), int(r[2] or 0), int(r[3] or 0)]


class CorpusStats(Workload):
    """The reference's jobs at throughput scale: word count with top-k,
    pairs at two windows and stripes, over one seeded Zipf corpus."""

    name = "corpus_stats"
    LINES = 8_000
    TOP_K = 1000
    PAIR_WINDOWS = (1, 3)
    STRIPE_WINDOW = 2

    def generate(self) -> None:
        corpus = gen.make_corpus(self.seed, self.LINES)
        gen.write_corpus(corpus, os.path.join(self.inputs, "corpus.parquet"), 2 * self.cpus)
        self.truth = gen.corpus_truth(
            corpus, self.TOP_K, list(self.PAIR_WINDOWS), self.STRIPE_WINDOW
        )
        _write_json(self.truth, os.path.join(self.inputs, "truth.json"))
        self.jobs = 1 + len(self.PAIR_WINDOWS) + 1

    def setup(self, spark, rep: int) -> None:
        with self.span("sources.io.load_table"):
            self.df = load_table(spark, self.inputs, "corpus")

    def op(self, spark, i: int):
        out = {}
        with self.span("operators.counts.top_k"):
            out["top"] = [[r.token, r.cnt] for r in top_k(token_counts(self.df), self.TOP_K).collect()]
        for m in self.PAIR_WINDOWS:
            with self.span("operators.cooccur.pair_counts", m=m):
                out[f"pairs{m}"] = _count_stats(pair_counts(self.df, m=m))
        with self.span("operators.cooccur.stripes", m=self.STRIPE_WINDOW):
            out["stripes"] = _stripe_stats(stripes(self.df, m=self.STRIPE_WINDOW))
        return out, self.truth["tokens"] * self.jobs

    def check(self, out) -> list[str]:
        t, errs = self.truth, []
        if out["top"] != t["top"]:
            errs.append("top_k differs from the generator's counts")
        for m in self.PAIR_WINDOWS:
            if out[f"pairs{m}"] != t["pairs"][str(m)]:
                errs.append(f"pair_counts m={m}: {out[f'pairs{m}']} != {t['pairs'][str(m)]}")
        if out["stripes"] != t["stripes"]:
            errs.append(f"stripes: {out['stripes']} != {t['stripes']}")
        return errs

    def finish(self, spark):
        rows = (
            token_counts(self.df)
            .groupBy("category")
            .agg(F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("distinct"))
            .collect()
        )
        got = {r.category: int(r.n) for r in rows}
        errs = []
        if got != self.truth["token_counts"]:
            errs.append(f"token totals {got} != {self.truth['token_counts']}")
        if sum(int(r.distinct) for r in rows) != self.truth["distinct_tokens"]:
            errs.append("distinct token count differs")
        return (0.0 if errs else 1.0), errs

    def isolated(self, spark) -> list[str]:
        with self.span("sources.io.scan"):
            # an aggregate over the text, so the scan has to decode it
            load_table(spark, self.inputs, "corpus").agg(F.sum(F.length("text"))).collect()
        with self.span("operators.tokenize.tokens"):
            _noop(tokens(self.df))
        with self.span("operators.counts.token_counts"):
            _noop(token_counts(self.df))
        with self.span("operators.cooccur.pair_counts.isolated"):
            _noop(pair_counts(self.df, m=max(self.PAIR_WINDOWS)))
        return []

    def layers(self, att):
        def one(name):
            spans = att.named(name)
            return spans[0] if spans else None

        out = {}
        scan, tok, cnt, co = (
            one("sources.io.scan"),
            one("operators.tokenize.tokens"),
            one("operators.counts.token_counts"),
            one("operators.cooccur.pair_counts.isolated"),
        )
        if scan:
            out["sources.io.scan_s"] = att.exec_s(scan)
            out["sources.io.scan_bytes"] = sum(j.scan_bytes for j in att.jobs(scan))
        if tok:
            out["operators.tokenize.exec_s"] = att.exec_s(tok)
            out["operators.tokenize.task_cpu_s"] = sum(j.cpu_s for j in att.jobs(tok))
        if cnt:
            out["operators.counts.exec_s"] = att.exec_s(cnt)
        if co:
            out["operators.cooccur.exec_s"] = att.exec_s(co)
        ops = att.named(OP)
        counts = [j for s in att.named("operators.counts.top_k") for j in att.jobs(s)]
        cooc = [
            j
            for n in ("operators.cooccur.pair_counts", "operators.cooccur.stripes")
            for s in att.named(n)
            for j in att.jobs(s)
        ]
        per_op = max(len(ops), 1)
        out["operators.counts.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in counts) / per_op
        out["operators.cooccur.task_cpu_s"] = sum(j.cpu_s for j in cooc) / per_op
        out["operators.cooccur.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in cooc) / per_op
        out["operators.cooccur.shuffle_records"] = sum(j.shuffle_records for j in cooc) / per_op
        out["operators.cooccur.spill_bytes"] = sum(j.spill_bytes for j in cooc) / per_op
        return out


# ----------------------------------------------------------------- search


class SearchServing(Workload):
    """Hybrid search requests: each is a dense IVF lookup of 8 query
    vectors followed by a BM25 lookup of 8 keyword queries, against
    indexes built in set-up.

    Not a benchmark workload of its own: on a shared 4-core host the
    latency of these short, planning-bound requests spread by more than
    the largest regression bound from one seeded run to the next. The
    ``neardup_ingest`` traced run serves a few of them to measure the
    similarity and bm25 layers."""

    name = "search_serving"
    VECTORS = 12_000
    DOCS = 4_000
    PER_REQUEST = 8
    K = 10
    CELLS = 16
    N_PROBE = 4

    def generate(self) -> None:
        s = gen.make_search(self.seed, self.VECTORS, self.DOCS, k=self.K)
        gen.write_vectors(s.vectors, os.path.join(self.inputs, "vectors.parquet"), self.cpus)
        gen.write_docs(list(enumerate(s.doc_text())), os.path.join(self.inputs, "docs.parquet"), self.cpus)
        self.inp = s
        self.bm25 = gen.BM25Reference(s)
        self._bm25_cache: dict[int, np.ndarray] = {}
        self.vec_norm = np.linalg.norm(s.vectors, axis=1)
        _write_json(
            {"exact_top": s.exact_top.tolist(), "keyword_queries": s.keyword_queries},
            os.path.join(self.inputs, "truth.json"),
        )
        self.rng = np.random.default_rng([self.seed, 4])
        self.hits = self.returned = 0
        self.index_tables = []

    def setup(self, spark, rep: int) -> None:
        for df in self.index_tables:
            df.unpersist()
        with self.span("operators.similarity.ivf_build"):
            self.ivf = ivf_build(
                load_table(spark, self.inputs, "vectors"),
                n_cells=self.CELLS,
                n_rows=self.VECTORS,
                table=f"perfbench_ivf_{rep}",
            )
        with self.span("operators.bm25.bm25_index"):
            idx = bm25_index(load_table(spark, self.inputs, "docs"))
            self.index_tables = [idx.postings.cache(), idx.docstats.cache(), idx.totals.cache()]
            for df in self.index_tables:
                df.count()
            self.index = BM25Index(*self.index_tables, id_col=idx.id_col)

    def op(self, spark, i: int):
        qv = self.rng.choice(len(self.inp.queries), self.PER_REQUEST, replace=False)
        qk = self.rng.choice(len(self.inp.keyword_queries), self.PER_REQUEST, replace=False)
        with self.span("operators.similarity.ivf_search_vectors"):
            vq = local_frame(
                spark,
                [(int(q), [float(x) for x in self.inp.queries[q]]) for q in qv],
                "query_id long, embedding array<double>",
            )
            dense = ivf_search_vectors(self.ivf, vq, k=self.K, n_probe=self.N_PROBE).collect()
        with self.span("operators.bm25.bm25_topk"):
            kq = local_frame(spark, [(int(q), self.inp.keyword_queries[q]) for q in qk], "query_id long, text string")
            lexical = bm25_topk(self.index, kq, topk=self.K).collect()
        return {"qv": qv, "qk": qk, "dense": dense, "lexical": lexical}, 2 * self.PER_REQUEST

    def _bm25(self, q: int) -> np.ndarray:
        if q not in self._bm25_cache:
            self._bm25_cache[q] = self.bm25.scores(self.inp.keyword_queries[q])
        return self._bm25_cache[q]

    def check(self, out) -> list[str]:
        errs = []
        for q in out["qv"]:
            rows = sorted((r for r in out["dense"] if r.query_id == q), key=lambda r: -r.sim)
            ids = np.array([r.neighbor_id for r in rows], dtype=np.int64)
            if len(rows) != self.K:
                errs.append(f"ivf query {q}: {len(rows)} results")
                continue
            ref = (self.inp.vectors[ids] @ self.inp.queries[q]) / (
                self.vec_norm[ids] * np.linalg.norm(self.inp.queries[q])
            )
            if not np.allclose([r.sim for r in rows], ref, rtol=0, atol=1e-9):
                errs.append(f"ivf query {q}: similarities differ from numpy")
            self.hits += len(set(ids.tolist()) & set(self.inp.exact_top[q].tolist()))
            self.returned += self.K
        for q in out["qk"]:
            ref = self._bm25(q)
            rows = sorted((r for r in out["lexical"] if r.query_id == q), key=lambda r: r.rank)
            want = np.sort(ref[ref > 0])[::-1][: self.K]
            got = np.array([r.score for r in rows])
            ids = np.array([r.doc_id for r in rows], dtype=np.int64)
            if len(got) != len(want) or not np.allclose(got, want, rtol=1e-9, atol=1e-12):
                errs.append(f"bm25 query {q}: top-{self.K} scores differ from the reference")
            elif not np.allclose(ref[ids], got, rtol=1e-9, atol=1e-12):
                errs.append(f"bm25 query {q}: returned documents do not score as reported")
        return errs

    def finish(self, spark):
        return (self.hits / self.returned if self.returned else 0.0), []

    def layers(self, att):
        out = {}
        for layer, span, results in (
            ("operators.similarity", "operators.similarity.ivf_search_vectors", self.K * self.PER_REQUEST),
            ("operators.bm25", "operators.bm25.bm25_topk", self.K * self.PER_REQUEST),
        ):
            spans = att.named(span)
            jobs = [att.jobs(s) for s in spans]
            out[f"{layer}.driver_ms"] = 1e3 * _median([att.driver_s(s) for s in spans])
            out[f"{layer}.exec_ms"] = 1e3 * _median([att.exec_s(s) for s in spans])
            out[f"{layer}.jobs_per_request"] = _mean([len(j) for j in jobs])
            out[f"{layer}.rows_scanned_per_result"] = _mean(
                [sum(x.rows_scanned for x in j) / results for j in jobs]
            )
            if layer == "operators.similarity":
                out[f"{layer}.tasks_per_request"] = _mean([sum(x.tasks for x in j) for j in jobs])
        return out


# ---------------------------------------------------------------- neardup


def _components(edges) -> dict[int, int]:
    """member -> smallest id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class NeardupIngest(Workload):
    """A near-duplicate pair store grown one batch at a time; each timed
    operation ingests a batch (``neardup_graph_refresh``) and then reads
    the store back into duplicate clusters."""

    name = "neardup_ingest"
    BASE = 2_000
    BATCH = 250
    BATCHES = 24
    THRESHOLD = 0.8
    SEARCH = SearchServing
    SEARCH_REQUESTS = 4  # in the traced run; the first compiles the paths

    def generate(self) -> None:
        nd = gen.make_neardup(self.seed, self.BASE, self.BATCH, self.BATCHES)
        gen.write_docs(nd.base, os.path.join(self.inputs, "base.parquet"), self.cpus)
        for i, batch in enumerate(nd.batches):
            gen.write_docs(batch, os.path.join(self.inputs, f"batch{i:03d}.parquet"), self.cpus)
        self.planted = nd.planted
        self.batch_ids = [{d for d, _ in b} for b in nd.batches]
        self.base_ids = {d for d, _ in nd.base}
        _write_json({"planted": nd.planted}, os.path.join(self.inputs, "truth.json"))

    def setup(self, spark, rep: int) -> None:
        self.store = os.path.join(self.work, f"store{rep}")
        with self.span("operators.neardup_graph.build"):
            neardup_graph_build(
                spark, load_table(spark, self.inputs, "base"), self.store, threshold=self.THRESHOLD
            )
        self.ingested = set(self.base_ids)
        self.next_batch = 0
        self.last_clusters = []

    def op(self, spark, i: int):
        if self.next_batch >= self.BATCHES:
            raise RuntimeError("generated batches exhausted; raise BATCHES")
        b = self.next_batch
        self.next_batch += 1
        with self.span("operators.neardup_graph.refresh", batch=b) as sp:
            st = neardup_graph_refresh(spark, load_table(spark, self.inputs, f"batch{b:03d}"), self.store)
            if sp:
                sp.attrs.update(docs=st["docs"], new_edges=st["new_edges"])
        self.ingested |= self.batch_ids[b]
        with self.span("operators.neardup_graph.load"):
            edges = neardup_graph_load(spark, self.store)
        with self.span("operators.dedup.duplicate_clusters") as sp:
            stats: dict = {}
            clusters = duplicate_clusters(edges, stats=stats).collect()
            if sp:
                sp.attrs.update(rounds=stats.get("rounds", 0))
        self.last_clusters = clusters
        return {"stats": st, "batch": b}, st["docs"]

    def check(self, out) -> list[str]:
        errs = []
        st = out["stats"]
        if st["docs"] != len(self.batch_ids[out["batch"]]):
            errs.append(f"refresh committed {st['docs']} docs, batch has {len(self.batch_ids[out['batch']])}")
        return errs

    def finish(self, spark):
        """Read the grown store once more: every edge at or above the
        threshold, every planted pair whose exact Jaccard clears the
        threshold present (the recall), and the last clusters equal to the
        connected components of the stored edges."""
        edges = [(r.id_a, r.id_b, r.jac_est) for r in neardup_graph_load(spark, self.store).collect()]
        errs = []
        low = [e for e in edges if e[2] < self.THRESHOLD]
        if low:
            errs.append(f"{len(low)} stored edges below the threshold")
        if any(a >= b for a, b, _ in edges):
            errs.append("stored edge not ordered id_a < id_b")
        found = {(a, b) for a, b, _ in edges}
        want = [
            (a, b) for a, b, j in self.planted
            if j >= self.THRESHOLD and a in self.ingested and b in self.ingested
        ]
        recall = sum(p in found for p in want) / len(want) if want else 1.0
        comp = _components((a, b) for a, b, _ in edges)
        got = {r.member_id: r.cluster_id for r in self.last_clusters}
        if got and got != comp:
            errs.append("duplicate_clusters differs from the components of the stored edges")
        return recall, errs

    def isolated(self, spark) -> list[str]:
        """Besides the signature pass alone, serve a few hybrid search
        requests: the similarity and bm25 layers are measured here."""
        with self.span("operators.dedup.minhash_signatures"):
            _noop(minhash_signatures(load_table(spark, self.inputs, "batch000")))
        self.search = self.SEARCH(self.seed, os.path.join(self.work, "search"), self.cpus, self.tracer)
        self.search.generate()
        self.search.setup(spark, 0)
        errs = []
        for i in range(self.SEARCH_REQUESTS):
            out, _ = self.search.op(spark, i)
            errs += self.search.check(out)
        return errs

    def layers(self, att):
        out = self.search.layers(att)
        sig = att.named("operators.dedup.minhash_signatures")
        if sig:
            out["operators.dedup.signatures_s"] = att.exec_s(sig[0])
            out["operators.dedup.task_cpu_s"] = sum(j.cpu_s for j in att.jobs(sig[0]))
        refresh = att.named("operators.neardup_graph.refresh")
        docs = sum(s.attrs.get("docs", 0) for s in refresh) or 1
        jobs = [att.jobs(s) for s in refresh]
        out["operators.neardup_graph.refresh_s"] = _median([s.duration for s in refresh])
        out["operators.neardup_graph.driver_s"] = _median([att.driver_s(s) for s in refresh])
        out["operators.neardup_graph.jobs_per_refresh"] = _mean([len(j) for j in jobs])
        out["operators.neardup_graph.history_scan_bytes"] = _mean([sum(x.scan_bytes for x in j) for j in jobs])
        out["operators.neardup_graph.edges_per_doc"] = sum(s.attrs.get("new_edges", 0) for s in refresh) / docs
        out["sources.io.bytes_written_per_doc"] = sum(x.output_bytes for j in jobs for x in j) / docs
        clus = att.named("operators.dedup.duplicate_clusters")
        out["operators.dedup.clusters_s"] = _median([s.duration for s in clus])
        out["operators.dedup.cluster_rounds"] = _mean([s.attrs.get("rounds", 0) for s in clus])
        return out


WORKLOADS = {w.name: w for w in (CorpusStats, NeardupIngest)}
