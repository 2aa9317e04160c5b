"""Small-seed runs of each workload against one Spark session, with the
event log on so the traced path's per-layer metrics are exercised too."""

import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter

import pytest
from pyspark.sql import Row

from test_perfbench_gen import corpus_oracle

import spans
import workloads

from big_data_hadoop_spark.operators.cooccur import pair_counts, stripes
from big_data_hadoop_spark.operators.counts import token_counts
from big_data_hadoop_spark.operators.neardup_graph import (
    neardup_graph_build,
    neardup_graph_load,
    neardup_graph_refresh,
)
from big_data_hadoop_spark.session import get_spark
from big_data_hadoop_spark.sources.io import load_table

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SmallCorpus(workloads.CorpusStats):
    LINES = 400
    TOP_K = 50


class SmallSearch(workloads.SearchServing):
    VECTORS = 2_000
    DOCS = 500


class SmallNeardup(workloads.NeardupIngest):
    BASE = 200
    BATCH = 40
    BATCHES = 3
    SEARCH = SmallSearch


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    logdir = tmp_path_factory.mktemp("eventlog")
    spark = get_spark(
        app_name="perfbench-tests",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{logdir}",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
            "spark.sql.warehouse.dir": str(tmp_path_factory.mktemp("warehouse")),
        },
    )
    yield spark, str(logdir)
    spark.stop()


def read_jobs(logdir, spark):
    """Jobs of the running application, once the listener has logged
    the end of every job submitted so far."""
    path = spans.find_event_log(logdir)
    want = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    deadline = time.time() + 30
    while True:
        jobs = spans.parse_event_log(path)
        if {j.id for j in jobs if j.end is not None} >= set(want) or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def drive(wl_cls, spark, logdir, tmp_path, seed, ops):
    tracer = spans.Tracer(sc=spark.sparkContext)
    wl = wl_cls(seed, str(tmp_path), 2, tracer)
    wl.generate()
    for rep in range(2):
        wl.setup(spark, rep)
    for i in range(ops):
        with tracer.span(workloads.OP, request=i):
            out, n = wl.op(spark, i)
        assert n > 0
        assert wl.check(out) == []
    quality, errs = wl.finish(spark)
    assert errs == []
    assert wl.isolated(spark) == []
    att = spans.Attribution(tracer.spans, read_jobs(logdir, spark))
    return wl, quality, wl.layers(att)


@pytest.mark.parametrize("seed", [1, 2])
def test_corpus_stats_small(session, tmp_path, seed):
    spark, logdir = session
    wl, quality, layers = drive(SmallCorpus, spark, logdir, tmp_path, seed, ops=1)
    assert quality == 1.0
    for name in (
        "sources.io.scan_s", "sources.io.scan_bytes", "operators.tokenize.exec_s",
        "operators.tokenize.task_cpu_s", "operators.counts.exec_s",
        "operators.counts.shuffle_write_bytes", "operators.cooccur.exec_s",
        "operators.cooccur.task_cpu_s", "operators.cooccur.shuffle_write_bytes",
        "operators.cooccur.shuffle_records",
    ):
        assert layers[name] > 0, name
    # the full outputs, not only the statistics the run checks, equal
    # the Counter oracle at this size
    lines = [r.text for r in load_table(spark, wl.inputs, "corpus").orderBy("doc_id").collect()]
    counts, pairs, stripe_ref = corpus_oracle(lines, [1, 3], 2)
    assert {(r.category, r.token): r.cnt for r in token_counts(wl.df).collect()} == dict(counts)
    for m in (1, 3):
        got = {(r.category, r.left, r.right): r.cnt for r in pair_counts(wl.df, m=m).collect()}
        assert got == dict(pairs[m])
    got = {(r.category, r.token): dict(r.stripe) for r in stripes(wl.df, m=2).collect()}
    assert got == {k: dict(v) for k, v in stripe_ref.items()}


def test_corpus_check_rejects_wrong_counts(session, tmp_path):
    spark, _ = session
    wl = SmallCorpus(1, str(tmp_path), 2, spans.Tracer(enabled=False))
    wl.generate()
    wl.setup(spark, 0)
    out, _ = wl.op(spark, 0)
    out["pairs3"] = [out["pairs3"][0], out["pairs3"][1] + 1, out["pairs3"][2]]
    out["top"] = out["top"][:-1]
    assert len(wl.check(out)) == 2


@pytest.mark.parametrize("seed", [1, 2])
def test_neardup_ingest_small(session, tmp_path, seed):
    spark, logdir = session
    wl, recall, layers = drive(SmallNeardup, spark, logdir, tmp_path, seed, ops=3)
    assert recall == 1.0
    for name in (
        "operators.dedup.signatures_s", "operators.dedup.task_cpu_s", "operators.dedup.clusters_s",
        "operators.neardup_graph.refresh_s", "operators.neardup_graph.driver_s",
        "operators.neardup_graph.jobs_per_refresh", "operators.neardup_graph.history_scan_bytes",
        "operators.neardup_graph.edges_per_doc", "sources.io.bytes_written_per_doc",
    ):
        assert layers[name] > 0, name
    # the traced run's search requests measure the similarity and bm25 layers
    for layer in ("operators.similarity", "operators.bm25"):
        for metric in ("driver_ms", "exec_ms", "jobs_per_request", "rows_scanned_per_result"):
            assert layers[f"{layer}.{metric}"] > 0, (layer, metric)
    assert layers["operators.similarity.tasks_per_request"] > 0
    # refresh equals rebuild: the grown store holds exactly the edges of
    # one build over the concatenated batches
    one_shot = str(tmp_path / "one_shot")
    every = load_table(spark, wl.inputs, "base")
    for b in range(3):
        every = every.unionByName(load_table(spark, wl.inputs, f"batch{b:03d}"))
    neardup_graph_build(spark, every, one_shot, threshold=wl.THRESHOLD)
    edges = lambda p: Counter((r.id_a, r.id_b, r.jac_est) for r in neardup_graph_load(spark, p).collect())
    assert edges(wl.store) == edges(one_shot)


def test_neardup_check_rejects_short_refresh(session, tmp_path):
    spark, _ = session
    wl = SmallNeardup(3, str(tmp_path), 2, spans.Tracer(enabled=False))
    wl.generate()
    wl.setup(spark, 0)
    out, _ = wl.op(spark, 0)
    out["stats"] = dict(out["stats"], docs=out["stats"]["docs"] - 1)
    assert wl.check(out)


@pytest.mark.parametrize("seed", [1, 2])
def test_search_requests_small(session, tmp_path, seed):
    spark, _ = session
    wl = SmallSearch(seed, str(tmp_path), 2, spans.Tracer(enabled=False))
    wl.generate()
    wl.setup(spark, 0)
    for i in range(2):
        out, _ = wl.op(spark, i)
        assert wl.check(out) == []
    recall, errs = wl.finish(spark)
    assert errs == [] and 0.9 <= recall <= 1.0


def test_search_check_rejects_wrong_scores(session, tmp_path):
    spark, _ = session
    wl = SmallSearch(4, str(tmp_path), 2, spans.Tracer(enabled=False))
    wl.generate()
    wl.setup(spark, 0)
    out, _ = wl.op(spark, 0)
    assert wl.check(out) == []
    out["lexical"] = [
        Row(**dict(r.asDict(), score=r.score * 1.01)) if r.rank == 1 else r for r in out["lexical"]
    ]
    out["dense"] = out["dense"][1:]
    errs = wl.check(out)
    assert any("bm25" in e for e in errs) and any("ivf" in e for e in errs)


def test_run_refuses_a_checkout_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the command exits
    non-zero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    spec = json.loads((tmp_path / "BENCHMARK.json").read_text())
    p = subprocess.run(
        [sys.executable, *spec["command"][1:], "--workload", "corpus_stats", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
