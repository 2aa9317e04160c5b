"""Benchmark entry point.

Run from the root of a checkout:

    python3 perfbench/run.py --workload corpus_stats --seed 1 --seconds 10 --trace 0

It generates the workload's inputs from ``--seed`` under
``.perfbench_work/`` in the current directory, starts a Spark session with
the package's ``session.get_spark``, builds the workload's state several
times (set-up time is their median plus session start), then runs one
operation at a time for ``--seconds`` after one untimed warm-up operation.
Every operation's output is checked. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``;
``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json`` and
``--trace 1`` its per-layer metrics, from spans and Spark's event log.
The exit code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 2
# untimed, checked operations before the timed loop: the first operation
# compiles the workload's hot paths
WARMUP_OPS = 1
HARD_LIMIT_S = 170.0
RSS_PERIOD_S = 0.2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    Python driver, the JVM and Spark's Python workers), sampled from
    ``/proc`` on a background thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        kids: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            kids.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(kids.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop.wait(RSS_PERIOD_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._tree_rss())


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        f"-Dderby.system.home={os.path.join(work, 'derby')}",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    started = time.perf_counter()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "big_data_hadoop_spark", "__init__.py")):
        log(f"no big_data_hadoop_spark package under {root}; run from the repository root")
        return 2
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path[:0] = [HERE, root]
    import workloads
    from spans import Attribution, Tracer, find_event_log, parse_event_log

    from big_data_hadoop_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "derby", "eventlog", "spark-local"):
        os.makedirs(os.path.join(work, d))
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    tempfile.tempdir = os.path.join(work, "tmp")

    spark = None

    def hard_stop():
        log(f"run exceeded {HARD_LIMIT_S:.0f}s; stopping")
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(timeout=10)
        os._exit(3)

    watchdog = threading.Timer(HARD_LIMIT_S, hard_stop)
    watchdog.daemon = True
    watchdog.start()

    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](args.seed, work, cpus, tracer)
    attempted = failed = 0
    errors: list[str] = []
    lat, traced_lat, untraced_lat, items = [], [], [], 0
    phases: dict[str, float] = {}
    try:
        # the /proc sampler costs CPU, so only the traced run keeps it
        with PeakRss() if args.trace else contextlib.nullcontext() as rss:
            wl.generate()
            phases["generate"] = time.perf_counter() - started
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=spark_conf(work, bool(args.trace)))
            session_s = time.perf_counter() - t0
            if args.trace:
                tracer.sc = spark.sparkContext
            setups = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(spark, rep)
                setups.append(time.perf_counter() - t0)

            def one_op(i: int, timed: bool, traced: bool):
                nonlocal attempted, failed, items
                attempted += 1
                tracer.enabled = traced
                try:
                    t0 = time.perf_counter()
                    with tracer.span(workloads.OP, request=i):
                        out, n = wl.op(spark, i)
                    dt = time.perf_counter() - t0
                    errs = wl.check(out)
                except Exception:
                    failed += 1
                    errors.append(traceback.format_exc())
                    return
                finally:
                    tracer.enabled = bool(args.trace)
                if errs:
                    failed += 1
                    errors.extend(errs)
                    return
                if timed:
                    lat.append(dt)
                    items += n
                    (traced_lat if traced else untraced_lat).append(dt)

            phases["setup"] = time.perf_counter() - started
            for i in range(WARMUP_OPS):
                one_op(i, timed=False, traced=False)
            phases["warm-up"] = time.perf_counter() - started
            deadline = time.perf_counter() + args.seconds
            i = WARMUP_OPS
            while time.perf_counter() < deadline:
                # a traced run alternates traced and untraced operations,
                # so the difference of their medians is the tracing overhead
                one_op(i, timed=True, traced=bool(args.trace) and i % 2 == 1)
                i += 1
            phases["timed"] = time.perf_counter() - started
            attempted += 1
            try:
                quality, errs = wl.finish(spark)
            except Exception:
                quality, errs = 0.0, [traceback.format_exc()]
            if errs:
                failed += 1
                errors.extend(errs)
            if args.trace:
                tracer.enabled = True
                attempted += 1
                try:
                    errs = wl.isolated(spark)
                except Exception:
                    errs = [traceback.format_exc()]
                if errs:
                    failed += 1
                    errors.extend(errs)
            phases["finished"] = time.perf_counter() - started
            stop_spark(spark)
            phases["stopped"] = time.perf_counter() - started
            spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        watchdog.cancel()

    if args.trace:
        jobs = parse_event_log(find_event_log(os.path.join(work, "eventlog")))
        att = Attribution(tracer.spans, jobs)
        traces = os.path.join(root, ".perfbench_work", "traces")
        os.makedirs(traces, exist_ok=True)
        att.write(os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl"))
        ops = att.named(workloads.OP)
        n_ops = max(len(ops), 1)
        op_jobs = [j for s in ops for j in att.jobs(s)]
        values = {
            "session.start_s": session_s,
            "session.peak_rss_mb": rss.peak / 2**20,
            "spark.tasks": sum(j.tasks for j in op_jobs) / n_ops,
            "spark.failed_tasks": sum(j.failed_tasks for j in jobs),
            "spark.gc_s": sum(j.gc_s for j in op_jobs) / n_ops,
            "spark.fetch_wait_s": sum(j.fetch_wait_s for j in op_jobs) / n_ops,
            "spark.driver_share": sum(att.driver_s(s) for s in ops) / max(sum(s.duration for s in ops), 1e-9),
            "trace.overhead_ms": 1e3 * (
                statistics.median(traced_lat) - statistics.median(untraced_lat)
                if traced_lat and untraced_lat else 0.0
            ),
        }
        values.update(wl.layers(att))
    else:
        values = {
            "setup_s": session_s + statistics.median(setups),
            "items_per_s": items / sum(lat) if lat else 0.0,
            "op_p50_ms": 1e3 * statistics.median(lat) if lat else 0.0,
            "recall": quality,
        }
    if not lat:
        errors.append("no timed operation completed")
    for e in errors:
        log(e)
    correct = failed == 0 and bool(lat)
    log(
        f"{args.workload} seed={args.seed}: timed ops {[round(x, 2) for x in lat]}, session {session_s:.2f}s, "
        f"set-ups {[round(s, 2) for s in setups]}; phases end at "
        + ", ".join(f"{k} {v:.1f}s" for k, v in phases.items())
    )
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
        },
    }
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
