"""The system-under-test process of one benchmark run.

``run.py`` starts it in a process group of its own with a host-sized
environment, polls the group's memory, and kills the group if the run
overruns. The worker sets up the session, runs the workload's warm and
timed ops, checks the counts each ETL op returns, and writes everything
to RESULT_JSON. It also lists the outputs that run.py checks after this
process has exited, so the checker's work stays out of the measured
process group. ``SparkSession.stop()`` and the gateway JVM's shutdown
run in a ``finally`` whatever happens.

Usage: python perfbench/worker.py CONFIG_JSON RESULT_JSON
Config keys: workload, seed, seconds, trace, work, parent (run.py's
pid), launched (its time.monotonic() when it spawned this process),
and the generator's ground truth or table directory.
"""

from __future__ import annotations

import ctypes
import json
import os
import random
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads as W  # noqa: E402
from tracing import (  # noqa: E402
    JobCensus,
    Tracer,
    cpu_times,
    jvm_stats,
    reset_heap_peaks,
    steal_frac,
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _parquet_stats(path: str) -> tuple[int, int]:
    """(number of .parquet files, total bytes) under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def _trace_flags(rng: random.Random):
    """Endless traced/untraced alternation, each pair in random order,
    so the two kinds of op see the same drift in state and host."""
    while True:
        pair = [True, False]
        rng.shuffle(pair)
        yield from pair


@contextmanager
def _spans_around(module, names: dict[str, str], tracer: Tracer, op: int):
    """Temporarily wrap ``module``'s functions so each call records a span."""
    saved = {attr: getattr(module, attr) for attr in names}

    def wrap(attr, fn):
        def traced(*args, **kwargs):
            with tracer.span(names[attr], op=op):
                return fn(*args, **kwargs)

        return traced

    for attr, fn in saved.items():
        setattr(module, attr, wrap(attr, fn))
    try:
        yield
    finally:
        for attr, fn in saved.items():
            setattr(module, attr, fn)


class Run:
    """State of one workload run: op latencies, failures, checks, spans."""

    def __init__(self, spark, cfg: dict) -> None:
        self.spark = spark
        self.cfg = cfg
        self.seconds = cfg["seconds"]
        self.trace = bool(cfg["trace"])
        self.rng = random.Random(cfg["seed"])
        self.tracer = Tracer()
        self.census = JobCensus(spark) if self.trace else None
        self.ops: list[dict] = []  # timed ops: latency_s, traced
        self.attempted = 0
        self.failures: list[str] = []
        self.checks: list[dict] = []  # outputs for run.py to verify
        self.layers: dict[str, float] = {}
        self.extra: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def aux_group(self) -> None:
        """Put the actions that follow outside every census group."""
        if self.census is not None:
            self.spark.sparkContext.setJobGroup("perfbench-aux", "perfbench-aux")

    @contextmanager
    def timed_region(self):
        if self.trace:
            reset_heap_peaks(self.spark)
            before = jvm_stats(self.spark)
        cpu = cpu_times()
        start = time.perf_counter()
        yield start
        self.extra["timed_s"] = time.perf_counter() - start
        self.extra["timed_steal_frac"] = steal_frac(cpu, cpu_times())
        if self.trace:
            after = jvm_stats(self.spark)
            self.layers["jvm.gc_s"] = after["gc_s"] - before["gc_s"]
            self.layers["jvm.gc_count"] = after["gc_count"] - before["gc_count"]
            self.layers["jvm.heap_peak_mb"] = after["heap_peak_mb"]

    def overhead(self) -> None:
        traced = [o["latency_s"] for o in self.ops if o["traced"]]
        plain = [o["latency_s"] for o in self.ops if not o["traced"]]
        self.layers["trace.traced_op_s_p50"] = _median(traced)
        self.layers["trace.untraced_op_s_p50"] = _median(plain)
        self.layers["trace.overhead_s"] = _median(traced) - _median(plain)


# -- etl_incremental ----------------------------------------------------------


def _etl_check(run: Run, label: str, res, want: dict) -> None:
    got = (res.details["scanned"], res.details["cleaned"], res.inserted)
    exp = (want["scanned"], want["cleaned"], want["inserted"])
    if got != exp:
        run.fail(f"{label}: (scanned, cleaned, inserted) {got} != {exp}")


def etl_incremental(run: Run) -> None:
    from nypd_arrest_etl_spark import pipeline

    spark, truth = run.spark, run.cfg["truth"]
    target = os.path.join(run.cfg["work"], "target")
    deltas = iter(enumerate(truth["deltas"]))
    inserted = 0

    # preload: the bulk history load, part of set-up
    run.aux_group()
    base = truth["base"]
    t, res = _timed(lambda: pipeline.run_etl(spark, base["path"], target))
    run.extra["preload_s"] = t
    run.layers["pipeline.preload_s"] = t
    run.attempted += 1
    _etl_check(run, "preload", res, base)
    inserted += base["inserted"]

    warm_start = time.perf_counter()
    for _ in range(W.ETL_WARM_OPS):
        i, d = next(deltas)
        res = pipeline.run_etl(spark, d["path"], target)
        run.attempted += 1
        _etl_check(run, f"delta {i}", res, d)
        inserted += d["inserted"]
        if run.trace:  # compile the stage-split plans outside the timed region
            _noop(pipeline.extract(spark, d["path"]))
            _noop(pipeline.transform(pipeline.extract(spark, d["path"])))
    run.extra["warm_s"] = time.perf_counter() - warm_start

    traced_ops: list[dict] = []
    flags = _trace_flags(run.rng)
    with run.timed_region() as start:
        while time.perf_counter() - start < run.seconds:
            nxt = next(deltas, None)
            if nxt is None:
                run.extra["deltas_exhausted"] = True
                break
            i, d = nxt
            traced = run.trace and next(flags)
            if traced:
                rec, res = _etl_traced_op(run, pipeline, i, d["path"], target)
                traced_ops.append(rec)
                lat = rec["run_etl_s"]
            else:
                lat, res = _timed(lambda: pipeline.run_etl(spark, d["path"], target))
            run.ops.append({"latency_s": lat, "traced": traced})
            run.attempted += 1
            _etl_check(run, f"delta {i}", res, d)
            inserted += d["inserted"]

    run.extra["rows_per_op"] = truth["deltas"][0]["scanned"]
    # run.py reads the target once this process has exited
    run.checks.append({"target": target, "rows": inserted})

    if run.trace:
        _etl_layers(run, pipeline, traced_ops, base["path"], target)


def _etl_traced_op(run: Run, pipeline, i: int, path: str, target: str):
    spark, tracer = run.spark, run.tracer
    rec = {"input_mb": os.path.getsize(path) / 2**20}
    run.aux_group()
    # lazy stages: materialise extract, then extract+clean, through noop
    rec["extract_s"], _ = _timed(lambda: _noop(pipeline.extract(spark, path)))
    rec["extract_clean_s"], _ = _timed(
        lambda: _noop(pipeline.transform(pipeline.extract(spark, path)))
    )
    files_before, _ = _parquet_stats(target)
    group = run.census.new_group()
    names = {"high_watermark": "files.high_watermark", "load": "merge.load"}
    with _spans_around(pipeline, names, tracer, i):
        with tracer.span("pipeline.run_etl", op=i) as sp:
            res = pipeline.run_etl(spark, path, target)
    rec["run_etl_s"] = sp["end"] - sp["start"]
    rec.update(run.census.counts(group))
    hwm = next(s for s in reversed(tracer.spans) if s["name"] == names["high_watermark"])
    rec["hwm_s"] = hwm["end"] - hwm["start"]
    rec["files_written"] = _parquet_stats(target)[0] - files_before
    rec["scanned"] = res.details["scanned"]
    rec["cleaned"] = res.details["cleaned"]
    rec["dropped"] = res.details["dropped_invalid"]
    rec["inserted"] = res.inserted
    return rec, res


def _etl_layers(run: Run, pipeline, ops: list[dict], base_path: str, target: str) -> None:
    spark = run.spark

    def med(key):
        return _median([o[key] for o in ops])

    files, size = _parquet_stats(target)
    cleaned = sum(o["cleaned"] for o in ops)
    run.layers.update(
        {
            "files.extract_s": med("extract_s"),
            "files.rows_scanned": med("scanned"),
            "files.input_mb": med("input_mb"),
            "files.high_watermark_s": med("hwm_s"),
            "clean.self_s": _median([o["extract_clean_s"] - o["extract_s"] for o in ops]),
            "clean.rows_out": med("cleaned"),
            "clean.rows_dropped": med("dropped"),
            "merge.self_s": _median([o["run_etl_s"] - o["extract_clean_s"] for o in ops]),
            "merge.rows_attempted": med("cleaned"),
            "merge.rows_inserted": med("inserted"),
            "merge.insert_ratio": sum(o["inserted"] for o in ops) / cleaned if cleaned else 0.0,
            "merge.files_written": med("files_written"),
            "merge.target_files": files,
            "merge.target_mb": size / 2**20,
            "pipeline.run_etl_s": med("run_etl_s"),
            "pipeline.spark_jobs": med("jobs"),
            "pipeline.spark_stages": med("stages"),
            "pipeline.spark_tasks": med("tasks"),
        }
    )
    # the bulk path (the preload's input), split the same way, once warm
    run.aux_group()
    ext, _ = _timed(lambda: _noop(pipeline.extract(spark, base_path)))
    both, _ = _timed(lambda: _noop(pipeline.transform(pipeline.extract(spark, base_path))))
    run.layers["files.bulk_extract_s"] = ext
    run.layers["clean.bulk_self_s"] = both - ext
    run.overhead()


# -- query_mix ----------------------------------------------------------------


def query_mix(run: Run) -> None:
    import __spark_entry__ as registry

    spark, sf = run.spark, run.cfg["tables"]
    names = list(W.PLAN_QUERIES) + list(W.CORPUS_QUERIES)
    fns, oracles = registry.queries(), registry.oracle_sql()

    # untimed warm pass; it writes every result as parquet, which run.py
    # checks against the oracle once this process has exited
    run.aux_group()
    warm_start = time.perf_counter()
    results = os.path.join(run.cfg["work"], "results")
    order = names[:]
    run.rng.shuffle(order)
    for name in order:
        run.attempted += 1
        try:
            fns[name](spark, sf).write.parquet(os.path.join(results, name))
        except Exception as e:  # the query itself failed: count it, carry on
            run.fail(f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        run.checks.append(
            {"query": name, "path": os.path.join(results, name), "oracle": oracles.get(name)}
        )
    run.extra["warm_s"] = time.perf_counter() - warm_start

    flags = _trace_flags(run.rng)
    per_query: dict[str, list[dict]] = {n: [] for n in names}

    def schedule(start: float):
        """Queries in seed-shuffled passes. The first pass is whole, so
        every query is timed (twice when tracing: once traced, once not);
        after it the run stops at the first op boundary past --seconds."""
        first = True
        while True:
            run.rng.shuffle(order)
            for name in order:
                if not first and time.perf_counter() - start >= run.seconds:
                    return
                yield name
            first = False

    with run.timed_region() as start:
        for name in schedule(start):
            for traced in (next(flags), next(flags)) if run.trace else (False,):
                run.attempted += 1
                try:
                    rec = _query_op(run, name, fns[name], sf, traced)
                except Exception as e:
                    run.fail(f"{name}: {type(e).__name__}: {e}"[:300])
                    continue
                run.ops.append({"latency_s": rec["latency_s"], "traced": traced, "query": name})
                if traced:
                    per_query[name].append(rec)

    if run.trace:
        _query_layers(run, per_query)


def _query_op(run: Run, name: str, fn, sf: str, traced: bool) -> dict:
    if not traced:
        lat, _ = _timed(lambda: _noop(fn(run.spark, sf)))
        return {"latency_s": lat}
    group = run.census.new_group()
    with run.tracer.span(f"query.{name}", query=name) as sp:
        _noop(fn(run.spark, sf))
    return {"latency_s": sp["end"] - sp["start"], **run.census.counts(group)}


def _query_layers(run: Run, per_query: dict[str, list[dict]]) -> None:
    def med(name, key="latency_s"):
        return _median([r[key] for r in per_query[name]])

    for name in W.PLAN_QUERIES:
        run.layers[f"plans.{name}_s"] = med(name)
    rel = [r for n in W.PLAN_QUERIES for r in per_query[n]]
    run.layers["plans.jobs_per_query"] = _median([r["jobs"] for r in rel])
    run.layers["plans.tasks_per_query"] = _median([r["tasks"] for r in rel])
    for fam in set(W.CORPUS_QUERIES.values()):
        run.layers[f"ops.{fam}_s"] = sum(med(n) for n, f in W.CORPUS_QUERIES.items() if f == fam)
    corpus = [r for n in W.CORPUS_QUERIES for r in per_query[n]]
    run.layers["ops.jobs_per_query"] = _median([r["jobs"] for r in corpus])
    run.layers["ops.tasks_per_query"] = _median([r["tasks"] for r in corpus])
    run.overhead()


# -- entry --------------------------------------------------------------------


PR_SET_PDEATHSIG = 1


def _exit_on_sigterm(signum, _frame):
    raise SystemExit(128 + signum)  # unwinds through the finally below


def main(cfg_path: str, result_path: str) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    # if run.py dies, even by SIGKILL, get SIGTERM and stop the session
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_PDEATHSIG, signal.SIGTERM, 0, 0, 0)
    with open(cfg_path) as f:
        cfg = json.load(f)
    if os.getppid() != cfg["parent"]:  # it died before the line above
        return 1
    result: dict = {"ok": False}
    spark = None
    try:
        from nypd_arrest_etl_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{cfg['workload']}")
        t_session = time.monotonic()
        spark.range(1000).selectExpr("sum(id)").collect()  # warm-up job
        t_ready = time.monotonic()
        run = Run(spark, cfg)
        run.layers["session.get_spark_s"] = t_session - cfg["launched"]
        run.layers["session.warmup_s"] = t_ready - t_session
        {"etl_incremental": etl_incremental, "query_mix": query_mix}[cfg["workload"]](run)
        result.update(
            ok=True,
            setup_s=t_ready - cfg["launched"] + run.extra.get("preload_s", 0.0),
            ops=run.ops,
            attempted=run.attempted,
            failures=run.failures,
            checks=run.checks,
            layers=run.layers,
            extra=run.extra,
            spans=run.tracer.spans,
        )
    except Exception:
        result["error"] = traceback.format_exc()
    finally:
        _shutdown(spark)
        with open(result_path, "w") as f:
            json.dump(result, f)
    return 0 if result["ok"] else 1


def _shutdown(spark) -> None:
    """Stop the session, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF from its driver
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1], sys.argv[2]))
