"""Repository benchmark: one seeded workload run, end to end.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed (before the system starts), starts the system under test
(perfbench/worker.py) in a process group of its own with a host-sized
environment, measures for ``--seconds`` seconds, checks the outputs
once the worker has exited, and prints one line per metric followed,
as the last line, by a JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.
With ``--trace 0`` the metrics are the end-to-end ones listed in
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, taken
from spans and engine counters recorded around calls into each layer.

Whatever way the run ends (normally, by timeout or by signal) the
process group is killed and the run fails if any process it spawned
(driver, JVM, pyspark daemon, Python workers) is still alive. Inputs
and engine scratch space live in perfbench/.work/ and are removed.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import workloads as W  # noqa: E402
from tracing import cpu_times, steal_frac  # noqa: E402

RUN_BUDGET_S = 170  # the whole run, generation and cleanup included
CLEANUP_S = 30
STOP_GRACE_S = 15  # for the worker's own session shutdown after SIGTERM
POLL_S = 0.2
STEAL_WARN = 0.05
PR_SET_CHILD_SUBREAPER = 36


class Signalled(BaseException):
    def __init__(self, signum: int) -> None:
        super().__init__(signum)
        self.signum = signum


def _on_signal(signum, _frame):
    # ignore repeats so the cleanup this triggers runs to the end
    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, signal.SIG_IGN)
    raise Signalled(signum)


# -- host ---------------------------------------------------------------------


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def host_env(work: str, token: str) -> tuple[dict, dict]:
    """Child environment sized to this host; returns (env, values set)."""
    cpus = len(os.sched_getaffinity(0))
    # an eighth of RAM, at most 4 GiB: the session pins -Xms to this, and
    # the host is shared
    heap_mb = max(1024, min(4096, _mem_total_mb() // 8) // 256 * 256)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    values = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "PYTHONPATH": ROOT,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # keep the engine's scratch files (native libraries, spills) in the work dir
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PERFBENCH_TOKEN": token,
    }
    env = dict(os.environ)
    env.update(values)
    return env, values


# -- processes ----------------------------------------------------------------


def _proc_stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()  # fields from 3 (state) on


def _pss_kb(pid: str) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def group_rss_mb(pgid: int) -> float:
    """Resident memory of the process group, as proportional set size, so
    pages a fork shares with its parent are not counted twice."""
    total = 0
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _proc_stat(pid)
            if st is not None and int(st[2]) == pgid:
                total += _pss_kb(pid)
    return total / 1024


def spawned_pids(pgid: int, token: str) -> list[int]:
    """Live processes of the run: in its process group or carrying its token."""
    mark = f"PERFBENCH_TOKEN={token}".encode()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        st = _proc_stat(pid)
        if st is None or st[0] == "Z":
            continue
        if int(st[2]) == pgid:
            out.append(int(pid))
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if mark in f.read().split(b"\0"):
                    out.append(int(pid))
        except OSError:
            pass
    return out


def reap(pgid: int, token: str, grace_s: float) -> list[int]:
    """Wait up to ``grace_s`` for the run's processes to exit, then kill
    whatever is left and wait for it. Returns the pids that had to be killed."""
    deadline = time.monotonic() + grace_s
    while (left := spawned_pids(pgid, token)) and time.monotonic() < deadline:
        time.sleep(POLL_S)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while spawned_pids(pgid, token):
        _reap_orphans()
        time.sleep(POLL_S)
    _reap_orphans()
    return left


def _reap_orphans() -> None:
    """Collect exited descendants re-parented to this process (it is their
    subreaper), so none lingers as a zombie."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def run_worker(cfg: dict, env: dict, work: str, deadline: float, token: str) -> dict:
    """Run worker.py; returns its result plus peak RSS and leaked pids."""
    cfg_path = os.path.join(work, "config.json")
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cfg["parent"] = os.getpid()
    cfg["launched"] = time.monotonic()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path, result_path],
            cwd=work,  # stray engine files (logs, crash dumps) land in the work dir
            env=env,
            stdin=subprocess.DEVNULL,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
    peak = 0.0
    timed_out = False
    try:
        while proc.poll() is None:
            peak = max(peak, group_rss_mb(proc.pid))
            if time.monotonic() > deadline:
                timed_out = True
                break
            time.sleep(POLL_S)
    finally:
        if proc.poll() is None:
            # SIGTERM lets the worker stop its session; then the whole group goes
            proc.terminate()
            try:
                proc.wait(timeout=STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
        leaked = reap(proc.pid, token, grace_s=10)
    out = {"peak_rss_mb": peak, "leaked": leaked, "timed_out": timed_out}
    if os.path.exists(result_path):
        with open(result_path) as f:
            out.update(json.load(f))
    else:
        out["ok"] = False
    if not out.get("ok"):
        with open(log_path) as f:
            out["log_tail"] = f.read()[-4000:]
    return out


# -- correctness --------------------------------------------------------------


def check_outputs(checks: list[dict], tables: str | None) -> list[str]:
    """Verify what the worker left in the work dir. This runs after the
    worker has exited, so the checker's memory and time are not the
    program's. Query results are compared with their ``oracle_sql()`` twin
    in DuckDB (rows-only for entries without one); the ETL target must
    hold exactly the expected rows, with no duplicate ``arrest_key``."""
    import duckdb
    import pandas as pd

    sys.path.insert(0, ROOT)
    from tools.compare_oracle import TABLES, canon, value_repr

    failures = []
    con = duckdb.connect()
    if tables is not None:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables, t)}.parquet'")
    for c in checks:
        if "target" in c:
            n, distinct = con.sql(
                "SELECT count(*), count(DISTINCT arrest_key) "
                f"FROM read_parquet('{c['target']}/**/*.parquet')"
            ).fetchone()
            if n != c["rows"] or distinct != n:
                failures.append(f"target rows {n}, distinct keys {distinct}, expected {c['rows']}")
            continue
        name, got = c["query"], pd.read_parquet(c["path"])
        if c["oracle"] is None:
            if len(got) == 0:
                failures.append(f"{name}: no rows")
            continue
        s, d = canon(got), canon(con.sql(c["oracle"]).df())
        if list(s.columns) != list(d.columns):
            failures.append(f"{name}: columns {list(s.columns)} != {list(d.columns)}")
        elif len(s) != len(d):
            failures.append(f"{name}: {len(s)} rows != oracle {len(d)}")
        elif value_repr(s) != value_repr(d):
            failures.append(f"{name}: values differ from the oracle")
    con.close()
    return failures


# -- metrics ------------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float] | None:
    """(percentile, value) at the highest percentile with at least ten
    samples beyond it, or None when there are too few samples."""
    xs = sorted(latencies)
    k = len(xs) - 11
    if k < len(xs) // 2:
        return None
    return 100.0 * (k + 1) / len(xs), xs[k]


def end_to_end(res: dict, workload: str) -> tuple[dict, list[str]]:
    lat = [o["latency_s"] for o in res["ops"]]
    timed_s = res["extra"]["timed_s"]
    metrics = {
        "setup_s": res["setup_s"],
        "op_s_p50": statistics.median(lat),
        "ops_per_s": len(lat) / timed_s,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    notes = [f"op_s_p50 over {len(lat)} ops in {timed_s:.1f} s, after {res['extra']['warm_s']:.1f} s of warm ops"]
    notes.append("op latencies s: " + " ".join(f"{x:.3f}" for x in lat))
    t = tail(lat)
    notes.append(
        f"op_s_tail {t[1]:.4f} s at p{t[0]:.1f} (n={len(lat)})"
        if t
        else f"op_s_tail omitted: {len(lat)} ops leave fewer than 10 beyond any percentile above the median"
    )
    if workload == "etl_incremental":
        notes.append(f"rows_per_s {res['extra']['rows_per_op'] * len(lat) / timed_s:.1f} 1/s (raw delta rows scanned)")
        notes.append(f"preload_s {res['extra']['preload_s']:.4f} s (included in setup_s)")
    return metrics, notes


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=W.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ROOT, "nypd_arrest_etl_spark")):
        print(f"perfbench: no nypd_arrest_etl_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, _on_signal)
    # orphaned descendants (a JVM whose driver died) re-parent to us and get reaped
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    token = uuid.uuid4().hex
    work = os.path.join(HERE, ".work", token)
    os.makedirs(work)
    load_before, cpu_before = _loadavg(), cpu_times()
    try:
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace, "work": work}
        if args.workload == "etl_incremental":
            cfg["truth"] = gen.nypd_history(
                os.path.join(work, "nypd"), args.seed, W.ETL_BASE_ROWS, W.ETL_DELTA_ROWS, W.ETL_DELTAS
            )
        else:
            cfg["tables"] = os.path.join(work, "tables")
            gen.star_tables(cfg["tables"], args.seed, W.QUERY_SF)
        env, env_set = host_env(work, token)
        res = run_worker(cfg, env, work, started + RUN_BUDGET_S - CLEANUP_S, token)
        if res.get("ok"):
            res["failures"] += check_outputs(res["checks"], cfg.get("tables"))
    except Signalled as s:
        print(f"perfbench: stopped by signal {s.signum}", file=sys.stderr)
        return 128 + s.signum
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is using it
            pass
    cpu_after = cpu_times()

    if not res.get("ok"):
        why = "timed out" if res["timed_out"] else "failed"
        print(f"perfbench: worker {why}\n{res.get('error') or res.get('log_tail', '')}", file=sys.stderr)
        if res["leaked"]:
            print(f"perfbench: killed leftover processes {res['leaked']}", file=sys.stderr)
        return 1

    if not res["ops"]:
        print(f"perfbench: no timed op completed: {res['failures'][:5]}", file=sys.stderr)
        return 1
    failures = list(res["failures"])
    if res["leaked"]:
        failures.append(f"processes still alive after the worker exited: {res['leaked']}")
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": _mem_total_mb(),
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "steal_frac": steal_frac(cpu_before, cpu_after),
        "steal_frac_timed": res["extra"]["timed_steal_frac"],
    }
    attempted = res["attempted"]

    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {n: float(res["layers"].get(n, 0.0)) for n in names}
        notes = ["per-layer metrics; 0 where the workload does not exercise the layer"]
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(res["spans"], f)
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values, notes = end_to_end(res, args.workload)
    notes.append(f"failed_frac {len(failures) / attempted:.4f} ({len(failures)}/{attempted})")

    print(f"perfbench workload={args.workload} seed={args.seed} trace={args.trace}")
    for name, v in values.items():
        print(f"  {name:32s} {v:14.4f} {units[name]}")
    for n in notes:
        print(f"  {n}")
    for fmsg in failures[:20]:
        print(f"  FAILED: {fmsg}")
    print(f"perfbench env {json.dumps(env_set)}")
    print(f"perfbench host {json.dumps(host)}")
    if host["steal_frac_timed"] > STEAL_WARN:
        # the hypervisor ran other guests on this machine's CPUs: timings
        # of this run read slow for reasons outside the program
        print(f"perfbench: WARNING {host['steal_frac_timed']:.1%} CPU steal while timing")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
