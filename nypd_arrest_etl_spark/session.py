"""SparkSession factory sized to the host it runs on.

Local mode runs the driver and every task thread in one JVM, so the two
sizing values are read from the host each time ``get_spark`` is called:

- task slots (``local[n]``, also the default shuffle partition count):
  the CPUs in this process's affinity mask, capped by a cgroup CPU quota
  (v1 ``cpu.cfs_quota_us`` / ``cpu.cfs_period_us`` or v2 ``cpu.max``);
- driver heap: a quarter of ``min(MemTotal, cgroup memory limit)`` (v1
  ``memory.limit_in_bytes`` or v2 ``memory.max``). The rest stays free
  for the JVM's off-heap memory, the Python workers and the page cache.

``SPARK_GRAFT_CPUS`` and ``SPARK_GRAFT_DRIVER_MEM`` override either
value. Every other setting is a constant that differs from Spark's
default, each with its reason.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Mapping

from pyspark.sql import SparkSession

HEAP_FRACTION = 4  # driver heap = usable host memory / HEAP_FRACTION


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _positive_int(text: str | None) -> int | None:
    """A cgroup figure; None for an absent file, ``max`` or ``-1``."""
    try:
        n = int(text)
    except (TypeError, ValueError):
        return None
    return n if n > 0 else None


def host_sizing(
    env: Mapping[str, str],
    affinity_cpus: int,
    read: Callable[[str], str | None] = _read,
) -> tuple[int, str]:
    """``(task slots, driver memory)`` for a session on this host.

    Pure given its inputs: ``read(path)`` returns a file's text or None,
    so a test can stand in for /proc and /sys.
    """
    own = {}  # controller -> this process's cgroup; "" is the v2 hierarchy
    for line in (read("/proc/self/cgroup") or "").splitlines():
        _, controllers, path = line.split(":", 2)
        for c in controllers.split(","):
            own[c] = path.strip("/")

    def cgroup(controller: str, name: str) -> list[str | None]:
        # v1 mounts each controller under its own name, v2 one hierarchy at
        # the root. A container may see its own cgroup mounted as the root,
        # so both the process's path and the mount's root are read.
        mount = os.path.join("/sys/fs/cgroup", controller)
        return [read(os.path.join(mount, d, name)) for d in dict.fromkeys((own.get(controller, ""), ""))]

    cpus = _positive_int(env.get("SPARK_GRAFT_CPUS"))
    if cpus is None:
        quotas = list(zip(cgroup("cpu", "cpu.cfs_quota_us"), cgroup("cpu", "cpu.cfs_period_us")))
        quotas += [text.split() for text in cgroup("", "cpu.max") if text]
        cpus = affinity_cpus
        for quota, period in quotas:
            quota, period = _positive_int(quota), _positive_int(period)
            if quota and period:
                cpus = min(cpus, -(-quota // period))

    driver_mem = env.get("SPARK_GRAFT_DRIVER_MEM")
    if not driver_mem:
        meminfo = (read("/proc/meminfo") or "").splitlines()
        mem = next(int(line.split()[1]) * 1024 for line in meminfo if line.startswith("MemTotal:"))
        for text in cgroup("memory", "memory.limit_in_bytes") + cgroup("", "memory.max"):
            mem = min(mem, _positive_int(text) or mem)
        driver_mem = f"{mem // HEAP_FRACTION >> 20}m"
    return cpus, driver_mem


def get_spark(app_name: str = "nypd_arrest_etl_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the local session, sized to the host.

    The sizing and JVM-level settings take effect only when this call
    launches the JVM; if a session is already running, it is returned.
    """
    cpus, driver_mem = host_sizing(os.environ, len(os.sched_getaffinity(0)))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        # Spark's default is the host's zone; UTC gives timestamps the same
        # meaning as in the DuckDB oracle and the parquet writers on any host.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for every pandas boundary: toPandas of 300k rows ~6x faster.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python DataSource API pushdown (sources/rest.py pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS) which Spark's vectorized
        # reader rejects; read as long (ns since epoch) and convert with
        # exact integer arithmetic (see plans.queries.events_with_ts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Broadcast build sides up to 32 MB (default 10 MB), sparing a shuffle
        # of the larger side (at sf0.1 one more broadcast join in sketch_stats).
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
        # explode(). For arrays COMPUTED by nested higher-order functions
        # (shingles, winnowing fingerprints, minhash signatures — this
        # engine's bread and butter) CollapseProject + predicate pushdown
        # inline the whole lambda chain into that filter and push it below
        # any Repartition: the corpus-wide array pipeline then re-executes
        # single-partition AND per-element (O(n^2) per doc). The skip it
        # buys (empty arrays) is one cheap branch in the Generate itself.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Keep a many-query session's generated classes (default 100 entries):
        # without it perfbench query_mix op_s_p50 was ~20% slower (4 vCPU).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # no web UI: a library session has no one to look at it
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return spark


TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TPCH_TABLES):
    """Read the driver's parquet tables and register them as temp views.

    Returns a dict name -> DataFrame. Reads are lazy; registering views
    lets both the DataFrame API and spark.sql address the same scans.
    """
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
