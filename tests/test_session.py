"""Session sizing: task slots and driver heap come from the host
(affinity mask, cgroup v1/v2 limits, /proc/meminfo), not from constants
tuned for another machine."""

import os

import pytest

from nypd_arrest_etl_spark.session import HEAP_FRACTION, host_sizing

GIB = 1 << 30
MEMINFO = "MemTotal:       16777216 kB\nMemFree:         1000 kB\n"  # 16 GiB
V1_CGROUP = "4:memory:/jobs/a\n2:cpu,cpuacct:/jobs/a\n0::/\n"
V1_UNLIMITED = "9223372036854771712\n"


def _mb(n_bytes):
    return f"{n_bytes // HEAP_FRACTION >> 20}m"


@pytest.mark.parametrize(
    "files, expected",
    [
        (  # cgroup v1, limits on the process's own cgroup
            {
                "/proc/meminfo": MEMINFO,
                "/proc/self/cgroup": V1_CGROUP,
                "/sys/fs/cgroup/memory/jobs/a/memory.limit_in_bytes": f"{2 * GIB}\n",
                "/sys/fs/cgroup/memory/memory.limit_in_bytes": V1_UNLIMITED,
                "/sys/fs/cgroup/cpu/jobs/a/cpu.cfs_quota_us": "150000\n",
                "/sys/fs/cgroup/cpu/jobs/a/cpu.cfs_period_us": "100000\n",
            },
            (2, _mb(2 * GIB)),
        ),
        (  # cgroup v2, the container's cgroup mounted as the root
            {
                "/proc/meminfo": MEMINFO,
                "/proc/self/cgroup": "0::/\n",
                "/sys/fs/cgroup/memory.max": f"{3 * GIB}\n",
                "/sys/fs/cgroup/cpu.max": "300000 100000\n",
            },
            (3, _mb(3 * GIB)),
        ),
    ],
)
def test_cgroup_limits_win_over_host(files, expected):
    assert host_sizing({}, 8, files.get) == expected


def test_unlimited_cgroup_falls_back_to_host():
    v1 = {
        "/proc/meminfo": MEMINFO,
        "/proc/self/cgroup": V1_CGROUP,
        "/sys/fs/cgroup/memory/jobs/a/memory.limit_in_bytes": V1_UNLIMITED,
        "/sys/fs/cgroup/cpu/jobs/a/cpu.cfs_quota_us": "-1\n",
        "/sys/fs/cgroup/cpu/jobs/a/cpu.cfs_period_us": "100000\n",
    }
    v2 = {
        "/proc/meminfo": MEMINFO,
        "/proc/self/cgroup": "0::/\n",
        "/sys/fs/cgroup/memory.max": "max\n",
        "/sys/fs/cgroup/cpu.max": "max 100000\n",
    }
    for files in (v1, v2, {"/proc/meminfo": MEMINFO}):
        assert host_sizing({}, 4, files.get) == (4, _mb(16 * GIB))


def test_env_overrides_win():
    files = {
        "/proc/meminfo": MEMINFO,
        "/proc/self/cgroup": "0::/\n",
        "/sys/fs/cgroup/memory.max": f"{GIB}\n",
        "/sys/fs/cgroup/cpu.max": "100000 100000\n",
    }
    env = {"SPARK_GRAFT_CPUS": "6", "SPARK_GRAFT_DRIVER_MEM": "3g"}
    assert host_sizing(env, 8, files.get) == (6, "3g")


def _bytes(jvm_size):
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    s = jvm_size.strip().lower().rstrip("b")
    return int(s[:-1]) * units[s[-1]] if s[-1] in units else int(s)


def test_live_session_fits_the_host(spark):
    """The running session asks for no more CPUs or memory than exist."""
    conf = spark.sparkContext.getConf()
    master = conf.get("spark.master")
    assert master.startswith("local[") and master.endswith("]")
    assert 1 <= int(master[len("local[") : -1]) <= len(os.sched_getaffinity(0))
    mem_total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert _bytes(conf.get("spark.driver.memory")) <= mem_total
