"""Driver heap sizing in ``get_spark`` (no JVM needed).

A heap larger than the host is accepted at launch and only fails later,
when G1 commits it and the JVM dies of native OOM; these tests pin the
sizing rule instead.
"""

import os

from aleph2_contrib_spark import session
from aleph2_contrib_spark.session import driver_memory, host_memory_bytes


def _host_mem_total() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_derived_driver_memory_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    derived = int(driver_memory().removesuffix("m")) << 20
    assert 0 < derived <= host_memory_bytes() <= _host_mem_total()
    assert derived <= session.DRIVER_MEM_FRACTION * host_memory_bytes()


def test_cgroup_limit_below_memtotal_wins(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    v2 = tmp_path / "memory.max"
    v1 = tmp_path / "memory.limit_in_bytes"
    limit = 1 << 30  # 1 GiB, below any host that can run the suite

    v2.write_text(f"{limit}\n")
    assert host_memory_bytes((str(v2),)) == limit
    v1.write_text(f"{limit // 2}\n")
    assert host_memory_bytes((str(v2), str(v1))) == limit // 2
    assert driver_memory((str(v2),)) == "512m"

    # "no limit" spellings of both layouts leave MemTotal in charge
    v2.write_text("max\n")
    v1.write_text("9223372036854771712\n")
    assert host_memory_bytes((str(v2), str(v1))) == _host_mem_total()
    # a missing cgroup file is not a limit either
    assert host_memory_bytes((str(tmp_path / "absent"),)) == _host_mem_total()


def test_env_override_is_used_verbatim(tmp_path, monkeypatch):
    v2 = tmp_path / "memory.max"
    v2.write_text(f"{1 << 30}\n")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "90g")
    assert driver_memory() == "90g"
    assert driver_memory((str(v2),)) == "90g"
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM")
    assert driver_memory((str(v2),)) == "512m"
