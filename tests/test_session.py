"""``get_spark``'s default sizing, checked on the pure ``_sizes``
helper: the suite shares one session, and a second JVM would cost more
than the check."""

import os

import pytest

from validify_spark.session import _sizes


@pytest.fixture
def no_cpus_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)


def test_default_cpus_are_the_cpus_this_process_may_use(no_cpus_env):
    cpus, _, _ = _sizes(None, None, None)
    assert cpus == len(os.sched_getaffinity(0))


@pytest.mark.parametrize("cpus", [2, 4, 32])
def test_default_shuffle_partitions_equal_cpus(no_cpus_env, cpus):
    assert _sizes(cpus, None, "1g")[:2] == (cpus, cpus)


def test_explicit_shuffle_partitions_and_env_cpus_win(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "6")
    assert _sizes(None, None, "1g")[:2] == (6, 6)
    assert _sizes(None, 16, "1g")[:2] == (6, 16)
    assert _sizes(3, None, "1g")[:2] == (3, 3)


def test_default_driver_memory_is_a_quarter_of_physical_memory():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem = _sizes(1, 1, None)[2]
    assert mem.endswith("g")
    gb = int(mem[:-1]) << 30
    assert gb == 1 << 30 or phys // 4 - (1 << 30) < gb <= phys // 4
    assert _sizes(1, 1, "48g")[2] == "48g"
