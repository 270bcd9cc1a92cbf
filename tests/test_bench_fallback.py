"""Bench-harness crash-proofing (round-4 verdict item 1).

The round-4 driver bench died because the two-JVM local-cluster attempt
had no fallback: executor launch failed for ~60s, the master removed the
app, and no JSON line was recorded. These tests pin the master-attempt
planner: memory grants derive from detected RAM, a squeezed host never
attempts the two-JVM master, and the plan always ends in a one-JVM
master that launches anywhere.

The runtime-failure path (cluster launches but dies -> suite reruns on
local[16]) is exercised end-to-end via
``SPARK_GRAFT_BENCH_BAD_CLUSTER=1 python bench.py`` — see bench.py's
docstring; it needs a full Spark launch so it is not a pytest.
"""

import importlib.util
import os
import sys

import pytest

_BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
spec = importlib.util.spec_from_file_location("bench_mod", _BENCH)
bench = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bench)


def test_healthy_host_attempts_cluster_then_one_jvm(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONEJVM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BAD_CLUSTER", raising=False)
    plan = bench.plan_masters(cpus=32, avail_mb=128 * 1024)
    masters = [m for m, _, _ in plan]
    assert masters[0].startswith("local-cluster[2,16,")
    assert "local[16]" in masters and masters[-1] == "local[8]"
    # on a 128 GiB host the executor grant hits the round-4 cap (22g);
    # the driver gets 30% of RAM, capped at 48g on bigger hosts
    assert plan[0][1]["spark.executor.memory"] == f"{22 * 1024}m"
    assert os.environ["SPARK_GRAFT_DRIVER_MEM"] == f"{int(128 * 1024 * 0.30)}m"


def test_squeezed_host_never_attempts_cluster(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONEJVM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BAD_CLUSTER", raising=False)
    plan = bench.plan_masters(cpus=32, avail_mb=20 * 1024)
    masters = [m for m, _, _ in plan]
    assert not any(m.startswith("local-cluster") for m in masters)
    assert masters[0] == "local[16]"
    # driver grant scales down with the host (45% of 20 GiB, not 48g)
    assert plan[0][1]["__driver_mem_mb"] == int(20 * 1024 * 0.45)


def test_small_host_memory_grants_scale(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONEJVM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BAD_CLUSTER", raising=False)
    # 64 GiB: cluster attempted, but grants are fractions, not the caps
    plan = bench.plan_masters(cpus=32, avail_mb=64 * 1024)
    master, conf, _ = plan[0]
    assert master.startswith("local-cluster[2,16,")
    exec_mb = int(conf["spark.executor.memory"].rstrip("m"))
    assert exec_mb == int(64 * 1024 * 0.22)
    worker_mb = int(master.split(",")[2].rstrip("]"))
    assert worker_mb == exec_mb + 2048  # worker can always host its executor


def test_narrow_grant_is_one_jvm_only(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONEJVM", raising=False)
    plan = bench.plan_masters(cpus=8, avail_mb=128 * 1024)
    assert [m for m, _, _ in plan] == ["local[8]"]


def test_detect_avail_mb_env_override(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_MEM_TOTAL_MB", "12345")
    assert bench.detect_avail_mb() == 12345
    monkeypatch.delenv("SPARK_GRAFT_MEM_TOTAL_MB")
    assert bench.detect_avail_mb() > 0  # /proc/meminfo path


def test_interrupt_aborts_instead_of_falling_back(monkeypatch):
    """Ctrl-C is not a master failure: it must propagate after ONE attempt
    instead of rerunning the suite on the next master in the plan."""
    import ivfadc_spark.session as session

    monkeypatch.delenv("SPARK_GRAFT_BENCH_ONEJVM", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_BAD_CLUSTER", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "32")
    monkeypatch.setenv("SPARK_GRAFT_MEM_TOTAL_MB", str(20 * 1024))
    # main() sets the driver heap per attempt; restored at teardown
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "1g")
    assert [m for m, _, _ in bench.plan_masters(32, 20 * 1024)] == ["local[16]", "local[8]"]
    attempts = []

    def interrupted(*args, **kwargs):
        attempts.append(kwargs.get("master"))
        raise KeyboardInterrupt

    monkeypatch.setattr(session, "get_spark", interrupted)
    with pytest.raises(KeyboardInterrupt):
        bench.main()
    assert attempts == ["local[16]"]
