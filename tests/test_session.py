"""The driver JVM's policy and sizing: ``build_session`` launches the JVM
with ``DRIVER_JAVA_OPTS`` (or ``EXTRACTION_DRIVER_JAVA_OPTS``) and a heap
sized to the host, and the job can read what the JIT and GC cost."""

import os

from extraction.job import (
    DRIVER_JAVA_OPTS,
    driver_java_opts,
    driver_mem_mb,
    host_mem_bytes,
    jvm_counters,
    jvm_flags_missing,
)

GIB = 2**30
PHYS = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def test_driver_mem_is_a_quarter_of_host_capped_at_12g():
    assert driver_mem_mb(16 * GIB) == 4096
    assert driver_mem_mb(15 * GIB + 700 * 2**20) == (15 * 1024 + 700) // 4
    assert driver_mem_mb(48 * GIB) == driver_mem_mb(125 * GIB) == 12 * 1024


def test_host_mem_reads_the_cgroup_limit_first(tmp_path):
    def limit(name, text):
        p = tmp_path / name
        p.write_text(text + "\n")
        return str(p)

    missing = str(tmp_path / "absent")
    assert host_mem_bytes((missing,)) == PHYS
    assert host_mem_bytes((missing, limit("v1", str(2 * GIB)))) == 2 * GIB
    # cgroup v2's "max" and v1's near-2^63 both mean no limit
    assert host_mem_bytes((limit("v2", "max"),)) == PHYS
    assert host_mem_bytes((limit("v1big", str(2**63 - 4096)),)) == PHYS
    # the first file found wins
    assert host_mem_bytes((limit("a", str(GIB)), limit("b", str(3 * GIB)))) == GIB


def test_jvm_flags_missing_names_each_absent_flag():
    args = ["-Xmx4g", "-XX:+UseParallelGC", "-XX:GCTimeRatio=19"]
    assert jvm_flags_missing(args, DRIVER_JAVA_OPTS) == ["-XX:TieredStopAtLevel=1"]
    assert jvm_flags_missing(args + ["-XX:TieredStopAtLevel=1"], DRIVER_JAVA_OPTS) == []


def test_session_jvm_runs_the_policy(spark):
    """The fixture's driver JVM was launched with every flag of the policy
    and the host-sized heap, and collects with ParallelGC."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    policy = driver_java_opts()
    assert jvm_flags_missing(args, policy) == [], args
    mem = os.environ.get("EXTRACTION_DRIVER_MEM", f"{driver_mem_mb(host_mem_bytes())}m")
    assert f"-Xmx{mem}" in args, args
    if "-XX:+UseParallelGC" in policy.split():
        names = {b.getName() for b in mf.getGarbageCollectorMXBeans()}
        assert names == {"PS Scavenge", "PS MarkSweep"}, names
    jvm = jvm_counters(spark)
    assert jvm["jit_s"] > 0 and jvm["gc_s"] >= 0
