"""The session factory: the driver JVM's JIT policy and the core count."""

from __future__ import annotations

import os

from data_spark import session


def _vm_option(spark, name: str) -> tuple[str, str]:
    """(value, origin) of a HotSpot flag in the running driver JVM."""
    jvm = spark.sparkContext._jvm
    mxbean = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    opt = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(mxbean).getVMOption(name)
    return opt.getValue(), opt.getOrigin().toString()


def test_driver_jvm_runs_with_the_jit_policy(spark):
    # the launcher adds -XX:+IgnoreUnrecognizedVMOptions, so a mistyped
    # flag would vanish from the JVM without an error: check the values
    # the VM took, and that they were set on its command line
    flags = dict(f[len("-XX:"):].split("=") for f in session.DRIVER_JIT_OPTIONS.split())
    assert len(flags) == 4
    for name, want in flags.items():
        assert _vm_option(spark, name) == (want, "VM_CREATION"), name


def test_local_cpus_follows_affinity_unless_pinned(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == 3
