"""The session factory: the driver JVM's JIT policy, its class-data-sharing
archive and the core count."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import zipfile
from pathlib import Path

import pytest

from data_spark import session

ROOT = Path(__file__).resolve().parent.parent


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


# One driver session in a fresh interpreter: run a job, read the VM's
# class-data-sharing options and shared-class count, then stop the JVM and
# wait for it to exit (a JVM building an archive writes it as it exits).
_PROBE = r"""
import json, subprocess, sys
sys.path.insert(0, sys.argv[1])
from pyspark import SparkContext
from data_spark.session import get_spark

spark = get_spark("cds_probe")
jvm = spark.sparkContext._jvm
total = spark.range(1000).selectExpr("sum(id)").collect()[0][0]
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
options = {}
for name in ("SharedArchiveFile", "ArchiveClassesAtExit"):
    opt = bean.getVMOption(name)
    options[name] = [opt.getValue(), opt.getOrigin().toString()]
pid = jvm.java.lang.ProcessHandle.current().pid()
out = subprocess.run([sys.argv[2], str(pid), "PerfCounter.print"],
                     capture_output=True, text=True, check=True).stdout
counters = dict(line.split("=", 1) for line in out.splitlines() if "=" in line)
spark.stop()
gateway = SparkContext._gateway
proc = gateway.proc
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=300)
print("PROBE " + json.dumps({"total": total, "options": options,
                             "shared": int(counters["java.cls.sharedLoadedClasses"])}))
"""

# shared classes after the probe's session start and one job: about 1,200
# come from the JDK's own archive alone, more than 10,000 with Spark's
_MAPPED_MIN = 5_000
_UNMAPPED_MAX = 2_500


def _probe(tmp: Path, conf: Path) -> tuple[dict, str]:
    """Run :data:`_PROBE` with ``tmp`` as its temporary directory (and so
    its archive directory) and ``conf`` as its Spark conf directory, which
    the archive's key covers; returns its report and its whole stdout."""
    env = dict(
        os.environ, TMPDIR=str(tmp), SPARK_CONF_DIR=str(conf),
        SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, str(ROOT), session.jdk_tool("jcmd")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    report = json.loads(out.stdout.rsplit("PROBE ", 1)[1])
    assert report["total"] == 499500
    return report, out.stdout


@pytest.fixture(scope="module")
def built_archive(tmp_path_factory):
    """A session that finds no archive builds one as its JVM exits, and
    the next ``get_spark`` publishes it; returns (temporary dir, archive)."""
    tmp = tmp_path_factory.mktemp("cds")
    (tmp / "conf").mkdir()
    report, stdout = _probe(tmp, tmp / "conf")
    cds = tmp / "data_spark-cds"
    (part,) = cds.glob("*.part")
    assert report["options"]["ArchiveClassesAtExit"] == [str(part), "VM_CREATION"]
    assert report["options"]["SharedArchiveFile"][1] == "DEFAULT"
    assert "[warning][cds]" not in stdout  # CDS_LOG keeps the dump quiet
    key = part.name.split("-")[0]
    assert session.publish_archive(str(cds), key) is False
    archive = cds / f"{key}.jsa"
    assert archive.exists() and not part.exists()
    yield tmp, archive
    shutil.rmtree(cds, ignore_errors=True)  # ~100 MB


def test_session_maps_the_archive(built_archive):
    tmp, archive = built_archive
    report, _ = _probe(tmp, tmp / "conf")
    assert report["options"]["SharedArchiveFile"] == [str(archive), "VM_CREATION"]
    assert report["options"]["ArchiveClassesAtExit"][1] == "DEFAULT"
    assert report["shared"] >= _MAPPED_MIN


@pytest.mark.parametrize("kind", ["garbage", "zeroed_header", "other_key"])
def test_session_starts_without_sharing_on_a_bad_archive(built_archive, tmp_path, kind):
    built, good = built_archive
    bad = tmp_path / "data_spark-cds" / good.name
    bad.parent.mkdir(mode=0o700)
    if kind == "garbage":
        bad.write_bytes(os.urandom(1 << 20))
    elif kind == "zeroed_header":
        shutil.copyfile(good, bad)
        with open(bad, "r+b") as f:
            f.write(bytes(4096))
    else:
        # a real archive, dumped for another classpath
        jar = tmp_path / "other.jar"
        with zipfile.ZipFile(jar, "w") as z:
            z.writestr("META-INF/MANIFEST.MF", "Manifest-Version: 1.0\n")
        subprocess.run(
            [session.jdk_tool("java"), f"-XX:ArchiveClassesAtExit={bad}", session.CDS_LOG,
             "-cp", str(jar), "-version"],
            capture_output=True, check=True, timeout=120,
        )
    report, _ = _probe(tmp_path, built / "conf")
    assert report["options"]["SharedArchiveFile"] == [str(bad), "VM_CREATION"]
    assert report["shared"] <= _UNMAPPED_MAX


def test_publish_never_promotes_a_part_a_live_process_may_write(tmp_path):
    key = "0123456789abcdef"
    finished = session._CDS_MAGIC + bytes(60)
    live = tmp_path / f"{key}-1.part"
    live.write_bytes(finished)
    # a process naming the part on its command line, as its JVM does
    writer = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(120)",
         f"-XX:ArchiveClassesAtExit={live}"]
    )
    try:
        assert session.publish_archive(str(tmp_path), key) is True
        assert live.read_bytes() == finished
        assert not (tmp_path / f"{key}.jsa").exists()
    finally:
        writer.kill()
        writer.wait()
    torn = tmp_path / f"{key}-2.part"  # a dump killed before its header
    torn.write_bytes(bytes(64))
    other = tmp_path / "fedcba9876543210.jsa"
    other.write_bytes(finished)
    assert session.publish_archive(str(tmp_path), key) is False
    assert sorted(p.name for p in tmp_path.iterdir()) == [f"{key}.jsa"]
    assert (tmp_path / f"{key}.jsa").read_bytes() == finished


@pytest.fixture
def template_spark_home(tmp_path, monkeypatch):
    """A Spark home whose conf directory holds only a template, as a
    pip-installed pyspark's does, with ``tmp_path/tmp`` as the temporary
    directory and ``SPARK_CONF_DIR`` unset; returns the archive directory."""
    if session.jdk_tool("java") is None:
        pytest.skip("no java")
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-env.sh.template").write_text("# template\n")
    (home / "jars").mkdir()
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr("pyspark.find_spark_home._find_spark_home", lambda: str(home))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return tmp_path / "tmp" / "data_spark-cds"


def test_template_only_conf_is_redirected_to_a_private_dir(template_spark_home):
    options = session.cds_options()
    assert options.startswith(f"-XX:ArchiveClassesAtExit={template_spark_home}/")
    conf = template_spark_home / "conf"
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    for d in (template_spark_home, conf):
        assert stat.S_IMODE(d.stat().st_mode) & 0o077 == 0
    assert list(conf.iterdir()) == []


@pytest.mark.parametrize(
    "kind", ["conf_not_empty", "conf_writable_by_others", "dir_writable_by_others",
             "dir_of_another_user", "dir_is_a_symlink"],
)
def test_no_sharing_from_a_dir_another_user_may_have_made(template_spark_home, monkeypatch, kind):
    cds = template_spark_home
    if kind == "dir_is_a_symlink":
        target = cds.parent / "elsewhere"
        target.mkdir(mode=0o700)
        cds.symlink_to(target)
    else:
        cds.mkdir(mode=0o700)
        (cds / "conf").mkdir(mode=0o700)
    if kind == "conf_not_empty":
        (cds / "conf" / "spark-env.sh").write_text("echo planted\n")
    elif kind == "conf_writable_by_others":
        (cds / "conf").chmod(0o777)
    elif kind == "dir_writable_by_others":
        cds.chmod(0o777)
    elif kind == "dir_of_another_user":
        uid = os.getuid()
        monkeypatch.setattr(os, "getuid", lambda: uid + 1)
    assert session.cds_options() == ""
    assert "SPARK_CONF_DIR" not in os.environ
