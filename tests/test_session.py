"""build_session's settings, checked without starting a session: the
local profile's checkpoint manager and listing cap, the defaults kept
on S3 and cluster masters, the driver-heap default and the driver
JVM's class-data-sharing archive.  One test builds sessions in child
processes, each on a new JVM, to pin the archive's fallbacks."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from flink_s3_read_write_spark import session as S
from flink_s3_read_write_spark.session import default_driver_memory, session_conf

CKPT_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
LIST_PARALLELISM = "spark.sql.sources.parallelPartitionDiscovery.parallelism"


def test_local_session_settings(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    conf = session_conf(cpus=3)
    assert conf["spark.master"] == "local[3]"
    assert conf[LIST_PARALLELISM] == "3"
    assert conf[CKPT_MANAGER].endswith(".FileSystemBasedCheckpointFileManager")


def test_s3_and_cluster_sessions_keep_spark_defaults(monkeypatch):
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    assert CKPT_MANAGER not in session_conf(cpus=3, s3=True)
    monkeypatch.setenv("SPARK_MASTER", "spark://head:7077")
    conf = session_conf(cpus=3)
    assert conf["spark.master"] == "spark://head:7077"
    assert LIST_PARALLELISM not in conf
    assert "spark.driver.memory" not in conf


def test_default_driver_memory(monkeypatch):
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mb = int(default_driver_memory().removesuffix("m"))
    assert 0 < mb << 20 <= min(48 << 30, phys * 3 // 4)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert session_conf(cpus=1)["spark.driver.memory"] == default_driver_memory()
    monkeypatch.setenv("SPARK_DRIVER_MEM", "2g")
    assert session_conf(cpus=1)["spark.driver.memory"] == "2g"


def _fake_homes(tmp_path):
    java = tmp_path / "jdk"
    (java / "lib" / "server").mkdir(parents=True)
    (java / "lib" / "modules").write_bytes(b"m")
    (java / "lib" / "server" / "libjvm.so").write_bytes(b"v")
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "a.jar").write_bytes(b"a")
    return str(spark), str(java)


def test_cds_key_follows_jars_and_heap(tmp_path):
    spark, java = _fake_homes(tmp_path)

    def key(**conf):
        return S.cds_key({"spark.driver.memory": "2g", **conf}, spark_home=spark, java_home=java)

    base = key()
    assert key() == base
    assert key(**{"spark.driver.memory": "40g"}) != base
    assert key(**{"spark.driver.extraClassPath": "/x.jar"}) != base
    (tmp_path / "spark" / "jars" / "b.jar").write_bytes(b"b")
    with_b = key()
    assert with_b != base
    (tmp_path / "spark" / "jars" / "b.jar").write_bytes(b"bb")  # same name, new size
    assert key() not in (base, with_b)


def test_driver_cds_leaves_a_real_conf_dir_alone(tmp_path, monkeypatch):
    """A launch plans a dump with the empty conf dir when the conf dir
    holds only templates; a real file in it turns sharing off and
    leaves ``SPARK_CONF_DIR`` as it was."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # a launch is coming
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "log4j2.properties.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    with S.driver_cds({"spark.driver.memory": "1g"}) as opts:
        assert "-XX:ArchiveClassesAtExit=" in opts
        empty = os.environ["SPARK_CONF_DIR"]
        assert empty == os.path.join(S.cds_dir(), "conf") and os.listdir(empty) == []
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    assert not any(n.endswith(".lock") for n in os.listdir(S.cds_dir()))  # no JVM, no dump
    (conf / "spark-defaults.conf").write_text("spark.foo 1\n")
    with S.driver_cds({"spark.driver.memory": "1g"}) as opts:
        assert opts is None
        assert os.environ["SPARK_CONF_DIR"] == str(conf)
    with S.driver_cds({"spark.driver.defaultJavaOptions": "-Dz=1"}) as opts:
        assert opts is None


def test_dump_lock(tmp_path):
    lock = str(tmp_path / "k.lock")
    assert S.claim_dump(lock)
    assert not S.claim_dump(lock)  # this live process holds it
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(lock, "w") as f:
        f.write(str(dead.pid))
    assert S.claim_dump(lock)
    assert open(lock).read() == str(os.getpid())


def test_rejected_archives_turn_sharing_off(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    conf = {"spark.driver.memory": "1g"}
    launch = S._CdsLaunch.plan(conf)
    assert launch.archive is None  # no archive yet: this launch dumps
    launch.launched(None)
    bad = launch.path(".1000.jsa")
    for n in range(1, S._CDS_MAX_REJECTS + 1):
        with open(bad, "wb") as f:
            f.write(b"\0" * 1000)
        if n < S._CDS_MAX_REJECTS:  # removed; this launch dumps again
            launch = S._CdsLaunch.plan(conf)
            assert launch.archive is None
            launch.launched(None)
        else:
            with pytest.raises(S.CdsOff, match=f"{n} archives of this setup were rejected"):
                S._CdsLaunch.plan(conf)
        assert not os.path.exists(bad)


def test_archive_the_jvm_unmapped_is_removed(tmp_path):
    """A JVM logs "Mapped dynamic region" before it checks the class
    path, and unmaps the archive when that does not match."""
    mapped = "[0.011s][info][cds] Mapped dynamic region #0 at base 0x1 top 0x2 (ReadWrite)\n"
    for log, kept in [(mapped, True),
                      (mapped + "[0.011s][info][cds] UseSharedSpaces: shared class paths "
                                "mismatch (hint: enable -Xlog:class+path=info)\n", False)]:
        launch = S._CdsLaunch(str(tmp_path), "k", archive=str(tmp_path / "k.4.jsa"),
                              log=str(tmp_path / "launch.log"))
        (tmp_path / "k.4.jsa").write_bytes(S._CDS_MAGIC)
        (tmp_path / "launch.log").write_text(log)
        launch.launched(jvm_pid=1234)
        assert (tmp_path / "k.4.jsa").exists() == kept
        assert not (tmp_path / "launch.log").exists()
    assert launch.rejections() == 1


_CHILD = r"""
import json, logging, sys
logging.basicConfig(level=logging.INFO, stream=sys.stderr, format="cds-log %(message)s")
from pyspark import SparkContext
from flink_s3_read_write_spark.session import build_session
spark = build_session("cds", cpus=1, extra_conf={
    "spark.driver.memory": "1g", "spark.driver.extraJavaOptions": "-Xms1g -Dx=y"})
mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print(json.dumps(list(mx.getInputArguments())))
proc = SparkContext._gateway.proc
if sys.argv[1] == "exit":  # exits normally, so a dump is written
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()
else:
    proc.kill()
proc.wait(60)
"""


def _launch(env: dict, how: str) -> tuple[list[str], str]:
    """Build a session on a new JVM in a child process; its JVM's input
    arguments and the child's log."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run([sys.executable, "-c", _CHILD, how], env=env, cwd=root,
                       capture_output=True, text=True, timeout=180)
    assert r.returncode == 0, r.stderr[-3000:]
    assert "[cds" not in r.stdout + r.stderr  # the JVM's CDS log goes to its file
    return json.loads(r.stdout.splitlines()[-1]), r.stderr


def test_cds_archive_fallbacks(tmp_path):
    """(a) no archive: the session builds and its JVM writes one at
    exit, which the next launch publishes and maps; (b) a truncated
    archive and one the JVM rejects still build a session, and each is
    removed; (c) the caller's extraJavaOptions reach the JVM."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path)}
    env.pop("SPARK_CONF_DIR", None)
    cds = tmp_path / "flink_s3_read_write_spark" / "cds"

    args, log = _launch(env, "exit")
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in args), log
    assert "-Xms1g" in args and "-Dx=y" in args

    args, log = _launch(env, "kill")
    [archive] = cds.glob("*.jsa")
    assert f"-XX:SharedArchiveFile={archive}" in args
    assert "published class-data archive" in log and "mapped class-data archive" in log
    assert "-Xms1g" in args and "-Dx=y" in args
    whole = archive.read_bytes()

    archive.chmod(0o600)
    archive.write_bytes(whole[: len(whole) // 2])
    args, log = _launch(env, "kill")
    assert "not mapped (truncated" in log and not archive.exists()

    wrong_version = bytearray(whole)
    wrong_version[8] ^= 0xFF  # the header's version field
    archive.write_bytes(wrong_version)
    args, log = _launch(env, "kill")
    assert f"-XX:SharedArchiveFile={archive}" in args  # passes the size check,
    assert "not mapped (" in log and not archive.exists()  # but the JVM refuses it
