"""build_session's settings, checked without starting a session: the
local profile's checkpoint manager and listing cap, the defaults kept
on S3 and cluster masters, and the driver-heap default."""

from __future__ import annotations

import os

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
