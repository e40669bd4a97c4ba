"""Host-sized session defaults: the driver heap comes from the host the
session starts on, so local mode cannot outgrow its RAM."""

from name_matching_spark import session


def _mb(jvm_size: str) -> float:
    """JVM memory string -> MiB (a bare number is MiB, as Spark reads
    spark.driver.memory)."""
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    s = jvm_size.strip().lower().rstrip("b")
    return float(s[:-1]) * units[s[-1]] if s[-1] in units else float(s)


def test_meminfo_parse(tmp_path):
    p = tmp_path / "meminfo"
    p.write_text("MemFree:         1024 kB\nMemTotal:       16479424 kB\n")
    assert session.host_memory_mb(str(p)) == 16093


def test_default_driver_memory_is_below_host_ram():
    assert 0 < _mb(session.default_driver_memory()) \
        < session.host_memory_mb()


def test_running_session_heap_is_below_host_ram(spark):
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    assert _mb(heap) < session.host_memory_mb()
