"""Host-sized Spark launch for the benchmark.

The session factory (``name_matching_spark.session.get_spark``) defaults to
48g of driver heap and 32 task threads, sized for a large box.  The
benchmark sizes both from the host it runs on and passes them through the
factory's existing environment overrides, so no program code changes:

* ``SPARK_GRAFT_CPUS`` = ``nproc`` (the master becomes ``local[nproc]``);
* ``SPARK_SHUFFLE_PARTITIONS`` = ``nproc`` (the factory's floor of 32 is
  meant for multi-executor clusters; on a small host it multiplies the
  tasks of every shuffle stage);
* ``SPARK_DRIVER_MEMORY`` = ``MEM_FRACTION`` of ``/proc/meminfo`` MemTotal,
  capped at ``MEM_CAP_MB`` (local mode runs every task inside the driver
  heap, so this is the whole engine's memory);
* ``SPARK_LOCAL_DIRS`` = a directory under the benchmark's work dir.

The resolved values and the 1-min load average are recorded in every result.
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

MEM_FRACTION = 0.3
MEM_CAP_MB = 6144


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError(f"no MemTotal line in {meminfo}")


def host_settings(work_dir: Path) -> dict:
    """Resolved launch settings for this host."""
    total_mb = mem_total_mb()
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "driver_memory": f"{min(MEM_CAP_MB, int(total_mb * MEM_FRACTION))}m",
        "local_dir": str(work_dir / "spark-local"),
        "mem_total_mb": total_mb,
    }


def start_spark(root: Path, settings: dict):
    """Start the session through the program's own factory.

    ``root`` (the checkout) goes on ``PYTHONPATH`` so the Python workers
    import the same ``name_matching_spark`` package as the driver."""
    os.makedirs(settings["local_dir"], exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(settings["cpus"])
    os.environ["SPARK_SHUFFLE_PARTITIONS"] = str(settings["cpus"])
    os.environ["SPARK_DRIVER_MEMORY"] = settings["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = settings["local_dir"]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    from name_matching_spark.session import get_spark
    return get_spark(
        app_name="linkbench",
        # the warehouse and derby files would otherwise land in the cwd
        extra_conf={"spark.sql.warehouse.dir":
                    str(Path(settings["local_dir"]) / "warehouse")})


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
