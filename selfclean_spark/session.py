"""SparkSession builder with the settings the pipeline assumes.

Arrow on (every executor-side Python crossing is an Arrow batch, never
per-row), AQE + skew-join on (backstop for hot LSH bands / giant repos),
and a shuffle-partition count sized for the sandbox.  On a real cluster
these come from spark-submit conf; the builder only sets what is not
already set so ``spark-submit --conf`` always wins.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

_DEFAULTS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # content strings are big; keep Arrow batches bounded (SURVEY §7.4)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.shuffle.partitions": "32",
    # split small checkpoint files aggressively so scan parallelism
    # matches core count even on modest inputs (clusters override via
    # spark-submit --conf; at petabyte scale the default 128m is right)
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.sql.files.openCostInBytes": "1m",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # cached relations build COLUMNAR batches on-heap before spilling;
    # the default 10,000-row batch is ~1 GB per concurrent task for
    # wide array rows (char-gram shingle tables: ~100 KB/row) — the
    # first OOM site of the 1M-file capacity run.  1,000-row batches
    # cap the builder at ~100 MB/task (fine at cluster heap norms of
    # 1-4 GB/core); for narrow rows the extra per-batch overhead is
    # noise.  NOTE: heap must still scale with local thread count —
    # local[32] at 13 KB/row needs ~1.5 GB/core (SPARK_DRIVER_MEM=48g),
    # exactly what 32 cluster cores would be given.
    "spark.sql.inMemoryColumnarStorage.batchSize": "1000",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
}


_MIB_PER_UNIT = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024**2, "p": 1024**3}


def _mem_total_kib() -> int | None:
    """``MemTotal`` from /proc/meminfo, or None where there is none."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def clamp_driver_memory(requested: str, mem_total_kib: int | None) -> str:
    """``requested`` (a JVM size string; a bare number is MiB, as for
    ``spark.driver.memory``) capped at half of ``mem_total_kib``, so a
    default heap never claims most of a small machine.  Unparsable
    values and an unknown ``MemTotal`` pass through unchanged."""
    m = re.fullmatch(r"(\d+)([kmgtp]?)b?", requested.strip().lower())
    if m is None or mem_total_kib is None:
        return requested
    requested_mib = int(m.group(1)) * _MIB_PER_UNIT[m.group(2) or "m"]
    cap_mib = mem_total_kib // 2048
    if requested_mib <= cap_mib:
        return requested
    clamped = f"{cap_mib}m"
    _log.warning(
        "spark.driver.memory %s exceeds half of MemTotal (%d KiB); using %s",
        requested, mem_total_kib, clamped,
    )
    return clamped


def get_spark(
    app_name: str = "selfclean_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset) in the sandbox; under spark-submit the submitted master wins.
    ``spark.driver.memory`` is capped at half of the machine's memory
    (:func:`clamp_driver_memory`).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_GRAFT_CPUS" in os.environ:
        master = f"local[{os.environ['SPARK_GRAFT_CPUS']}]"
    if master is not None:
        builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    conf["spark.driver.memory"] = clamp_driver_memory(
        conf["spark.driver.memory"], _mem_total_kib()
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
