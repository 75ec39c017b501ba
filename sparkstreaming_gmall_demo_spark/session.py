"""SparkSession construction and runtime configuration.

The reference hardcodes ``local[*]`` (reference
gmall-realtime/src/main/scala/com/atguigu/app/DauApp.scala:21) and takes
every other knob at default. We centralize scale-relevant configuration
here so every entry point (tests, bench, driver harness) runs the same
tuned session.

Scale posture (100 TB / 1000-executor readiness):
- AQE on: runtime join-strategy selection, skew-join splitting, and
  post-shuffle partition coalescing replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound; AQE
  coalesces. On a real cluster this would be set ~2-3x total cores.
- Session timezone pinned to UTC so date/hour derivations are
  deterministic and oracle-comparable regardless of host TZ.
- Nanosecond parquet timestamps (driver fixtures) are read as longs
  (``spark.sql.legacy.parquet.nanosAsLong``) and converted to
  timestamps in the reader (see sources.fixtures).
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Confs that are runtime-settable (SQL confs). Applied both at build
# time and defensively to externally-provided sessions (the driver
# harness builds its own SparkSession and hands it to our callables).
RUNTIME_CONFS: dict[str, str] = {
    # Driver fixtures store TIMESTAMP(NANOS); Spark 4.x rejects them by
    # default (PARQUET_TYPE_ILLEGAL). Read as long + convert in reader.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Deterministic date/hour math across engines (DuckDB is naive-TZ).
    "spark.sql.session.timeZone": "UTC",
    # Adaptive execution: join selection, skew splitting, coalescing.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for the few pandas-UDF extension ops (similarity kernels).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # RocksDB state store: streaming state (dedup sets, join buffers,
    # window/session state) spills to disk instead of executor heap —
    # the only posture that survives day-scale dedup state at 100 TB
    # (SURVEY §7.3.8). Changelog checkpointing keeps commits O(delta).
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    The driver harness owns its SparkSession; our query callables route
    through here so fixture reads work regardless of how the session
    was built.
    """
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            # Static conf on this build -- leave as-is; reader has a
            # schema-level fallback for the nanos case.
            _log.warning("ensure_runtime_confs: skipped %s=%s (%s)", key, value, exc)
    return spark


def _master_cores(master: str) -> int | None:
    """Cores of a ``local``/``local[N]``/``local[N,F]`` master; None
    for ``local[*]`` and for cluster masters (the caller falls back to
    the host's core count)."""
    m = re.fullmatch(r"local(?:\[(\d+|\*)(?:,\s*\d+)?\])?", master.strip())
    if m is None or m.group(1) == "*":
        return None
    return int(m.group(1) or 1)


def get_spark(app_name: str = "gmall-spark-engine", master: str | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores) for this container; on a real cluster the launcher
    passes no master and spark-submit decides.
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    # Shuffle partitions SCALE WITH THE SESSION'S CORES (r13, VERDICT
    # r12 item 1): the pre-r13 constant 8 (an early-round sf0.1
    # measurement) capped every post-shuffle stage at 8 tasks, so an
    # 8-core and a 32-core run were indistinguishable (129.9 vs
    # 131.8 s) and the driver's core-scaling probe read ~1.0
    # everywhere. 1x cores, not the 2-3x a long-lived cluster uses
    # (that multiplier exists to smooth task-size variance across
    # concurrent jobs): both were measured here at 32 cores —
    # 1x = 122.3 s vs 8-pinned 139.7 s (geomean 0.836, full registry)
    # while 2x = 144.1 s, because eager localCheckpoint
    # materializations compile through the non-AQE path and inherit
    # the full pre-AQE width, so the checkpoint-heavy kernels pay 2x
    # the tasks with no coalescing. AQE still coalesces ordinary
    # reads either way. Env override wins so the driver / a cluster
    # launcher can pin an explicit value.
    shuffle_parts = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if shuffle_parts is None:
        n_cores = _master_cores(master) or os.cpu_count() or 8
        shuffle_parts = str(max(8, n_cores))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Static conf (r13): the janino codegen cache holds 100 classes
        # by default; a 154-query workload recompiles every generated
        # stage on every sweep once the cache thrashes. 4096 entries
        # keeps every plan's codegen warm — a core-count-independent
        # engine setting. It is static, so it takes effect only on a
        # session built here, never on a driver-owned one.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    return ensure_runtime_confs(spark)
