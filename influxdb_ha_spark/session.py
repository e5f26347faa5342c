"""SparkSession factory with engine defaults.

Scale posture: these configs are the local-mode equivalents of what we'd set
on a 1000-executor cluster — AQE on (runtime re-plan, skew-join handling,
partition coalescing), shuffle partitions sized to the parallelism at hand,
Arrow enabled for the few Pandas-UDF paths, UTC session timezone so epoch
arithmetic is stable.

`spark.sql.legacy.parquet.nanosAsLong=true` is load-bearing: InfluxDB time is
nanosecond-precision (reference service/write_handler.go:48-51 — default
precision "nanoseconds") and Spark's TimestampType is microsecond. We read
ns-timestamp parquet as LongType nanoseconds and keep `time` as a long
everywhere, deriving a µs TimestampType column only where a Spark API needs
one (windows, watermarks). See SURVEY.md §1.2.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # Driver heap stays at Spark's default: measured at sf0.1/local[32],
    # larger heaps (4g/24g) consistently benched SLOWER than the default
    # (bigger young-gen pauses, page-cache displacement). Override with
    # SPARK_GRAFT_DRIVER_MEM for workloads with large cached state.
    **({"spark.driver.memory": os.environ["SPARK_GRAFT_DRIVER_MEM"]}
       if os.environ.get("SPARK_GRAFT_DRIVER_MEM") else {}),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # InfluxQL semantics are permissive (div-by-zero handled explicitly,
    # silent numeric coercion); ANSI mode would turn those into errors.
    "spark.sql.ansi.enabled": "false",
    "spark.ui.enabled": "false",
    # skip per-DataFrame-op Python call-site capture (~0.5 s per complex
    # cold query build; error messages lose the user line number, which an
    # engine's internal plans never surface anyway)
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated classes are cached JVM-wide in an LRU of 100 entries by
    # default. The 12-statement serving dashboard mix generates 132 classes
    # per cycle, and a cyclic working set larger than an LRU never hits, so
    # at 100 every cycle recompiled 101 of them (and the six analytics keys
    # about 75 per warm pass). 256 leaves 2x headroom; SCALE.md has the
    # counts. Only statements repeated with identical literals profit: long
    # literals are inlined into the generated Java, so a now()-shifted
    # window compiles fresh classes whatever the cache size; neither the
    # gain nor the memory cost has been measured on such traffic (SCALE.md).
    "spark.sql.codegen.cache.maxEntries": "256",
}


def get_spark(app_name: str = "influxdb_ha_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults applied."""
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
