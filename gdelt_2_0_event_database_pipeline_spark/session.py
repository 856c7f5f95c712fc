"""SparkSession factory with scale-aware defaults.

Defaults target correctness at local[N] while remaining the right knobs for a
multi-executor cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), shuffle partitions sized to the parallelism actually available,
UTC session timezone (driver oracle compares timestamp values), Arrow
enabled for the few Pandas-UDF code paths, and a generated-class cache sized
to the registry's working set so warm queries do not recompile.

The codegen cache size (``spark.sql.codegen.cache.maxEntries``) is a static
conf: Spark reads it once per JVM, at the first codegen. It therefore applies
to the session this factory creates, and a later ``getOrCreate`` in the same
JVM cannot change it.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import SparkSession

#: Generated classes Spark keeps compiled (its default is 100). Measured at
#: sf0.01 on a 4-core VM: a walk over perfbench's 8 query_mix rows uses 169
#: classes and a walk over the 250-query registry 3,060, so at 100 every warm
#: walk recompiled 158 and 3,986 classes and HotSpot re-JITted each one. At
#: 4096 the warm walks compile 0-10 and 81, for about +23 MB of metaspace and
#: +28 MB of JIT code heap after two registry walks.
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(
    app_name: str = "gdelt_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else ``local[*]``)
    so tests and bench share one code path. On a real cluster the caller passes
    ``master=None`` with spark-submit owning the master URL; every other conf
    here is still the one you'd want at 100 TB (AQE, pushdown, Arrow).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Static: read once per JVM at the first codegen (module docstring).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Per-process warehouse: two concurrent sessions sharing a cwd
        # otherwise collide on saveAsTable targets (e.g. the bucketed-join
        # table) — a shared ./spark-warehouse is a race, not a feature.
        # Persisted index artifacts are unaffected: they use explicit
        # absolute paths, not the warehouse. Override via extra_conf.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                tempfile.gettempdir(),
                f"spark-warehouse-{os.getpid()}-{uuid.uuid4().hex[:8]}",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes Janino has compiled in this JVM, their total compile ms).

    Read from Spark's ``CodegenMetrics`` compile-time histogram; callers take
    deltas around a query. The count is exact. The ms is the histogram's
    sample mean times the count, which is exact while the JVM has compiled
    no more than the histogram's 1,028-sample reservoir and an estimate after.
    """
    hist = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    n = hist.getCount()
    snap = hist.getSnapshot()
    size = snap.size()
    if not size:
        return n, 0.0
    total = spark._jvm.java.util.Arrays.stream(snap.getValues()).sum()
    return n, total * n / size
