"""SparkSession factory tuned for the engine.

Local-mode testing runs on local[N]; the configs are chosen so the same
logical plans scale to a multi-executor cluster: AQE on (runtime
coalesce + skew-join handling — e.g. dense DOB-year blocks in the fuzzy
join), shuffle partitions sized to the parallelism, Arrow enabled for
the (rare) pandas exchanges.

ANSI note: Spark 4 enables spark.sql.ansi.enabled by default, which
turns bad casts into runtime errors. The reference's semantics are
"dirty strings parse to NULL" (SURVEY §1.2), so every parse in this
package uses try_* forms (try_to_date/try_to_timestamp/try_cast) and
works under either ANSI setting.

Codegen note: a scheduled job runs the same plans pass after pass in
one JVM, so a whole-stage-codegen class built once should be reused,
not compiled by Janino again (and JIT-compiled again after that). Two
fixed settings make that hold.
`spark.sql.codegen.cache.maxEntries` is 1024, about five times the
working set of one scheduled day: the linkage batch plus the QA suite
(perfbench `scheduled_day`) generates 207 distinct classes. At Spark's
default of 100 the LRU evicted every class before its next use, and
every pass, cold or warm, compiled about 272 classes; now the cold pass
compiles 207, the first warm pass 7 and every later pass none. The
setting is static: it takes effect only when `get_spark` creates the
JVM's first session, and a session created earlier (or by another
factory) keeps the cache size it was built with.
`spark.sql.codegen.useIdInClassName` is false because AQE numbers
codegen stages in runtime order and that number is part of the class
name, so the same stage got a new source text, and a cache miss, from
pass to pass; without it the cache finds a stage by its source text.
`codegen_compiles` reads the JVM's compile count so callers can check
that a repeated plan compiles nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "sequencing_integration_pipeline1_0_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = cores
    builder = (
        SparkSession.builder
        .master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Janino compilations the JVM behind `spark` has run since it
    started (the sample count of Spark's `CodegenMetrics`
    compilation-time histogram; a codegen-cache hit adds nothing)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
