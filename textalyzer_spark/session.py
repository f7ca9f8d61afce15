"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB design point (see SURVEY.md §4):
AQE on (runtime coalescing + skew-join splitting), Arrow enabled for
pandas UDF stages, shuffle partitions sized to the local core count
(on a real cluster: 2-3x total executor cores).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "textalyzer-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. On a real cluster these builder
    calls are inert (spark-submit --conf wins); they matter only for
    local runs and tests.

    Codegen cache. Spark keeps compiled whole-stage-codegen classes in
    a JVM-wide cache of ``spark.sql.codegen.cache.maxEntries`` entries,
    100 by default. The three dedup gates need ~255 distinct classes
    (``incremental_keep_quality`` alone over 100), so at 100 every call
    evicted and re-compiled its own classes. A census of all 78
    registered queries at sf0.001 counts 1,333-1,368 distinct classes
    (about 1,060 once class names drop the stage id, below); 4096 is
    ~3x headroom. Cost: roughly 6-8 KB of metaspace per cached class,
    8-12 MB for all 78 queries. Measured at local[4], metaspace after
    three 78-query passes grew 55 MB with this cache against 89 MB at
    100 entries, whose evicted classes stay loaded until unloaded.
    ``useIdInClassName=false`` drops the codegen stage id from the
    class name: AQE numbers stages in the order it plans them, so
    otherwise the same pipeline re-planned under another id is a
    cache miss. The cache size is a static SQL conf, so it can only be
    set here, before the session exists; a session built outside this
    factory keeps Spark's 100 entries and stage-id class names
    (BENCH.md "codegen cache").
    """
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores or (os.cpu_count() or 8)
    # numpy's AVX512 SIMD float64 log diverges from glibc on ~20% of
    # inputs; with AVX512F disabled np.log falls back to a C loop over
    # glibc log — bit-exact AND vectorized (measured 6x the fastest
    # interpreter-side scalar loop). Workers inherit this env (local
    # mode: via the JVM we launch; cluster: spark.executorEnv).
    # operators/sampling.py still PROBES per worker, so a deployment
    # without this env stays correct on a slower exact path.
    os.environ.setdefault("NPY_DISABLE_CPU_FEATURES", "AVX512F")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # codegen cache sized to the registered query set (docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.sql.codegen.useIdInClassName", "false")
        # Arrow batch sizing: 8192 balances python round-trip overhead
        # against (a) worst-case batch memory on skewed pathologically
        # long documents and (b) JVM<->python PIPELINING — several
        # batches per task let the JVM decode batch n+1 while python
        # processes batch n; a one-batch-per-task setting serializes
        # the two sides and cost ~25% wall at 32 cores (BENCH.md)
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_ARROW_BATCH", "8192"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.executorEnv.NPY_DISABLE_CPU_FEATURES",
            os.environ["NPY_DISABLE_CPU_FEATURES"],
        )
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    from textalyzer_spark.shipping import ship_package

    ship_package(spark)
    return spark


def codegen_compile_count(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics`` compilation-time histogram count); a codegen
    cache hit does not add to it."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
