"""SparkSession factory with scale-oriented defaults.

The reference delegates all execution to its host Spark (1.6 DStreams,
``/root/reference/pom.xml:270-280``); our equivalent of that host is a
SparkSession pinned to configs that hold up at cluster scale:

* AQE on (runtime shuffle coalescing, skew-join splitting, broadcast demotion)
* Arrow on (vectorized pandas UDF transfer)
* session timezone UTC (deterministic date/timestamp semantics)

Local test mode reads ``SPARK_GRAFT_CPUS`` (default 32) for the ``local[N]``
master and sizes ``spark.sql.shuffle.partitions`` to match; on a real
cluster the caller passes its own master and lets AQE coalesce from a
higher initial partition count.
"""

from __future__ import annotations

import contextlib
import os

from pyspark.sql import SparkSession

#: Configs applied to every engine session. Values chosen for a
#: 1000-executor / 100 TB posture but harmless in local mode.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # parquet scan efficiency: vectorized reader + pushdown are Spark
    # defaults, pinned here so a misconfigured host can't silently
    # disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.enableVectorizedReader": "true",
    # 128 MiB split targets keep ~100k tasks for a 100 TB scan — large
    # enough to amortize task overhead, small enough to ride out skew.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
}


def get_session(
    app_name: str = "mapr-plugins-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) an engine SparkSession.

    ``master=None`` resolves to ``local[$SPARK_GRAFT_CPUS]`` for tests and
    bench; production callers pass their cluster master / rely on
    spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def pin_runtime_conf(spark: SparkSession) -> None:
    """Pin runtime-settable engine configs on a session we did not create.

    The verify driver hands us its own SparkSession; timezone and AQE are
    runtime-mutable, so correctness-relevant ones are (re)applied here.
    """
    for k in (
        "spark.sql.session.timeZone",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
    ):
        try:
            spark.conf.set(k, ENGINE_CONF[k])
        except Exception:
            pass  # read-only on some hosts; engine still functions
    try:
        # size shuffles to the machine instead of Spark's fixed 200:
        # results are partitioning-independent, but a host session left
        # at the default launches 200 tasks per exchange on test-sized
        # data (pure overhead) and far too few at cluster scale. AQE
        # (pinned on above) re-coalesces from this starting point.
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(spark.sparkContext.defaultParallelism,
                    int(ENGINE_CONF["spark.sql.shuffle.partitions"]))),
        )
    except Exception:
        pass


@contextlib.contextmanager
def sql_conf(spark: SparkSession, settings: dict[str, str]):
    """Temporarily set runtime SQL confs, restoring prior values (or
    unsetting ones that had no explicit value) on exit, error included."""
    old: dict[str, str | None] = {}
    for k, v in settings.items():
        old[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def release_operator_caches(spark: SparkSession) -> None:
    """Release every operator-internal persisted frame.

    Several operators (triangle counting, min-hash / containment
    dedup, PMI, inverted index, …) persist an intermediate frame that
    their RETURNED lazy plan reads multiply — the persist is
    load-bearing, but since the result is lazy the operator itself can
    never unpersist it. Eager-boundary operators (pagerank, k_core,
    the DOULION estimate) release their persists internally; for the
    lazy ones, any long-lived embedding driver MUST call this between
    queries or the cached blocks accumulate without bound (observed:
    driver heap OOM ~70 queries into an sf0.1 sweep — round-5 ADVICE).
    ``bench.py`` and the driver-protocol harness both do.

    Equivalent to ``spark.catalog.clearCache()`` — wrapped and named
    so the contract is a documented package API rather than test-
    harness folklore. Operators with a persisted frame also take a
    ``persisted_out`` list for callers that want targeted, per-frame
    unpersists instead of a global clear.
    """
    spark.catalog.clearCache()
