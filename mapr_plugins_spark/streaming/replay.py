"""Stream replay + run-to-completion utilities.

The reference's streaming surface is a micro-batch DStream fed by a
Kafka-API direct stream (``MapRStreamingSource.java:88-93``). The
engine's equivalent is Structured Streaming; for deterministic tests the
``events`` table is replayed through the file stream source (same
micro-batch execution path as Kafka, minus the broker).

``run_available_now`` executes a streaming DataFrame to the end of
available input (Trigger.AvailableNow — the bounded-reprocess trigger)
into a memory sink and returns the result as a batch DataFrame, so
streaming queries can participate in the oracle-differential gate.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapr_plugins_spark.session import pin_runtime_conf, sql_conf

#: Advisory bytes of staged (compressed parquet) replay input per
#: streaming state partition — the streaming twin of AQE's
#: ``advisoryPartitionSizeInBytes``, which cannot act here because
#: adaptive execution is disabled under Structured Streaming, so every
#: stateful shuffle otherwise materializes one state-store instance
#: (task launch + Python worker round-trip + state commit, measured
#: ~75 ms each) per session shuffle partition PER MICRO-BATCH
#: regardless of data volume. Derivation: partitions =
#: clamp(ceil(staged_bytes / advisory), 1, defaultParallelism).
#: The 512 KiB value is measured, not guessed (round-13 A/B at
#: sf0.1, 5 stateful keys, best-of-2 each: 32 parts 70.0 s → 8 parts
#: 28.2 s → 4 parts 21.7 s → 2 parts 32.9 s — fewer instances win
#: until the Python fold serializes). Uncompressed fold input runs
#: ~4-8× the parquet bytes, and Python fold throughput per core is the
#: binding resource, hence a target well below AQE's 64 MB batch
#: advisory.
STATE_PARTITION_BYTES = 512 * 1024

#: Denser advisory for ENTITY-KEYED, ROW-PACED GroupState folds (state
#: key count ∝ entities in the data, Python fold work ∝ rows — e.g.
#: the per-user z-score and Markov twins): their binding resource is
#: Python-worker CPU across partitions, not state-store instance
#: overhead, so they want more partitions per staged byte than the
#: bounded-key sketch folds (whose state is a design constant and
#: whose per-partition overhead dominates). Both densities measured,
#: round-14 interleaved A/B at sf0.1: s22 12.0→8.0 s / s23 11.3→7.1 s
#: median at 64 KiB, while the bounded-key folds REGRESS there
#: (s26 6.1→11.2, s18 6.0→7.5, s17 4.1→4.8) — hence a per-operator
#: declaration, not a family-wide constant. Same clamp to
#: [1, defaultParallelism].
ROW_FOLD_PARTITION_BYTES = 64 * 1024


def _source_paths(stream: DataFrame) -> list[str]:
    """The ``path`` option of every file-stream leaf of ``stream``'s
    analyzed plan (a stream-stream join or a union has several)."""
    paths, todo = [], [stream._jdf.queryExecution().analyzed()]
    while todo:
        node = todo.pop()
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
        if node.getClass().getSimpleName() == "StreamingRelation":
            path = node.dataSource().options().get("path")
            if path.isDefined():
                paths.append(path.get())
    return paths


def _staged_bytes(path: str) -> int:
    """On-disk size of a staged stream source directory (symlinked
    files count at their target's size) or single file."""
    if os.path.isdir(path):
        return sum(
            os.stat(e.path).st_size for e in os.scandir(path) if e.is_file(follow_symlinks=True)
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


def _state_partitions(stream: DataFrame, row_paced_fold: bool = False) -> int:
    """Streaming state-partition count derived from the bytes staged
    under ``stream``'s file sources (see ``STATE_PARTITION_BYTES``;
    ``ROW_FOLD_PARTITION_BYTES`` when the operator declares its fold
    row-paced). Falls back to the session's default parallelism when
    no source has a path (e.g. a Python data source)."""
    par = stream.sparkSession.sparkContext.defaultParallelism
    staged = max(map(_staged_bytes, _source_paths(stream)), default=0)
    if staged <= 0:
        return par
    target = ROW_FOLD_PARTITION_BYTES if row_paced_fold else STATE_PARTITION_BYTES
    return max(1, min((staged + target - 1) // target, par))


def _stream_dir(sf_dir: str, name: str) -> str:
    """The file stream source requires a *directory*; the test tables are
    single read-only files. Stage a per-table symlink directory in /tmp
    (idempotent, content untouched)."""
    key = hashlib.md5(f"{sf_dir}/{name}".encode()).hexdigest()[:12]
    d = f"/tmp/mapr_plugins_stream/{key}"
    os.makedirs(d, exist_ok=True)
    link = f"{d}/{name}.parquet"
    if not os.path.lexists(link):
        os.symlink(f"{sf_dir}/{name}.parquet", link)
    return d


def as_event_time(df: DataFrame, col: str) -> DataFrame:
    """Convert a TIMESTAMP_NTZ column to a TIMESTAMP (instant) suitable
    for watermarks/window buckets, anchoring the naive wall time at UTC
    **independently of the session timezone**: wall-clock micros via
    NTZ-to-NTZ ``timestampdiff`` (pure calendar arithmetic, no zone),
    then ``timestamp_micros`` (absolute epoch, no zone). Watermarks
    reject NTZ ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); a plain cast
    would shift by the session offset."""
    epoch_us = F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {col})"
    )
    return df.withColumn(col, F.timestamp_micros(epoch_us))


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` replayed as a stream (schema-pinned file source, with
    the same physical-type normalization as the batch catalog: shipped
    data is timestamp[us] → TIMESTAMP_NTZ pass-through; a LONG-nanos
    read would get the nanos→micros conversion)."""
    pin_runtime_conf(spark)
    from pyspark.sql.types import LongType, TimestampType

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    raw = spark.readStream.schema(batch_schema).parquet(_stream_dir(sf_dir, "events"))
    ts_type = batch_schema["ts"].dataType
    if isinstance(ts_type, LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampType):
        raw = raw.withColumn("ts", F.expr("to_timestamp_ntz(ts)"))
    return raw


def _replay_chunks(
    spark: SparkSession, cache_key: str, n_chunks: int, chunk: Callable[[int], DataFrame]
) -> DataFrame:
    """Stage ``chunk(0..n_chunks-1)`` once as one parquet file each
    (mtimes ascending, so "arrival order" follows the chunk index) and
    stream them back with maxFilesPerTrigger=1 — n REAL incremental
    micro-batches. Each chunk is staged by a Spark write: no
    driver-side materialization, so the stager scales with the data.
    Downstream folds must be order-independent — the file source picks
    files by modification time, but correctness must not depend on it."""
    key = hashlib.md5(f"{cache_key}/chunks{n_chunks}".encode()).hexdigest()[:12]
    d = f"/tmp/mapr_plugins_stream/{key}"
    staged = f"{d}/_STAGED"
    if not os.path.exists(staged):
        os.makedirs(d, exist_ok=True)
        for i in range(n_chunks):
            tmp = f"{d}/_tmp{i}"
            chunk(i).coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(f"{tmp}/part-*.parquet")[0]
            os.replace(part, f"{d}/chunk{i}.parquet")
            shutil.rmtree(tmp)
            os.utime(f"{d}/chunk{i}.parquet", (1_700_000_000 + i, 1_700_000_000 + i))
        with open(staged, "w") as f:
            f.write("ok")
    schema = spark.read.parquet(f"{d}/chunk0.parquet").schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
    )


def events_stream_chunked(spark: SparkSession, sf_dir: str, n_chunks: int = 4) -> DataFrame:
    """``events`` replayed as ``n_chunks`` REAL incremental micro-batches
    (chunk i = event_id mod n). ``catalog.table`` yields ts as
    TIMESTAMP_NTZ (naive wall time), which Spark writes back as parquet
    timestamp[us], so the replayed ts is the UTC-wall NTZ column."""
    from mapr_plugins_spark.catalog import table

    pin_runtime_conf(spark)
    return _replay_chunks(
        spark,
        f"{sf_dir}/events",
        n_chunks,
        lambda i: table(spark, sf_dir, "events").filter(F.col("event_id") % n_chunks == i),
    )


def df_stream_chunked(
    df: DataFrame, cache_key: str, order_col: str, n_chunks: int = 4
) -> DataFrame:
    """Replay an arbitrary DataFrame as ``n_chunks`` REAL incremental
    micro-batches: contiguous chunks along ``order_col`` (wave i = the
    i-th ntile — "arrival order" follows the key). The staging global
    sort is test-harness scoped."""
    from pyspark.sql import Window

    spark = df.sparkSession
    pin_runtime_conf(spark)
    chunked = df.withColumn("__chunk", F.ntile(n_chunks).over(Window.orderBy(order_col)))
    return _replay_chunks(
        spark,
        cache_key,
        n_chunks,
        lambda i: chunked.filter(F.col("__chunk") == i + 1).drop("__chunk"),
    )


def pinned_state_partitions(stream: DataFrame, row_paced_fold: bool = False):
    """Pin ``spark.sql.shuffle.partitions`` to the state-partition count
    derived from ``stream``'s own staged input for the duration of its
    run; restore the caller's value after. Every stream runner
    (``run_available_now`` and the foreachBatch-shaped registry keys)
    runs inside this."""
    n = _state_partitions(stream, row_paced_fold)
    return sql_conf(stream.sparkSession, {"spark.sql.shuffle.partitions": str(n)})


def run_available_now(
    stream_df: DataFrame,
    output_mode: str = "complete",
    row_paced_fold: bool = False,
) -> DataFrame:
    """Run a streaming DataFrame to completion into a memory sink;
    return the sink contents as a batch DataFrame.

    Streaming disables AQE, so the state store materializes EVERY
    shuffle partition; on a host session left at the 200 default that is
    ~200 state-store instances per stateful op for test-sized data. Pin
    the partition count to one derived from the staged source bytes
    (see ``STATE_PARTITION_BYTES``), restore after — results are
    partitioning-independent, only the state layout changes.
    ``row_paced_fold=True`` declares the query's stateful fold
    entity-keyed and row-paced (see ``ROW_FOLD_PARTITION_BYTES``).
    """
    spark = stream_df.sparkSession
    with pinned_state_partitions(stream_df, row_paced_fold):
        name = f"snap_{uuid.uuid4().hex[:12]}"
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
