"""Declared streaming queries (FIXTURES S01–S05) + batch SQL oracles.

Each query REALLY runs through Structured Streaming (micro-batch
execution, state store, watermarks) via Trigger.AvailableNow, then the
final state is compared against a batch-computed DuckDB equivalent —
the strongest cross-engine check available for streaming semantics.

Window starts are emitted as epoch microseconds (BIGINT) so no
timestamp formatting/timezone can leak into the hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapr_plugins_spark.catalog import table as _t
from mapr_plugins_spark.streaming.replay import (
    as_event_time,
    events_stream,
    run_available_now,
)

_US_5MIN = 300_000_000

#: Loud bound on hinted stream-static dimension broadcasts (round-9
#: verdict #8): the broadcast re-ships per micro-batch, so a dimension
#: past ~10M rows must raise a named error, not OOM executors batch
#: after batch.
DIM_BROADCAST_BOUND = 10_000_000


def s01_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window count by event_type, with watermark."""
    ev = as_event_time(events_stream(spark, sf_dir), "ts").withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("ws_us"), "event_type", "n"
    )


def s02_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute window sliding by 5: exact-decimal sum + count + avg."""
    ev = as_event_time(events_stream(spark, sf_dir), "ts").withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    out = run_available_now(agg, "complete")
    return out.select(
        F.unix_micros(F.col("window.start")).alias("ws_us"),
        F.col("sv").cast("double").alias("sum_val"),
        "n",
        (F.col("sv").cast("double") / F.col("n")).alias("avg_val"),
    )


def s03_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap."""
    ev = as_event_time(events_stream(spark, sf_dir), "ts").withWatermark("ts", "30 minutes")
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sv"),
    )
    out = run_available_now(agg, "complete")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
        "n_events",
        F.col("sv").cast("double").alias("sum_val"),
    )


def s04_stateful_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-injected replay (stream ∪ stream) → stateful
    dropDuplicates on event_id → counts by type."""
    ev = events_stream(spark, sf_dir)
    doubled = ev.unionByName(events_stream(spark, sf_dir))
    deduped = doubled.dropDuplicates(["event_id"])
    out = run_available_now(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def s05_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension (customer) + windowless aggregation.
    The dimension hint is size-guarded (round-9 verdict #8): a
    dimension that outgrows ``DIM_BROADCAST_BOUND`` raises a named
    error instead of re-shipping a corpus-scale side every
    micro-batch."""
    from mapr_plugins_spark.plans.partitioning import bounded_broadcast

    ev = events_stream(spark, sf_dir)
    cust = bounded_broadcast(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        DIM_BROADCAST_BOUND,
        "customer dimension",
    )
    joined = ev.join(cust, ev.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    out = run_available_now(agg, "complete")
    return out


def s06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks + event-time range
    condition: each click joined to purchases by the same user within
    the following 30 minutes. Both sides carry watermarks so the join
    state is bounded (Spark evicts rows older than watermark+range)."""
    clicks = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select("event_id", F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .transform(lambda d: as_event_time(d, "c_ts"))
        .withWatermark("c_ts", "10 minutes")
    )
    purchases = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_val"),
        )
        .transform(lambda d: as_event_time(d, "p_ts"))
        .withWatermark("p_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = run_available_now(joined, "append")
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("p_val").cast("decimal(18,6)")).cast("double").alias("sum_val"),
    )


def s07_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicatesWithinWatermark on a duplicate-injected replay:
    duplicates arriving within the watermark delay collapse, state is
    evicted beyond it (bounded memory — the scale-safe streaming dedup).
    The events replay spans far longer than the 1-hour delay, so
    same-id duplicates (replayed back-to-back) always fall inside it."""
    ev = as_event_time(events_stream(spark, sf_dir), "ts").withWatermark("ts", "1 hour")
    doubled = ev.unionByName(
        as_event_time(events_stream(spark, sf_dir), "ts").withWatermark("ts", "1 hour")
    )
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    out = run_available_now(deduped, "append")
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def s08_stateful_running_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing (applyInPandasWithState): per-user
    running maximum event value carried in explicit GroupState across
    micro-batches; emits one final row per user. The custom-stateful
    analogue of the reference's per-record transform loop
    (MapRStreamingSource.java:120-150), with engine-managed fault-
    tolerant state instead of transient fields."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    def running_max(key, pdfs, state):
        mx = state.get[0] if state.exists else float("-inf")
        n = state.get[1] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
                n += int(len(pdf))
        state.update((mx, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "max_val": [mx], "n_events": [n]}
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        running_max,
        outputStructType="user_id BIGINT, max_val DOUBLE, n_events BIGINT",
        stateStructType="mx DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(result, "update")
    # update mode re-emits per batch: keep the final (complete) state row
    return out.groupBy("user_id").agg(
        F.max("max_val").alias("max_val"), F.max("n_events").alias("n_events")
    )


def tws_available() -> bool:
    """transformWithStateInPandas needs protobuf for its state-server
    protocol; absent in minimal environments. Gate, don't crash."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def s09_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary stateful processing via transformWithStateInPandas —
    the successor API to applyInPandasWithState (s08): typed ValueState
    handles, RocksDB-backed state store, per-key processors. Per-user
    running (count, min, max) over event values — order-free
    aggregates, so the cross-engine hash is stable.

    Requires protobuf (``tws_available()``); raises NotImplementedError
    without it so callers can fall back to s08's API."""
    if not tws_available():
        raise NotImplementedError(
            "transformWithStateInPandas requires the protobuf package; "
            "use applyInPandasWithState (s08) in this environment"
        )
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    ev = events_stream(spark, sf_dir).select("user_id", "value")

    class RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n BIGINT, mn DOUBLE, mx DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, mn, mx = self._agg.get()
            else:
                n, mn, mx = 0, float("inf"), float("-inf")
            for pdf in rows:
                if len(pdf):
                    n += int(len(pdf))
                    mn = min(mn, float(pdf["value"].min()))
                    mx = max(mx, float(pdf["value"].max()))
            self._agg.update((n, mn, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "min_val": [mn], "max_val": [mx]}
            )

        def close(self) -> None:
            pass

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        result = ev.groupBy("user_id").transformWithStateInPandas(
            statefulProcessor=RunningStats(),
            outputStructType="user_id BIGINT, n_events BIGINT, min_val DOUBLE, max_val DOUBLE",
            outputMode="Update",
            timeMode="None",
        )
        out = run_available_now(result, "update")
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
    # update mode re-emits per batch: keep the final per-user state
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.min("min_val").alias("min_val"),
        F.max("max_val").alias("max_val"),
    )


def s10_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply into a keyed last-writer-wins table — the
    Structured-Streaming re-expression of the reference's keyed document
    sink fed by a stream (A6 upsert semantics, MapRDBJSONSink.java:67-110,
    with 'error' events as tombstones).

    Each of the (real) micro-batches compacts to one op per key and
    folds into a versioned parquet state table via ``foreachBatch``:
    read state(batch-1) → LWW merge on (ts, event_id) recency → write
    state(batch). The fold is order-independent, so out-of-order file
    pickup cannot change the result; at scale the same loop writes to a
    transactional table format instead of versioned directories."""
    import os
    import uuid

    from pyspark.sql import Window

    from mapr_plugins_spark.streaming.replay import (
        events_stream_chunked,
        pinned_state_partitions,
    )

    run = f"/tmp/mapr_plugins_cdc/{uuid.uuid4().hex[:12]}"
    os.makedirs(run, exist_ok=True)
    stream = events_stream_chunked(spark, sf_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    n_applied = {"batches": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        rn = F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        )
        compact = batch.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")
        prev = f"{run}/state_{batch_id - 1}"
        if os.path.exists(prev):
            state = sess.read.parquet(prev)
        else:
            state = sess.createDataFrame([], compact.schema)
        old, new = state.alias("old"), compact.alias("new")
        j = old.join(new, "user_id", "full_outer")
        take_new = F.col("old.event_id").isNull() | (
            F.col("new.event_id").isNotNull()
            & (
                F.struct(F.col("new.ts"), F.col("new.event_id"))
                > F.struct(F.col("old.ts"), F.col("old.event_id"))
            )
        )
        merged = j.select(
            "user_id",
            *[
                F.when(take_new, F.col(f"new.{c}")).otherwise(F.col(f"old.{c}")).alias(c)
                for c in ("event_id", "ts", "event_type", "value")
            ],
        )
        merged.write.mode("overwrite").parquet(f"{run}/state_{batch_id}")
        n_applied["batches"] = max(n_applied["batches"], batch_id + 1)

    # state-partition pin: see s13 — foreachBatch bodies bypass
    # run_available_now's sizing, and the LWW merge's full-outer join
    # otherwise shuffles KB-sized state into the session's full
    # partition count per micro-batch.
    with pinned_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{run}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert n_applied["batches"] >= 2, "expected multiple incremental micro-batches"
    final = spark.read.parquet(f"{run}/state_{n_applied['batches'] - 1}")
    return final.filter(F.col("event_type") != "error").select(
        "user_id", F.col("value").alias("last_value")
    )


def s12_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user EWMA (alpha=0.25) in explicit GroupState —
    the streaming twin of the batch ``x_ewma`` operator, checked
    against the SAME recursive-fold oracle. Assumes per-key in-order
    arrival (the Kafka-partition-keyed-log contract); each batch is
    sorted on (ts, event_id) before folding."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    alpha = 0.25

    def fold(key, pdfs, state):
        e = state.get[0] if state.exists else None
        n = state.get[1] if state.exists else 0
        for pdf in pdfs:
            if len(pdf):
                pdf = pdf.sort_values(["ts", "event_id"])
                for v in pdf["value"]:
                    e = float(v) if e is None else alpha * float(v) + (1 - alpha) * e
                n += int(len(pdf))
        state.update((e, n))
        yield pd.DataFrame({"user_id": [key[0]], "ewma_final": [e], "n_events": [n]})

    result = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id BIGINT, ewma_final DOUBLE, n_events BIGINT",
        stateStructType="e DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(result, "update")
    # update mode re-emits per batch: the final state row is the one
    # with the highest fold count
    return out.groupBy("user_id").agg(
        F.expr("max_by(ewma_final, n_events)").alias("ewma_final"),
        F.max("n_events").alias("n_events"),
    )


def s11_pyds_kafka_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 connector surface end-to-end through the registered Python
    DataSource (``format("maprstream")``): Kafka-shaped
    key/value/topic/partition/offset records, JSON payload parsed back
    to typed fields (the A2/A4 projection), then a streaming aggregate.
    Reference contract: MapRStreamingSource.java:70-94 (subscribe,
    byte payloads, earliest offsets, partition-aligned parallelism)."""
    from mapr_plugins_spark.sources.pyds import register

    register(spark)
    raw = (
        spark.readStream.format("maprstream")
        .option("path", f"{sf_dir}/events.parquet")
        .option("topic", "events")
        .option("numPartitions", "4")
        .load()
    )
    parsed = raw.select(
        F.from_json(
            F.decode("value", "UTF-8"),
            "event_id BIGINT, user_id BIGINT, event_type STRING, "
            "value DOUBLE, props STRING, ts_ms BIGINT",
        ).alias("e")
    ).select("e.*")
    agg = parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.size(F.collect_set("user_id")).alias("n_users"),
        F.min("ts_ms").alias("min_ts_ms"),
        F.max("ts_ms").alias("max_ts_ms"),
    )
    return run_available_now(agg, "complete")


def s13_stream_dedup_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission control — the ingest-time form of
    MinHash dedup a 100 TB pipeline actually runs: document waves
    arrive as REAL micro-batches (corpus + injected variants, waves
    ordered by doc_id); each batch computes its band signatures
    incrementally (row-local, the batch's cost only) and folds them
    into a persisted signature store keyed (band, sig) holding the
    minimum arriving doc_id. A document is ADMITTED iff it is the
    first claimant of EVERY one of its band buckets; docs too short to
    sign are admitted trivially. Both folds are order-independent
    (MIN-merge + append), so out-of-order file pickup cannot change
    the result; admissions are evaluated against the final store.
    Oracle: the equivalent batch rule — admitted ⟺ min doc_id in every
    bucket — over the same corpus and the identical portable-hash band
    pipeline."""
    import os
    import uuid

    from mapr_plugins_spark.operators.dedup import minhash_band_signatures
    from mapr_plugins_spark.operators.registry import _BAND_ROWS, _MINHASH_SEEDS
    from mapr_plugins_spark.streaming.replay import (
        df_stream_chunked,
        pinned_state_partitions,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.regexp_replace("text", "^[a-z]+ ", "").alias("text"),
        )
    )
    stream = df_stream_chunked(corpus, f"{sf_dir}/dedup_corpus", "doc_id", n_chunks=4)

    run = f"/tmp/mapr_plugins_admission/{uuid.uuid4().hex[:12]}"
    os.makedirs(run, exist_ok=True)
    n_applied = {"batches": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        bands = minhash_band_signatures(
            batch, "doc_id", "text", k=3, n_hashes=_MINHASH_SEEDS, band_rows=_BAND_ROWS
        ).persist()
        bands.write.mode("append").parquet(f"{run}/bands")
        batch.select("doc_id").write.mode("append").parquet(f"{run}/roster")
        mins_new = bands.groupBy("band", "sig").agg(F.min("doc_id").alias("m"))
        prev = f"{run}/state_{batch_id - 1}"
        if os.path.exists(prev):
            state = sess.read.parquet(prev)
            merged = (
                state.unionByName(mins_new).groupBy("band", "sig").agg(F.min("m").alias("m"))
            )
        else:
            merged = mins_new
        merged.write.mode("overwrite").parquet(f"{run}/state_{batch_id}")
        bands.unpersist()
        n_applied["batches"] = max(n_applied["batches"], batch_id + 1)

    # The foreachBatch body's shuffles (per-batch bucket-min, state
    # merge) bypass run_available_now, so until round 14 they ran at
    # the session's full shuffle-partition count (32+ state files
    # written and re-read per micro-batch for KB-sized state) — the
    # foreachBatch keys were the streaming keys the §2.2
    # source-derived sizing missed, and their noted source bytes
    # leaked into the next streaming run's queue. Same pin, same
    # restore contract as run_available_now.
    with pinned_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{run}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert n_applied["batches"] >= 2, "expected multiple incremental micro-batches"
    mins = spark.read.parquet(f"{run}/state_{n_applied['batches'] - 1}")
    bands_all = spark.read.parquet(f"{run}/bands")
    adm = (
        bands_all.join(mins, ["band", "sig"])
        .groupBy("doc_id")
        .agg(F.expr("bool_and(doc_id = m)").alias("admitted"))
    )
    roster = spark.read.parquet(f"{run}/roster")
    return roster.join(adm, "doc_id", "left").select(
        "doc_id", F.coalesce("admitted", F.lit(True)).alias("admitted")
    )


def s14_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact heavy hitters (frequency > 1/200) — the
    ingest-time twin of batch ``x_heavy_hitters``, graded by the SAME
    integer-cut rule: document waves arrive as REAL micro-batches, each
    batch explodes to its token stream row-locally (the batch's cost
    only), and per-token counts fold into explicit GroupState. Counts
    are additive and commutative, so the fold is replay- and
    order-independent; the cut ``cnt·200 > n`` happens on the FINISHED
    counts (update-mode re-emissions are superseded by max — counts
    are monotone), so the streaming answer is bit-identical to the
    batch GROUP BY. At 100 TB state is one integer per DISTINCT token
    (vocabulary-sized, not corpus-sized); the same shape tracks
    ingest-time vocabulary growth and stop-word drift."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.text import tokens_col
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = df_stream_chunked(docs, f"{sf_dir}/hh_docs", "doc_id", n_chunks=4)
    toks = stream.select(F.explode(tokens_col("text")).alias("item"))

    def count_fold(key, pdfs, state):
        c = state.get[0] if state.exists else 0
        for pdf in pdfs:
            c += int(len(pdf))
        state.update((c,))
        yield pd.DataFrame({"item": [key[0]], "cnt": [c]})

    counted = toks.groupBy("item").applyInPandasWithState(
        count_fold,
        outputStructType="item STRING, cnt BIGINT",
        stateStructType="c BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(counted, "update")
    final = out.groupBy("item").agg(F.max("cnt").alias("cnt"))
    from pyspark.sql import Window as _W

    n = F.sum("cnt").over(_W.partitionBy())
    return (
        final.withColumn("__n", n)
        .filter(F.col("cnt") * 200 > F.col("__n"))
        .select(
            "item",
            "cnt",
            (F.col("cnt").cast("double") / F.col("__n")).alias("frac"),
        )
    )


def s15_stream_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitoring — the ingest-time form
    of batch ``x_drift_chi2``, graded by the SAME oracle: event waves
    arrive as real micro-batches; each batch bins its rows row-locally
    and folds per-(bin, side) counts into explicit GroupState (addition
    — commutative, so replay order and chunking cannot change the
    final histogram). The χ² report is computed over the FINISHED
    cells; at 100 TB state is 2·n_bins integers, period — drift
    monitoring costs the stream one tiny keyed aggregation."""
    import pandas as pd
    from pyspark.sql import Window as _W
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "event_type", "value")
    stream = df_stream_chunked(ev, f"{sf_dir}/drift_events", "event_id", n_chunks=4)
    bin_id = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor((F.col("value") - 0.0) / 10.0).cast("int"))
    )
    tagged = stream.select(
        bin_id.alias("bin"),
        (F.col("event_type") == "click").cast("int").alias("is_ref"),
    )

    def fold(key, pdfs, state):
        n_ref = state.get[0] if state.exists else 0
        n_cur = state.get[1] if state.exists else 0
        for pdf in pdfs:
            n_ref += int(pdf["is_ref"].sum())
            n_cur += int((1 - pdf["is_ref"]).sum())
        state.update((n_ref, n_cur))
        yield pd.DataFrame({"bin": [key[0]], "n_ref": [n_ref], "n_cur": [n_cur]})

    cells0 = tagged.groupBy("bin").applyInPandasWithState(
        fold,
        outputStructType="bin INT, n_ref BIGINT, n_cur BIGINT",
        stateStructType="r BIGINT, c BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(cells0, "update")
    # update-mode re-emissions are superseded: counts are monotone
    cells = out.groupBy("bin").agg(
        F.max("n_ref").alias("n_ref"), F.max("n_cur").alias("n_cur")
    )
    w_all = _W.partitionBy()
    j = cells.withColumn("t_ref", F.sum("n_ref").over(w_all)).withColumn(
        "t_cur", F.sum("n_cur").over(w_all)
    )
    exp = F.col("n_ref").cast("double") * F.col("t_cur") / F.col("t_ref")
    contrib = F.when(
        F.col("n_ref") > 0,
        (F.col("n_cur").cast("double") - exp) * (F.col("n_cur").cast("double") - exp) / exp,
    ).otherwise(None)
    return j.select(
        "bin", "n_ref", "n_cur",
        F.round(exp, 6).alias("expected6"),
        F.round(contrib, 6).alias("chi2_contrib6"),
    )


def s16_stream_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-source token-budget admission — the ingest-time
    form of batch ``x_token_budget_fill``, graded by the SAME oracle:
    document waves arrive as real micro-batches in doc_id order; token
    counts are computed JVM-side on the stream with the identical
    codegen expression as the batch key; per-source GroupState holds
    ONE running total, each arriving doc is admitted iff the total
    stays within budget, and every doc is emitted exactly once (in the
    batch it arrives) with its cumulative total and keep verdict. At
    100 TB the state is one BIGINT per source — quota enforcement in
    TOKENS costs the stream a single tiny keyed fold. Assumes per-key
    in-order arrival (the Kafka-partition-keyed-log contract, as
    s12); each batch is additionally sorted on doc_id before folding."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.text import tokens_col
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    budget = 2000
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokens_col("text")).alias("n_tokens")
    )
    stream = df_stream_chunked(docs, f"{sf_dir}/token_budget_docs", "doc_id", n_chunks=4)

    def fold(key, pdfs, state):
        cum = state.get[0] if state.exists else 0
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            pdf = pd.concat(frames).sort_values("doc_id")
            cums = pdf["n_tokens"].astype("int64").cumsum() + cum
            cum = int(cums.iloc[-1])
            state.update((cum,))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "source": key[0],
                    "n_tokens": pdf["n_tokens"].astype("int32"),
                    "cum_tokens": cums.astype("int64"),
                    "kept": (cums <= budget),
                }
            )
        else:
            state.update((cum,))

    result = stream.groupBy("source").applyInPandasWithState(
        fold,
        outputStructType=(
            "doc_id BIGINT, source STRING, n_tokens INT, "
            "cum_tokens BIGINT, kept BOOLEAN"
        ),
        stateStructType="cum BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # each doc is emitted exactly once (the batch it arrives in), so
    # the union of update-mode emissions IS the per-doc admission log
    return run_available_now(result, "update")


def _stream_mg_candidates(
    spark: SparkSession, sf_dir: str, k: int = 256, n_buckets: int = 8
) -> DataFrame:
    """Pass 1 of the BOUNDED-state streaming heavy hitters: the token
    stream hash-routes to ``n_buckets`` keys, each holding ONE
    Misra-Gries summary of at most ``k`` counters in GroupState — total
    state is n_buckets·k rows no matter the vocabulary (the designed
    contrast to s14's one-counter-per-distinct-token state). Per batch
    the fold value_counts the bucket's tokens (vectorized) and merges
    by the standard MG decrement (subtract the (k+1)-th largest, drop
    ≤0 — Agarwal et al.'s mergeable summaries, a public algorithm).
    An item whose GLOBAL count exceeds n/(k+1) exceeds its bucket's
    n_b/(k+1) (n_b ≤ n), so it survives its bucket's summary: the
    final summaries are a guaranteed candidate SUPERSET for any
    threshold 1/phi_inv with k+1 > phi_inv. Emits each bucket's
    summary per batch with (seq, state_size); the FINAL seq per bucket
    is the candidate set."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.text import tokens_col
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = df_stream_chunked(docs, f"{sf_dir}/hhb_docs", "doc_id", n_chunks=4)
    toks = stream.select(F.explode(tokens_col("text")).alias("item")).select(
        "item", (F.abs(F.hash("item")) % n_buckets).cast("int").alias("bucket")
    )

    def fold(key, pdfs, state):
        if state.exists:
            items, cnts, seq = state.get
            counters = dict(zip(items, (int(c) for c in cnts)))
        else:
            counters, seq = {}, 0
        for pdf in pdfs:
            for item, c in pdf["item"].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - sub for i, c in counters.items() if c > sub}
        seq += 1
        state.update((list(counters.keys()), list(counters.values()), seq))
        yield pd.DataFrame(
            {
                "bucket": key[0],
                "item": list(counters.keys()),
                "seq": seq,
                "state_size": len(counters),
            }
        )

    summarized = toks.groupBy("bucket").applyInPandasWithState(
        fold,
        outputStructType="bucket INT, item STRING, seq INT, state_size INT",
        stateStructType="items ARRAY<STRING>, cnts ARRAY<BIGINT>, seq INT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_available_now(summarized, "update")


def s17_stream_heavy_hitters_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters with BOUNDED state (frequency > 1/200) —
    the production answer to s14's vocabulary-sized state: pass 1 folds
    the token stream into n_buckets Misra-Gries GroupState summaries of
    ≤ k counters each (state = n_buckets·k rows at ANY vocabulary;
    size pinned in tests/test_streaming.py), whose final candidate set
    is a guaranteed superset of every item above n/(k+1); pass 2 is
    the batch op's exact broadcast recount with the integer cut
    ``cnt·200 > n`` — so the answer is bit-identical to the exact
    GROUP BY and shares x_heavy_hitters' full-value oracle verbatim."""
    from mapr_plugins_spark.operators.text import tokens_col

    k = 256  # k + 1 > phi_inv=200: per-bucket superset guarantee holds
    from pyspark.sql import Window as _W

    emitted = _stream_mg_candidates(spark, sf_dir, k=k, n_buckets=8)
    # final summary per bucket = max-seq emission (window, not a
    # self-join: memory-sink views don't deduplicate attributes)
    last_seq = F.max("seq").over(_W.partitionBy("bucket"))
    cands = (
        emitted.withColumn("__last", last_seq)
        .filter(F.col("seq") == F.col("__last"))
        .select("item")
        .distinct()
    )
    # the token TOTAL needs no explode at all — each doc contributes
    # exactly size(tokens) rows, so Σ size is the count (guide §2.3:
    # row-local size arithmetic instead of a second corpus-wide explode;
    # coalesced because SUM over an empty corpus is NULL, not 0)
    docs_tok = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs_tok.select(F.explode(tokens_col("text")).alias("item"))
    tot = docs_tok.agg(
        F.coalesce(F.sum(F.greatest(F.size(tokens_col("text")), F.lit(0))), F.lit(0)).alias("n")
    )
    return (
        toks.join(F.broadcast(cands), "item")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") * 200 > F.col("n"))
        .select(
            "item", "cnt", (F.col("cnt").cast("double") / F.col("n")).alias("frac")
        )
    )


def s18_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming count-min sketch (w=64, d=4): the ingest-time form of
    batch ``x_sketch_cms``, graded by the SAME oracle. Token waves
    arrive as real micro-batches; each batch computes its (seed, pos)
    cells row-locally with the engine-portable hash and folds the cell
    counts into per-cell GroupState — addition, so chunking and replay
    order cannot change the finished sketch, and state is AT MOST
    w·d = 256 BIGINTs no matter the vocabulary (the sketch IS the
    bounded-state answer to frequency tracking). Final cells feed the
    batch estimator for every distinct token."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.functions.portable_hash import with_seeded_hash60
    from mapr_plugins_spark.operators.sketch import cms_estimate
    from mapr_plugins_spark.operators.text import tokens_col
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    width, depth = 64, 4
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    stream = df_stream_chunked(docs, f"{sf_dir}/cms_docs", "doc_id", n_chunks=4)
    # Full-width repartition BEFORE the ×depth portable-hash stage (the
    # streaming twin of the fan_out inside the batch cms_build, which
    # cannot be used here — fan_out probes .rdd, unsupported on
    # streams): each micro-batch is ONE staged file, so the ~4·tokens
    # md5 draws — the operator's real CPU — otherwise fuse into that
    # single scan task and run serially regardless of the state
    # partition count (which only governs the post-shuffle fold).
    # Cell counts are a commutative sum: partitioning-independent.
    toks = stream.repartition(
        spark.sparkContext.defaultParallelism
    ).select(F.explode(tokens_col("text")).alias("__k"))
    cells = with_seeded_hash60(
        toks.select(
            "__k",
            F.explode(F.array(*[F.lit(s) for s in range(depth)])).alias("seed"),
        ),
        "__h",
        "__k",
        "seed",
    ).select("seed", (F.col("__h") % width).alias("pos"))

    def fold(key, pdfs, state):
        c = state.get[0] if state.exists else 0
        for pdf in pdfs:
            c += int(len(pdf))
        state.update((c,))
        yield pd.DataFrame({"seed": [key[0]], "pos": [key[1]], "cnt": [c]})

    counted = cells.groupBy("seed", "pos").applyInPandasWithState(
        fold,
        outputStructType="seed INT, pos BIGINT, cnt BIGINT",
        stateStructType="c BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(counted, "update")
    # finished cells = max per cell (counts are monotone across
    # update-mode re-emissions)
    sketch = out.groupBy("seed", "pos").agg(F.max("cnt").alias("cnt"))
    probes = _t(spark, sf_dir, "documents").select(
        F.explode(tokens_col("text")).alias("token")
    )
    return cms_estimate(sketch, probes, "token", width=width, depth=depth)


def s19_stream_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming histogram-quantile sketch — the ingest-time twin of
    batch ``x_sketch_quantile``, graded by the SAME oracle. The
    histogram range [lo, hi] is fixed up front (here taken from the
    static table — production metrics histograms configure it a
    priori), each micro-batch buckets its rows row-locally with the
    identical explicit arithmetic, and per-(group, bucket) counts fold
    into GroupState (addition ⇒ chunking/replay independent). State is
    ≤ groups·n_bins BIGINTs — bounded at any event volume. Finished
    cells feed the shared finalize reduction, so estimates equal the
    batch sketch bit for bit."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.sketch import histogram_quantile_from_cells
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    n_bins = 256
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    b = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).collect()[0]
    lo, hi = float(b.lo), float(b.hi)
    stream = df_stream_chunked(ev, f"{sf_dir}/quantile_events", "event_id", n_chunks=4)
    if hi == lo:
        bucket = F.lit(0)
    else:
        bucket = F.least(
            F.lit(n_bins - 1),
            F.floor((F.col("value") - F.lit(lo)) / F.lit((hi - lo) / n_bins)).cast(
                "int"
            ),
        )
    tagged = stream.select("event_type", bucket.alias("__b"))

    def fold(key, pdfs, state):
        c = state.get[0] if state.exists else 0
        for pdf in pdfs:
            c += int(len(pdf))
        state.update((c,))
        yield pd.DataFrame(
            {"event_type": [key[0]], "__b": [key[1]], "cnt": [c]}
        )

    counted = tagged.groupBy("event_type", "__b").applyInPandasWithState(
        fold,
        outputStructType="event_type STRING, __b INT, cnt BIGINT",
        stateStructType="c BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(counted, "update")
    cells = (
        out.groupBy("event_type", "__b")
        .agg(F.max("cnt").alias("__n"))  # counts are monotone per cell
        .select(
            "event_type",
            "__b",
            "__n",
            F.lit(lo).alias("__lo"),
            F.lit(hi).alias("__hi"),
        )
    )
    return histogram_quantile_from_cells(cells, "event_type", (0.5, 0.9), n_bins)


def s20_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental ROLLUP maintenance — the streaming twin
    of batch ``x_rollup_apply``: each (real) micro-batch reduces to
    its mergeable per-(user, event_type) aggregate state (count,
    exact DECIMAL sum, min, max) and folds into the persisted state
    table via ``foreachBatch`` — the classic streaming materialized
    view. Every component fold is commutative+associative, so batch
    boundaries and arrival order cannot change the result, and the
    final state equals the full-log aggregate: the key shares
    ROLLUP_ORACLE_SQL with the batch twin VERBATIM. State size is
    bounded by the group count, never the event count."""
    import shutil
    import uuid

    from pyspark.errors import AnalysisException

    from mapr_plugins_spark.operators.analytics import (
        incremental_agg_merge,
        incremental_agg_state,
    )
    from mapr_plugins_spark.streaming.replay import (
        events_stream_chunked,
        pinned_state_partitions,
    )

    run = f"/tmp/mapr_plugins_rollup/{uuid.uuid4().hex[:12]}"
    keys = ["user_id", "event_type"]
    stream = events_stream_chunked(spark, sf_dir).select(
        "user_id", "event_type", "value"
    )
    n_applied = {"batches": 0}

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        wave = incremental_agg_state(batch, keys, "value")
        # prior-state existence resolves through the catalog READ, not
        # a driver-local os.path probe: on a non-local checkpoint/
        # storage filesystem (HDFS, S3) an os.path.exists() silently
        # misses prior state and every batch restarts from zero
        # (round-5 ADVICE). A failed read on batch 0 is the expected
        # cold start; any other batch must find its predecessor.
        try:
            prev = sess.read.parquet(f"{run}/state_{batch_id - 1}")
            merged = incremental_agg_merge([prev, wave], keys)
        except AnalysisException:
            if batch_id != 0:
                raise  # lost state is corruption, never a cold start
            merged = wave
        merged.write.mode("overwrite").parquet(f"{run}/state_{batch_id}")
        n_applied["batches"] = max(n_applied["batches"], batch_id + 1)

    # state-partition pin: see s13 — foreachBatch bodies bypass
    # run_available_now's sizing, and the group-bounded state merge
    # otherwise shuffles into the session's full partition count per
    # micro-batch.
    with pinned_state_partitions(spark):
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", f"{run}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    assert n_applied["batches"] >= 2, "expected multiple incremental micro-batches"
    final = (
        spark.read.parquet(f"{run}/state_{n_applied['batches'] - 1}")
        .select(
            *keys,
            "cnt",
            F.col("sum_dec").cast("double").alias("sum_v"),
            (
                F.col("sum_dec").cast("double") / F.col("cnt").cast("double")
            ).alias("avg_v"),
            "min_v",
            "max_v",
        )
        # materialize before cleanup: the run directory (per-batch state
        # + stream checkpoint) must not leak across runs (round-5
        # ADVICE), and the returned frame must not depend on it
        .localCheckpoint()
    )
    shutil.rmtree(run, ignore_errors=True)
    return final


def s21_stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Holt double exponential smoothing per user — the
    GroupState twin of batch ``x_holt_trend``, sharing
    HOLT_TREND_ORACLE_SQL VERBATIM. State is the O(1) (level, trend,
    n) triple; each micro-batch folds its (ts, event_id)-sorted rows
    through the SAME IEEE recurrence (α=1/2, β=1/4), so the final
    state is bit-identical to the batch fold. Assumes per-key in-order
    arrival across batches (the Kafka-partition-keyed-log contract
    s12 documents)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    ev = events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")

    def fold(key, pdfs, state):
        l, b, n = state.get if state.exists else (0.0, 0.0, 0)
        for pdf in pdfs:
            if len(pdf):
                pdf = pdf.sort_values(["ts", "event_id"])
                for v in pdf["value"]:
                    v = float(v)
                    if n == 0:
                        l, b = v, 0.0
                    else:
                        l_new = 0.5 * v + 0.5 * (l + b)
                        b = 0.25 * (l_new - l) + 0.75 * b
                        l = l_new
                    n += 1
        state.update((l, b, n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "level": [l], "trend": [b], "n_obs": [n]}
        )

    result = ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="user_id BIGINT, level DOUBLE, trend DOUBLE, n_obs BIGINT",
        stateStructType="l DOUBLE, b DOUBLE, n BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(result, "update")
    # update mode re-emits per batch: keep the highest-fold-count row
    final = out.groupBy("user_id").agg(
        F.expr("max_by(level, n_obs)").alias("level"),
        F.expr("max_by(trend, n_obs)").alias("trend"),
        F.max("n_obs").alias("n_obs"),
    )
    return final.select(
        "user_id", "n_obs", "level", "trend",
        (F.col("level") + F.lit(1.0) * F.col("trend")).alias("forecast_1"),
        (F.col("level") + F.lit(3.0) * F.col("trend")).alias("forecast_3"),
    )


def s22_stream_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-event z-score anomaly flags — the GroupState twin
    of batch ``x_zscore_anomaly``, sharing ZSCORE_ORACLE_SQL VERBATIM.
    State is O(1) per key: (n, S1, S2), with S2 carried as a decimal
    STRING (S2 = Σx² outgrows int64 at ~40k events/key at this value
    range; Python ints are arbitrary-precision, so exactness survives
    any history length). Replayed in 4 REAL ts-contiguous micro-batches
    (ts is globally unique in the corpus, so in-order arrival is
    well-defined); each batch folds its rows sorted by (ts, event_id)
    through the SAME integer test the batch window computes —
    (n·x − S1)² > 9·(n·S2 − S1²) — and emits one flagged row per event
    (append semantics), so the union across batches is row-for-row the
    batch result."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.catalog import table
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "value"
    )
    stream = df_stream_chunked(ev, f"{sf_dir}/zscore_events", "ts", n_chunks=4)
    # Guide §4: do the double→micro-unit conversion in JVM codegen
    # BEFORE the Python boundary and ship a BIGINT instead of a DOUBLE
    # — floor(value · 1e6) on an IEEE double is the identical integer
    # math.floor(float(v) * 1000000.0) produced per row in Python
    # (same double multiply, same floor). The fold's state and output
    # are unchanged.
    stream = stream.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value") * 1000000.0).cast("long").alias("x_micro"),
    )

    def fold(key, pdfs, state):
        # accumulators are PYTHON ints on purpose: s2 = Σx² outgrows
        # int64 at ~40k events/key, and (n·x − s1)² outgrows it far
        # earlier — exactness at any history length needs arbitrary
        # precision. The per-row interpreted loop is gone (guide §4):
        # prefix sums via itertools.accumulate (C-paced big-int adds)
        # and the flag comparison vectorized over object-dtype numpy
        # arrays (C-paced element loop over exact Python ints).
        from itertools import accumulate

        import numpy as np

        if state.exists:
            n0, s1_0, s2s = state.get
            n0, s1_0, s2_0 = int(n0), int(s1_0), int(s2s)
        else:
            n0, s1_0, s2_0 = 0, 0, 0
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((n0, s1_0, str(s2_0)))
            return
        # one global (ts, event_id) sort across the key's whole batch —
        # the same total order the per-chunk fold consumed (ts is
        # globally unique, chunks are ts-contiguous)
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        xs = pdf["x_micro"].tolist()  # exact Python ints
        m = len(xs)
        s1c = list(accumulate(xs, initial=s1_0))
        s2c = list(accumulate((x * x for x in xs), initial=s2_0))
        xa = np.array(xs, dtype=object)
        s1a = np.array(s1c[:-1], dtype=object)
        s2a = np.array(s2c[:-1], dtype=object)
        na = np.arange(n0, n0 + m, dtype=object)
        flags = (na >= 5) & ((na * xa - s1a) ** 2 > 9 * (na * s2a - s1a * s1a))
        state.update((n0 + m, s1c[-1], str(s2c[-1])))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * m,
                "event_id": pdf["event_id"].to_numpy(),
                "x_micro": xs,
                "n_prev": np.arange(n0, n0 + m),
                "is_anomaly": flags.astype(bool),
            }
        )

    result = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=(
            "user_id BIGINT, event_id BIGINT, x_micro BIGINT,"
            " n_prev BIGINT, is_anomaly BOOLEAN"
        ),
        stateStructType="n BIGINT, s1 BIGINT, s2s STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # entity-keyed (one state row per user), row-paced fold: the
    # denser row-fold partition advisory applies (replay.py) — the
    # binding resource is Python fold CPU, not state-store instances
    return run_available_now(result, "append", row_paced_fold=True)


def s23_stream_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-order Markov transition matrix — the GroupState
    twin of batch ``x_markov_transitions``, sharing its oracle
    VERBATIM. The stateful part is exactly the thing a batch lead()
    gets for free and a stream must carry: transitions that SPAN
    micro-batch boundaries. State is O(1) per key (the key's last
    event type); each batch sorts its rows by (ts, event_id), pairs
    the carried last state with the batch's first row, emits one
    (from, to) row per transition (append), and the final matrix is a
    plain commutative aggregate over the emitted pairs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.catalog import table
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    stream = df_stream_chunked(ev, f"{sf_dir}/markov_events", "ts", n_chunks=4)

    def fold(key, pdfs, state):
        # Guide §4: the per-row interpreted loop is gone — a (from, to)
        # transition stream is the sorted event_type column zipped with
        # itself shifted by one (the carried last state fills slot 0),
        # all array ops. One global (ts, event_id) sort across the
        # key's whole batch replaces the per-chunk sorts — identical
        # total order (ts is globally unique, chunks are
        # ts-contiguous). State and emitted rows are unchanged.
        last = state.get[0] if state.exists else None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if not frames:
            state.update((last,))
            return
        pdf = pd.concat(frames) if len(frames) > 1 else frames[0]
        pdf = pdf.sort_values(["ts", "event_id"])
        tos = pdf["event_type"].to_numpy()
        froms = np.empty_like(tos)
        froms[1:] = tos[:-1]
        froms[0] = last
        state.update((str(tos[-1]),))
        if last is None:
            froms, tos = froms[1:], tos[1:]
        if len(tos):
            yield pd.DataFrame({"from_state": froms, "to_state": tos})

    pairs = stream.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType="from_state STRING, to_state STRING",
        stateStructType="last STRING",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # entity-keyed (one state row per user), row-paced fold — same
    # declaration as s22 (replay.py: _ROW_FOLD_PARTITION_BYTES_CONF)
    emitted = run_available_now(pairs, "append", row_paced_fold=True)
    counts = emitted.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    # rename the totals key: both sides descend from the same memory
    # sink and a bare self-join on "from_state" trips the analyzer's
    # conflicting-attribute check
    totals = (
        counts.select(F.col("from_state").alias("__fs"), "n_pair")
        .groupBy("__fs")
        .agg(F.sum("n_pair").alias("n_from"))
    )
    return (
        counts.join(totals, F.col("from_state") == F.col("__fs"))
        .select(
            "from_state", "to_state", "n_pair", "n_from",
            F.expr("(n_pair * 1000000) DIV n_from").alias("p_micro"),
        )
    )


def s24_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Population Stability Index — the GroupState twin of
    batch ``x_psi_drift``, sharing its oracle VERBATIM. Per-(bin)
    histogram counts fold commutatively in O(1) state (the s15
    pattern: addition — replay order and chunking cannot change the
    finished cells); the PSI finish (smoothing, engine-portable ln,
    terms, total) is computed over the finished histogram by the
    SAME factored expression tree the batch operator uses
    (``psi_from_cells``). At 100 TB: 2·n_bins integers of state,
    period — scorecard drift monitoring costs the stream one tiny
    keyed aggregation."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.analytics import psi_from_cells
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    ev = _t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    ).select("event_id", "event_type", "value")
    stream = df_stream_chunked(ev, f"{sf_dir}/psi_events", "event_id", n_chunks=4)
    bin_id = F.least(
        F.lit(9),
        F.greatest(F.lit(0), F.floor((F.col("value") - 0.0) / 50.0).cast("int")),
    )
    tagged = stream.select(
        bin_id.alias("bin"),
        (F.col("event_type") == "click").cast("int").alias("is_ref"),
    )

    def fold(key, pdfs, state):
        rb = state.get[0] if state.exists else 0
        cb = state.get[1] if state.exists else 0
        for pdf in pdfs:
            rb += int(pdf["is_ref"].sum())
            cb += int((1 - pdf["is_ref"]).sum())
        state.update((rb, cb))
        yield pd.DataFrame({"bin": [key[0]], "rb": [rb], "cb": [cb]})

    cells0 = tagged.groupBy("bin").applyInPandasWithState(
        fold,
        outputStructType="bin INT, rb BIGINT, cb BIGINT",
        stateStructType="r BIGINT, c BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(cells0, "update")
    # update-mode re-emissions are superseded: counts are monotone
    cells = out.groupBy("bin").agg(
        F.max("rb").alias("rb"), F.max("cb").alias("cb")
    )
    return psi_from_cells(cells, n_bins=10)


def s25_stream_semantic_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEMANTIC near-dup admission — the ingest-time form of
    fixed-codebook semantic dedup (the s13 admission pattern over the
    codebook routing kernel, round-12 verdict #6): embedding waves
    arrive as REAL micro-batches; each vector routes row-locally (no
    shuffle, no Python) to its semantic bucket — nearest fixed-codebook
    cell by exact-integer micro-unit L2 (ties → lowest cell id, the
    graded x_ann_ivf_batch_codebook kernel) × a 4-sign-bit coarse
    signature — and a GroupState fold keyed (cell, sig) claims the
    MINIMUM arriving vec_id per bucket. MIN-merge is commutative, so
    out-of-order file pickup cannot change the result. A vector is
    ADMITTED iff it is its bucket's first claimant, evaluated against
    the FINAL state (min is monotone, so the last update-mode emission
    per bucket IS the global min). State: one BIGINT per occupied
    bucket, ≤ n_cells·16 rows at ANY corpus size — the codebook is
    sized for the target corpus at train time, exactly like the batch
    codebook exhibits. Columns: (vec_id, admitted)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.operators.similarity import (
        codebook_cells,
        codebook_ranked_cells,
        quantize_micro,
    )
    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stride = (emb.count() + 15) // 16
    cells = codebook_cells(
        emb.filter(F.col("vec_id") % stride == 0).select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
        )
    )

    def bucket_cols(df: DataFrame) -> DataFrame:
        cell = F.element_at(
            codebook_ranked_cells(cells, "__q"), 1
        )["list_id"]
        # 4-sign-bit coarse signature: float >= 0 is exact in every
        # engine, so the sub-bucket is bit-replayable
        sig = sum(
            (F.element_at("embedding", j + 1) >= 0).cast("long") * (1 << j)
            for j in range(4)
        )
        return (
            df.withColumn("__q", quantize_micro("embedding"))
            .withColumn("cell", cell)
            .withColumn("sig", sig)
            .drop("__q")
        )

    stream = df_stream_chunked(emb, f"{sf_dir}/sem_adm", "vec_id", n_chunks=4)
    routed = bucket_cols(stream).select("vec_id", "cell", "sig")

    def claim_min(key, pdfs, state):
        m = state.get[0] if state.exists else None
        for pdf in pdfs:
            b = int(pdf["vec_id"].min())
            m = b if m is None else min(m, b)
        state.update((m,))
        yield pd.DataFrame({"cell": [key[0]], "sig": [key[1]], "m": [m]})

    claimed = routed.groupBy("cell", "sig").applyInPandasWithState(
        claim_min,
        outputStructType="cell BIGINT, sig BIGINT, m BIGINT",
        stateStructType="m BIGINT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = run_available_now(claimed, "update")
    # min is monotone non-increasing across update-mode re-emissions
    mins = out.groupBy("cell", "sig").agg(F.min("m").alias("m"))
    roster = bucket_cols(emb).select("vec_id", "cell", "sig")
    return roster.join(F.broadcast(mins), ["cell", "sig"]).select(
        "vec_id", (F.col("vec_id") == F.col("m")).alias("admitted")
    )


#: s26's drift corpus: every original document re-arrives in the LATE
#: wave with a marker phrase appended — a deterministic distribution
#: shift the oracle replays verbatim (the dedup-corpus injection
#: precedent). 2 repeats make the marker bigrams ~3.4% of the late
#: side's bigram mass at every sf (token/doc stats are sf-stable).
_DRIFT_MARKER = " qq drift marker qq drift marker"


def _bigram_drift_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.unionByName(
        docs.select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat("text", F.lit(_DRIFT_MARKER)).alias("text"),
        )
    )


def s26_stream_bigram_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming collocation-drift monitor with BOUNDED state — the
    Misra-Gries twin over token BIGRAMS (round-12 verdict #6): document
    waves arrive as real micro-batches (originals = the EARLY side,
    marker-injected re-arrivals = the LATE side, split by the same
    doc_id rule the ntile staging follows); each wave expands to its
    positional bigram stream row-locally, hash-routes to n_buckets
    Misra-Gries summaries of ≤ k counters PER SIDE in GroupState (state
    ≤ 2·n_buckets·k rows at ANY vocabulary), and the final summaries
    are a guaranteed candidate superset for the drift cut: any bigram
    with |freq_late − freq_early| > 1/φ must hold freq > 1/φ on at
    least one side, hence count > n_side/(k+1) there (k+1 > φ), hence
    survives that side's summary (the s17 superset argument per side).
    Pass 2 exactly recounts ONLY the candidates and applies the
    integer cross-product cut |late·n_e − early·n_l|·φ > n_e·n_l — so
    the answer is bit-identical to the batch GROUP BY rule and the
    oracle replays it without the sketch. Columns: (bigram, early_cnt,
    late_cnt)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    from mapr_plugins_spark.streaming.replay import df_stream_chunked

    phi, k, n_buckets = 50, 64, 8  # k + 1 > phi: superset guarantee
    corpus = _bigram_drift_corpus(spark, sf_dir)

    def bigrams_of(df: DataFrame) -> DataFrame:
        from mapr_plugins_spark.operators.text import tokens_col

        toks = df.withColumn("__t", tokens_col("text")).filter(F.size("__t") >= 2)
        pairs = F.expr(
            "transform(sequence(1, size(__t) - 1),"
            " i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))"
        )
        return toks.select(
            (F.col("doc_id") >= 1000000).cast("int").alias("late"),
            F.explode(pairs).alias("bigram"),
        )

    stream = df_stream_chunked(corpus, f"{sf_dir}/bigram_drift", "doc_id", n_chunks=4)
    # (a full-width pre-expansion repartition — the s18 fix — was
    # A/B'd here and measured FLAT: bigram concat is native-cheap
    # unlike s18's md5 family, so the added per-batch exchange cancels
    # the parallelism; recorded so round 15 doesn't re-try it)
    routed = bigrams_of(stream).select(
        "late", "bigram", (F.abs(F.hash("bigram")) % n_buckets).cast("int").alias("bucket")
    )

    def fold(key, pdfs, state):
        if state.exists:
            items, cnts, seq = state.get
            counters = dict(zip(items, (int(c) for c in cnts)))
        else:
            counters, seq = {}, 0
        for pdf in pdfs:
            for item, c in pdf["bigram"].value_counts().items():
                counters[item] = counters.get(item, 0) + int(c)
            if len(counters) > k:
                sub = sorted(counters.values(), reverse=True)[k]
                counters = {i: c - sub for i, c in counters.items() if c > sub}
        seq += 1
        state.update((list(counters.keys()), list(counters.values()), seq))
        yield pd.DataFrame(
            {
                "late": key[0],
                "bucket": key[1],
                "bigram": list(counters.keys()),
                "seq": seq,
            }
        )

    summarized = routed.groupBy("late", "bucket").applyInPandasWithState(
        fold,
        outputStructType="late INT, bucket INT, bigram STRING, seq INT",
        stateStructType="items ARRAY<STRING>, cnts ARRAY<BIGINT>, seq INT",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    emitted = run_available_now(summarized, "update")
    from pyspark.sql import Window as _W

    last_seq = F.max("seq").over(_W.partitionBy("late", "bucket"))
    cands = (
        emitted.withColumn("__last", last_seq)
        .filter(F.col("seq") == F.col("__last"))
        .select("bigram")
        .distinct()
    )
    # pass 2: exact per-side recount of candidates only (batch side)
    bgs = bigrams_of(corpus)
    # per-side totals WITHOUT the second bigram explode (guide §2.3):
    # a document with t ≥ 2 tokens emits exactly t − 1 bigrams (and
    # shorter docs emit none), so Σ(t−1) per side over the raw corpus
    # IS the bigram total — row-local size arithmetic on the token
    # array replaces re-building every bigram string corpus-wide just
    # to count the rows.
    from mapr_plugins_spark.operators.text import tokens_col as _tc

    tots = (
        corpus.select(
            (F.col("doc_id") >= 1000000).cast("int").alias("late"),
            F.greatest(F.size(_tc("text")) - 1, F.lit(0)).alias("__nb"),
        )
        .groupBy()
        .agg(  # coalesce: SUM over an empty corpus is NULL, the count is 0
            F.coalesce(F.sum(F.when(F.col("late") == 0, F.col("__nb")).otherwise(0)), F.lit(0))
            .alias("n_e"),
            F.coalesce(F.sum(F.when(F.col("late") == 1, F.col("__nb")).otherwise(0)), F.lit(0))
            .alias("n_l"),
        )
    )
    counted = (
        bgs.join(F.broadcast(cands), "bigram")
        .groupBy("bigram")
        .agg(
            F.sum(F.lit(1) - F.col("late")).alias("early_cnt"),
            F.sum("late").alias("late_cnt"),
        )
    )
    return (
        counted.crossJoin(F.broadcast(tots))
        .filter(
            F.abs(
                F.col("late_cnt") * F.col("n_e") - F.col("early_cnt") * F.col("n_l")
            )
            * phi
            > F.col("n_e") * F.col("n_l")
        )
        .select("bigram", "early_cnt", "late_cnt")
    )


def streaming_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    fns = [
        s01_tumbling_window,
        s02_sliding_window,
        s03_session_window,
        s04_stateful_dedup,
        s05_stream_static_join,
        s06_stream_stream_join,
        s07_dedup_within_watermark,
        s08_stateful_running_max,
        s10_cdc_merge_upsert,
        s11_pyds_kafka_source,
        s12_stream_ewma,
        s13_stream_dedup_admission,
        s14_stream_heavy_hitters,
        s15_stream_drift,
        s16_stream_token_budget,
        s17_stream_heavy_hitters_bounded,
        s18_stream_cms,
        s19_stream_quantile,
        s20_stream_rollup,
        s21_stream_holt,
        s22_stream_zscore,
        s23_stream_markov,
        s24_stream_psi,
        s25_stream_semantic_admission,
        s26_stream_bigram_drift,
    ]
    if tws_available():
        fns.append(s09_transform_with_state)
    return {fn.__name__: fn for fn in fns}


def streaming_oracles() -> dict[str, str]:
    from mapr_plugins_spark.operators.registry import (
        _CORPUS_SQL,
        _TOKS_SQL,
        _int_d2_sql,
        _minhash_pairs_ctes,
    )

    from mapr_plugins_spark.operators.registry import (
        DRIFT_CHI2_ORACLE_SQL,
        TOKEN_BUDGET_ORACLE_SQL,
        HOLT_TREND_ORACLE_SQL,
        ZSCORE_ORACLE_SQL,
        MARKOV_ORACLE_SQL,
        _psi_oracle,
    )

    from mapr_plugins_spark.operators.registry import _cms_oracle

    from mapr_plugins_spark.operators.registry import ROLLUP_ORACLE_SQL

    oracles = {
        # every state component folds commutatively, so the streaming
        # materialized view finishes at the batch aggregate and shares
        # the batch x_rollup_apply oracle verbatim
        "s20_stream_rollup": ROLLUP_ORACLE_SQL,
        # the streaming cell fold finishes at exactly the batch cells
        # (commutative addition), so the sketch estimates share the
        # batch x_sketch_cms oracle verbatim
        "s18_stream_cms": _cms_oracle(),
        # the streaming cell fold finishes at the batch histogram cells
        # (the [lo, hi] range is the same static min/max), so the
        # quantile report shares the batch x_sketch_quantile oracle
        "s19_stream_quantile": __import__(
            "mapr_plugins_spark.operators.sketch",
            fromlist=["histogram_quantile_oracle_sql"],
        ).histogram_quantile_oracle_sql("event_type", "value", "events"),
        # the streaming histogram fold finishes at exactly the batch
        # counts (commutative addition), so the drift report shares the
        # batch key's oracle verbatim
        "s15_stream_drift": DRIFT_CHI2_ORACLE_SQL,
        # the streaming running-total fold over doc_id-ordered waves
        # finishes at exactly the batch window cumsum, so the admission
        # log shares the batch key's oracle verbatim
        "s16_stream_token_budget": TOKEN_BUDGET_ORACLE_SQL,
        "s21_stream_holt": HOLT_TREND_ORACLE_SQL,
        "s22_stream_zscore": ZSCORE_ORACLE_SQL,
        "s23_stream_markov": MARKOV_ORACLE_SQL,
        "s24_stream_psi": _psi_oracle(n_bins=10, lo=0.0, hi=500.0),
        # batch replay of the streaming count-fold: identical token
        # definition and integer cut as x_heavy_hitters
        # the bounded-state variant ends in the same exact recount and
        # integer cut, so it shares the heavy-hitters oracle verbatim
        "s17_stream_heavy_hitters_bounded": f"""
            WITH toks AS (SELECT unnest({_TOKS_SQL}) AS item FROM documents),
            tot AS (SELECT COUNT(*) AS n FROM toks),
            g AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
            SELECT g.item, g.cnt, CAST(g.cnt AS DOUBLE) / t.n AS frac
            FROM g, tot t WHERE g.cnt * 200 > t.n
        """,
        "s14_stream_heavy_hitters": f"""
            WITH toks AS (SELECT unnest({_TOKS_SQL}) AS item FROM documents),
            tot AS (SELECT COUNT(*) AS n FROM toks),
            g AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
            SELECT g.item, g.cnt, CAST(g.cnt AS DOUBLE) / t.n AS frac
            FROM g, tot t WHERE g.cnt * 200 > t.n
        """,
        # batch replay of the streaming semantic-admission rule: the
        # SAME flat integer-d² codebook routing as the graded
        # x_ann_ivf_batch_codebook oracle (stride via scalar subquery,
        # ties ASC cell id) × the 4-sign-bit sub-signature; admitted ⟺
        # this vec_id is the minimum of its (cell, sig) bucket
        "s25_stream_semantic_admission": f"""
            WITH e AS MATERIALIZED (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       list_transform(embedding::DOUBLE[],
                           x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
                FROM embeddings
            ),
            cent AS MATERIALIZED (
                SELECT vec_id AS cl, q AS cq FROM e
                WHERE vec_id % ((SELECT count(*) + 15 FROM e) // 16) = 0
            ),
            sb AS MATERIALIZED (
                SELECT vec_id, cell,
                       CAST((v[1] >= 0)::INT + 2 * (v[2] >= 0)::INT
                          + 4 * (v[3] >= 0)::INT + 8 * (v[4] >= 0)::INT
                            AS BIGINT) AS sig
                FROM (
                    SELECT e.vec_id, e.v, c.cl AS cell,
                           row_number() OVER (PARTITION BY e.vec_id ORDER BY
                               {_int_d2_sql("e.q", "c.cq")} ASC, c.cl ASC) AS rn
                    FROM e CROSS JOIN cent c
                ) WHERE rn = 1
            ),
            mins AS (SELECT cell, sig, MIN(vec_id) AS m FROM sb GROUP BY 1, 2)
            SELECT s.vec_id, s.vec_id = m.m AS admitted
            FROM sb s JOIN mins m ON m.cell = s.cell AND m.sig = s.sig
        """,
        # batch replay of the bigram drift rule WITHOUT the sketch: the
        # Misra-Gries stage is a guaranteed candidate superset and pass
        # 2 recounts exactly, so the streaming answer finishes at this
        # plain per-side GROUP BY with the integer cross-product cut
        "s26_stream_bigram_drift": f"""
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000,
                       text || ' qq drift marker qq drift marker'
                FROM documents
            ),
            t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM corpus),
            bg AS (
                SELECT (doc_id >= 1000000)::INT AS late,
                       toks[i] || ' ' || toks[i + 1] AS bigram
                FROM t, unnest(range(1, len(toks))) AS u(i)
                WHERE len(toks) >= 2
            ),
            tot AS (
                SELECT CAST(SUM(1 - late) AS BIGINT) AS n_e,
                       CAST(SUM(late) AS BIGINT) AS n_l
                FROM bg
            ),
            c AS (
                SELECT bigram,
                       CAST(SUM(1 - late) AS BIGINT) AS early_cnt,
                       CAST(SUM(late) AS BIGINT) AS late_cnt
                FROM bg GROUP BY 1
            )
            SELECT bigram, early_cnt, late_cnt
            FROM c, tot
            WHERE abs(late_cnt * n_e - early_cnt * n_l) * 50 > n_e * n_l
        """,
        # batch replay of the streaming admission rule: the CTE chain is
        # the SAME portable-hash band pipeline the pairs oracle uses
        # (only corpus..bands are consumed; the pair CTEs prune away) —
        # admitted ⟺ this doc_id is the minimum in EVERY of its buckets
        "s13_stream_dedup_admission": f"""
            WITH {_minhash_pairs_ctes(_CORPUS_SQL, 0.5)},
            mins AS (SELECT band, sig, MIN(doc_id) AS m FROM bands GROUP BY 1, 2),
            adm AS (
                SELECT b.doc_id, BOOL_AND(b.doc_id = m.m) AS admitted
                FROM bands b JOIN mins m ON m.band = b.band AND m.sig = b.sig
                GROUP BY b.doc_id
            )
            SELECT c.doc_id, COALESCE(a.admitted, TRUE) AS admitted
            FROM corpus c LEFT JOIN adm a USING (doc_id)
        """,
        "s12_stream_ewma": """
            WITH RECURSIVE s AS (
                SELECT user_id, event_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS rn
                FROM events
            ),
            r AS (
                SELECT user_id, rn, value AS e FROM s WHERE rn = 1
                UNION ALL
                SELECT n.user_id, n.rn, 0.25 * n.value + 0.75 * r.e
                FROM r JOIN s n ON n.user_id = r.user_id AND n.rn = r.rn + 1
            ),
            last AS (SELECT user_id, max(rn) AS mrn FROM r GROUP BY user_id)
            SELECT r.user_id, r.e AS ewma_final, l.mrn AS n_events
            FROM r JOIN last l ON r.user_id = l.user_id AND r.rn = l.mrn
        """,
        "s11_pyds_kafka_source": """
            SELECT event_type,
                   count(*) AS n,
                   count(DISTINCT user_id) AS n_users,
                   min(epoch_us(ts) // 1000) AS min_ts_ms,
                   max(epoch_us(ts) // 1000) AS max_ts_ms
            FROM events
            GROUP BY event_type
        """,
        "s10_cdc_merge_upsert": """
            WITH r AS (
                SELECT user_id, value, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            )
            SELECT user_id, value AS last_value
            FROM r WHERE rn = 1 AND event_type <> 'error'
        """,
        "s01_tumbling_window": f"""
            SELECT (epoch_us(ts) // {_US_5MIN}) * {_US_5MIN} AS ws_us,
                   event_type, COUNT(*) AS n
            FROM events GROUP BY 1, 2
        """,
        "s02_sliding_window": f"""
            WITH w AS (
                SELECT ((epoch_us(ts) // {_US_5MIN}) - k.k) * {_US_5MIN} AS ws_us, value
                FROM events CROSS JOIN (VALUES (0), (1)) k(k)
            )
            SELECT ws_us,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_val
            FROM w GROUP BY 1
        """,
        "s03_session_window": """
            WITH o AS (
                SELECT user_id, ts, value,
                       CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                                 OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                                        PARTITION BY user_id ORDER BY ts)) > 1800000000
                            THEN 1 ELSE 0 END AS new_s
                FROM events
            ),
            s AS (
                SELECT *, SUM(new_s) OVER (
                    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
                FROM o
            )
            SELECT user_id,
                   epoch_us(MIN(ts)) AS session_start_us,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
            FROM s GROUP BY user_id, sid
        """,
        "s04_stateful_dedup": """
            SELECT event_type, COUNT(*) AS n
            FROM (SELECT DISTINCT event_id, event_type FROM events)
            GROUP BY event_type
        """,
        "s05_stream_static_join": """
            SELECT c_mktsegment, COUNT(*) AS n
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment
        """,
        "s06_stream_stream_join": """
            SELECT c.user_id,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(CAST(p.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val
            FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
            JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
              ON c.user_id = p.user_id
             AND p.ts >= c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
            GROUP BY c.user_id
        """,
        "s07_dedup_within_watermark": """
            SELECT event_type, COUNT(*) AS n
            FROM (SELECT DISTINCT event_id, event_type FROM events)
            GROUP BY event_type
        """,
        "s08_stateful_running_max": """
            SELECT user_id,
                   MAX(value) AS max_val,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "s09_transform_with_state": """
            SELECT user_id,
                   COUNT(*) AS n_events,
                   MIN(value) AS min_val,
                   MAX(value) AS max_val
            FROM events GROUP BY user_id
        """,
    }
    if not tws_available():
        oracles.pop("s09_transform_with_state")
    return oracles
