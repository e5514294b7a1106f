"""Streaming semantics vs batch oracles (FIXTURES S01-S05).

The queries execute through real Structured Streaming micro-batches
(Trigger.AvailableNow + state store); results are compared to
batch-computed DuckDB equivalents.
"""

from __future__ import annotations

import pytest

from mapr_plugins_spark.streaming import registry as SR


@pytest.mark.parametrize("key", sorted(SR.streaming_oracles()))
def test_streaming_matches_batch_oracle(spark, sf_dir, key):
    from tests.oracle_harness import assert_matches_oracle

    df = SR.streaming_queries()[key](spark, sf_dir)
    assert_matches_oracle(df, SR.streaming_oracles()[key], sf_dir, key=key)


def test_stream_admission_rejects_duplicate_wave(spark, sf_dir):
    """The originals arrive first and are overwhelmingly admitted; the
    injected near-dup wave collides with the signature store and is
    overwhelmingly rejected — the acting purpose of ingest-time
    admission control."""
    out = {r.doc_id: r.admitted for r in SR.s13_stream_dedup_admission(spark, sf_dir).collect()}
    originals = [k for k in out if k < 1000000]
    variants = [k for k in out if k >= 1000000]
    assert sum(out[k] for k in originals) >= 0.85 * len(originals)
    assert sum(not out[k] for k in variants) >= 0.9 * len(variants)


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """Adversarial event-time ordering: with an append-mode watermarked
    aggregation, a record arriving (in a later run, behind the persisted
    watermark) must not resurrect a finalized window. The checkpoint is
    shared across the two runs so the watermark state carries over —
    exactly how a production restart behaves."""
    import pandas as pd

    d = tmp_path / "stream_in"
    d.mkdir()
    out = str(tmp_path / "stream_out")
    cp = str(tmp_path / "stream_cp")
    # run 1: events at t0 and t0+60min → watermark persisted at t0+50min
    pd.DataFrame({"ts_us": [0, 3_600_000_000], "v": [1.0, 1.0]}).to_parquet(d / "b0.parquet")

    from pyspark.sql import functions as F

    schema = "ts_us BIGINT, v DOUBLE"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .parquet(str(d))
            .withColumn("ts", F.timestamp_micros("ts_us"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", cp)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            r["window"].start.isoformat(): r["n"]
            for r in spark.read.parquet(out).collect()
        }

    first = run_once()
    t0_key = "1970-01-01T00:00:00"
    assert first.get(t0_key) == 1

    # run 2: a late event at t0+1min — behind the persisted watermark
    pd.DataFrame({"ts_us": [60_000_000], "v": [9.0]}).to_parquet(d / "b1.parquet")
    second = run_once()
    # the t0 window was finalized with n=1; the late event must be dropped
    assert second.get(t0_key) == 1


def test_s09_gated_without_protobuf(spark, sf_dir):
    """transformWithStateInPandas is capability-gated: with protobuf it
    joins the oracle-checked registry; without it, it raises a clear
    NotImplementedError pointing at the s08 fallback."""
    import pytest

    from mapr_plugins_spark.streaming.registry import (
        s09_transform_with_state,
        tws_available,
    )

    if tws_available():
        pytest.skip("protobuf present; s09 exercised via its oracle test")
    with pytest.raises(NotImplementedError, match="protobuf"):
        s09_transform_with_state(spark, sf_dir)


def test_pyds_chunked_replay_and_latest_offsets(spark):
    """maprstream connector: rowsPerBatch admission control yields
    multiple micro-batches totalling the full table; startingOffsets=
    latest begins at end-of-stream (empty replay) — A1's offset policy
    (MapRStreamingSource.java:80-86)."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from mapr_plugins_spark.sources.pyds import register

    register(spark)
    path = "/root/testdata/sf0.001/events.parquet"

    def reader(extra):
        r = (
            spark.readStream.format("maprstream")
            .option("path", path)
            .option("numPartitions", "4")
        )
        for k, v in extra.items():
            r = r.option(k, v)
        return r.load()

    name = f"pyds_{uuid.uuid4().hex[:8]}"
    agg = reader({"rowsPerBatch": "100"}).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.max("offset").alias("mx")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = time.time() + 120
    total = 0
    while time.time() < deadline:
        rows = spark.table(name).collect()
        total = rows[0]["n"] if rows else 0
        if total == 1000:
            break
        time.sleep(0.5)
    # progress events publish asynchronously — poll briefly so the last
    # batch's event lands before counting (a fixed read races under load)
    n_batches = 0
    prog_deadline = time.time() + 15
    while time.time() < prog_deadline:
        n_batches = max((p["batchId"] for p in q.recentProgress), default=-1) + 1
        if n_batches >= 3:
            break
        time.sleep(0.2)
    q.stop()
    assert total == 1000
    assert n_batches >= 3  # 250 rows/partition at 100/batch → ≥3 batches

    # latest: no historical rows are replayed
    name2 = f"pyds_{uuid.uuid4().hex[:8]}"
    q2 = (
        reader({"startingOffsets": "latest"})
        .writeStream.format("memory")
        .queryName(name2)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert spark.table(name2).count() == 0


def test_pyds_read_survives_topic_replaced_by_rename(tmp_path):
    """A topic file replaced by rename after ``partitions()`` is read as
    whole rows of one version, never torn (reading by path stats the file
    and opens it again; pyarrow then fails with a corrupt-page OSError)."""
    import json
    import os
    import shutil
    import threading

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapr_plugins_spark.sources.pyds import MapRStreamReader

    def version(ver, n):
        path = str(tmp_path / f"v{ver}.parquet")
        ts = pa.array([i * 1000 for i in range(n)], pa.timestamp("us"))
        table = pa.table({"event_id": list(range(n)), "ver": [ver] * n, "ts": ts})
        pq.write_table(table, path, row_group_size=500)
        return path

    v0, v1 = version(0, 1000), version(1, 4000)
    topic = str(tmp_path / "topic.parquet")

    def publish(src, tag):
        shutil.copy(src, f"{topic}.{tag}")
        os.replace(f"{topic}.{tag}", topic)

    publish(v0, "first")
    reader = MapRStreamReader({"path": topic, "numPartitions": "2"})
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    publish(v1, "second")
    rows = [json.loads(r[1]) for p in parts for r in reader.read(p)]
    assert {r["ver"] for r in rows} == {1}
    assert sorted(r["event_id"] for r in rows) == list(range(1000))

    # replaced over and over while reads run: each read is one version
    stop = threading.Event()

    def flip():
        i = 0
        while not stop.is_set():
            publish((v0, v1)[i % 2], str(i % 2))
            i += 1

    flipper = threading.Thread(target=flip)
    flipper.start()
    try:
        for _ in range(100):
            for p in parts:
                rows = [json.loads(r[1]) for r in reader.read(p)]
                assert len(rows) == 500 and len({r["ver"] for r in rows}) == 1
    finally:
        stop.set()
        flipper.join(timeout=30)
    assert not flipper.is_alive()


def test_pyds_checkpoint_restart_exactly_once(spark, tmp_path):
    """Offsets live in the checkpoint WAL: a query stopped mid-stream
    and restarted from the same checkpoint delivers every record
    exactly once through the file sink (vs the reference's 1 s
    auto-commit, which replays or drops at the same boundary)."""
    import time

    from mapr_plugins_spark.sources.pyds import register

    register(spark)
    path = "/root/testdata/sf0.001/events.parquet"
    ckpt, sink = str(tmp_path / "ckpt"), str(tmp_path / "sink")

    def start(rows_per_batch, trigger_kwargs):
        df = (
            spark.readStream.format("maprstream")
            .option("path", path)
            .option("numPartitions", "4")
            .option("rowsPerBatch", rows_per_batch)
            .load()
            .selectExpr("partition", "offset")
        )
        return (
            df.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: chunked (20 batches worth); stop after the first couple
    # of commits. Under suite contention the stop can land anywhere, so
    # assert only that SOME prefix committed — the exactly-once claim is
    # the phase-2 total either way.
    q = start("50", {"processingTime": "50 milliseconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 1:
            break
        time.sleep(0.2)
    q.stop()
    part1 = spark.read.load(sink).count() if q.lastProgress else 0
    assert part1 > 0
    mid_stream = part1 < 1000  # the interesting case, taken on every
    # uncontended run (20 batches can't all commit in two trigger ticks)

    # phase 2: restart from the WAL. The engine first REPLAYS the
    # planned-but-uncommitted batch at its original offsets (that's the
    # exactly-once contract), then the unlimited latestOffset drains the
    # rest — so run on a ticking trigger until the sink is complete.
    q2 = start("0", {"processingTime": "50 milliseconds"})
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.read.load(sink).count() >= 1000:
            break
        time.sleep(0.5)
    q2.stop()

    out = spark.read.load(sink)
    assert out.count() == 1000, f"mid_stream={mid_stream}"
    assert out.distinct().count() == 1000  # no dupes, no gaps


def test_pyds_multi_topic_subscribe(spark):
    """A1's comma-separated `topics` config: every topic appears, each
    record carried exactly once across the union of topic partitions."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.sources.pyds import register
    from mapr_plugins_spark.streaming.replay import run_available_now

    register(spark)
    df = (
        spark.readStream.format("maprstream")
        .option("path", "/root/testdata/sf0.001/events.parquet")
        .option("topics", "alpha, beta")
        .option("numPartitions", "2")
        .load()
    )
    out = run_available_now(
        df.groupBy("topic").agg(
            F.count(F.lit(1)).alias("n"),
            F.size(F.collect_set("partition")).alias("n_parts"),
        )
    )
    rows = {r["topic"]: (r["n"], r["n_parts"]) for r in out.collect()}
    assert set(rows) == {"alpha", "beta"}
    assert sum(n for n, _ in rows.values()) == 1000
    assert all(p == 2 for _, p in rows.values())


def test_as_event_time_is_timezone_independent(spark):
    """NTZ → instant anchoring must not depend on the session timezone:
    the epoch micros of the converted column equal the naive wall time
    read as UTC, under both UTC and a hostile zone."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.streaming.replay import as_event_time

    df = spark.sql(
        "SELECT TIMESTAMP_NTZ'2024-01-01 00:00:07.179575' AS ts"
    )
    want = 1_704_067_207_179_575
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            got = as_event_time(df, "ts").select(F.unix_micros("ts")).collect()[0][0]
            assert got == want, f"tz={tz}: {got} != {want}"
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_stream_heavy_hitters_equals_batch(spark, sf_dir):
    """The streaming GroupState count fold must land on exactly the
    batch heavy-hitter set and counts (additive state ⇒ replay- and
    chunking-independent)."""
    from mapr_plugins_spark.operators.registry import x_heavy_hitters
    from mapr_plugins_spark.streaming.registry import s14_stream_heavy_hitters

    stream = {
        (r.item, r.cnt) for r in s14_stream_heavy_hitters(spark, sf_dir).collect()
    }
    batch = {(r.item, r.cnt) for r in x_heavy_hitters(spark, sf_dir).collect()}
    assert stream == batch


def test_stream_drift_equals_batch(spark, sf_dir):
    """The streaming histogram fold must finish at exactly the batch
    drift report (commutative addition ⇒ chunking-independent)."""
    from mapr_plugins_spark.operators.registry import x_drift_chi2
    from mapr_plugins_spark.streaming.registry import s15_stream_drift

    stream = {tuple(r) for r in s15_stream_drift(spark, sf_dir).collect()}
    batch = {tuple(r) for r in x_drift_chi2(spark, sf_dir).collect()}
    assert stream == batch


def test_stream_heavy_hitters_bounded_state_and_exact(spark, sf_dir):
    """The bounded-state variant must (a) never hold more than k
    counters in any bucket's GroupState at any batch — the designed
    contrast to s14's vocabulary-sized state — and (b) still produce
    the EXACT heavy-hitter answer (superset candidates + exact
    recount), bit-identical to the batch op."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.operators.registry import x_heavy_hitters
    from mapr_plugins_spark.streaming.registry import (
        _stream_mg_candidates,
        s17_stream_heavy_hitters_bounded,
    )

    k = 64  # tight cap to force real MG decrements at test scale
    emitted = _stream_mg_candidates(spark, sf_dir, k=k, n_buckets=4)
    mx = emitted.agg(F.max("state_size").alias("m")).collect()[0]["m"]
    assert mx is not None and mx <= k, mx

    stream = {
        (r.item, r.cnt)
        for r in s17_stream_heavy_hitters_bounded(spark, sf_dir).collect()
    }
    batch = {(r.item, r.cnt) for r in x_heavy_hitters(spark, sf_dir).collect()}
    assert stream == batch


def test_stream_semantic_admission_invariants(spark, sf_dir):
    """Per semantic bucket (codebook cell × sign signature) EXACTLY one
    vector is admitted and it is the bucket's minimum vec_id — the
    min-claim law, asserted against an independently recomputed batch
    bucket map. Admission must BITE (some vectors rejected) and vec_id
    0 (the global minimum) is always its bucket's first claimant."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from mapr_plugins_spark.catalog import table
    from mapr_plugins_spark.operators.similarity import (
        codebook_cells,
        codebook_ranked_cells,
        quantize_micro,
    )
    from mapr_plugins_spark.streaming.registry import s25_stream_semantic_admission

    out = {r.vec_id: r.admitted for r in s25_stream_semantic_admission(spark, sf_dir).collect()}
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    assert len(out) == n
    assert out[0] is True
    assert 0 < sum(out.values()) < n, "admission must bite but not reject everything"

    stride = (n + 15) // 16
    cells = codebook_cells(
        emb.filter(F.col("vec_id") % stride == 0).select(
            F.col("vec_id").alias("cell_id"), F.col("embedding").alias("centroid")
        )
    )
    sig = sum(
        (F.element_at("embedding", j + 1) >= 0).cast("long") * (1 << j)
        for j in range(4)
    )
    roster = (
        emb.withColumn("__q", quantize_micro("embedding"))
        .select(
            "vec_id",
            F.element_at(codebook_ranked_cells(cells, "__q"), 1)["list_id"].alias("cell"),
            sig.alias("sig"),
        )
        .collect()
    )
    buckets = defaultdict(list)
    for r in roster:
        buckets[(r.cell, r.sig)].append(r.vec_id)
    for ids in buckets.values():
        admitted_here = [v for v in ids if out[v]]
        assert admitted_here == [min(ids)]


def test_stream_bigram_drift_detects_injection_exactly(spark, sf_dir):
    """The drift monitor's answer must be bit-identical to the batch
    per-side GROUP BY with the integer cross-product cut (the MG stage
    is a candidate superset; pass 2 recounts exactly), and the injected
    marker bigrams — the only true drift in the corpus — must be what
    it reports."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.streaming.registry import (
        _bigram_drift_corpus,
        s26_stream_bigram_drift,
    )

    stream = {
        (r.bigram, r.early_cnt, r.late_cnt)
        for r in s26_stream_bigram_drift(spark, sf_dir).collect()
    }
    assert {b for b, *_ in stream} == {"qq drift", "drift marker"}

    # independent batch replay of the cut (no sketch, no candidates)
    from mapr_plugins_spark.operators.text import tokens_col

    corpus = _bigram_drift_corpus(spark, sf_dir)
    toks = corpus.withColumn("__t", tokens_col("text")).filter(F.size("__t") >= 2)
    pairs = F.expr(
        "transform(sequence(1, size(__t) - 1),"
        " i -> concat(element_at(__t, i), ' ', element_at(__t, i + 1)))"
    )
    bgs = toks.select(
        (F.col("doc_id") >= 1000000).cast("int").alias("late"),
        F.explode(pairs).alias("bigram"),
    ).collect()
    n_e = sum(1 - r.late for r in bgs)
    n_l = sum(r.late for r in bgs)
    cnt: dict = {}
    for r in bgs:
        e, l = cnt.get(r.bigram, (0, 0))
        cnt[r.bigram] = (e + 1 - r.late, l + r.late)
    batch = {
        (b, e, l)
        for b, (e, l) in cnt.items()
        if abs(l * n_e - e * n_l) * 50 > n_e * n_l
    }
    assert stream == batch


def test_stream_markov_crosses_batch_boundaries(spark, sf_dir):
    """The GroupState twin must count transitions that SPAN micro-batch
    boundaries — equality with the batch lead() matrix proves the
    carried last-state works (a stateless per-batch lead would lose
    one pair per key per boundary)."""
    from mapr_plugins_spark.operators.registry import x_markov_transitions
    from mapr_plugins_spark.streaming.registry import s23_stream_markov

    batch = {(r.from_state, r.to_state): (r.n_pair, r.n_from, r.p_micro)
             for r in x_markov_transitions(spark, sf_dir).collect()}
    stream = {(r.from_state, r.to_state): (r.n_pair, r.n_from, r.p_micro)
              for r in s23_stream_markov(spark, sf_dir).collect()}
    assert batch == stream


def test_stream_psi_equals_batch(spark, sf_dir):
    """The streaming PSI report equals the batch operator row for row
    — commutative histogram fold + the shared psi_from_cells finish."""
    from mapr_plugins_spark.operators.registry import x_psi_drift
    from mapr_plugins_spark.streaming.registry import s24_stream_psi

    batch = {r.bin: (r.rb, r.cb, r.term_micro, r.psi_micro)
             for r in x_psi_drift(spark, sf_dir).collect()}
    stream = {r.bin: (r.rb, r.cb, r.term_micro, r.psi_micro)
              for r in s24_stream_psi(spark, sf_dir).collect()}
    assert batch == stream


def test_state_partitions_derive_from_source_bytes(spark):
    """The replay harness sizes streaming state partitions from the
    staged source bytes (guide §2.2: partitions sized to data, not to
    the core count): ceil(bytes/advisory) clamped to [1, parallelism],
    conf-overridable, queue drained per run, parallelism fallback when
    no source was recorded."""
    from mapr_plugins_spark.streaming import replay as R

    par = spark.sparkContext.defaultParallelism
    # no recorded source → fall back to session parallelism
    R._PENDING_SOURCE_BYTES.clear()
    assert R._state_partitions(spark) == par

    # 2 MB at the 512 KiB default advisory → 4 partitions, queue drained
    R._PENDING_SOURCE_BYTES.append(2 * 1024 * 1024)
    assert R._state_partitions(spark) == min(4, par)
    assert R._PENDING_SOURCE_BYTES == []

    # several sources recorded → sized by the largest
    R._PENDING_SOURCE_BYTES.extend([1, 512 * 1024 + 1])
    assert R._state_partitions(spark) == min(2, par)

    # clamped above by parallelism
    R._PENDING_SOURCE_BYTES.append(10**12)
    assert R._state_partitions(spark) == par

    # conf override wins (and is restored)
    old = spark.conf.get(R._STATE_PARTITION_BYTES_CONF, None)
    try:
        spark.conf.set(R._STATE_PARTITION_BYTES_CONF, str(1024 * 1024))
        R._PENDING_SOURCE_BYTES.append(2 * 1024 * 1024)
        assert R._state_partitions(spark) == min(2, par)
    finally:
        if old is None:
            spark.conf.unset(R._STATE_PARTITION_BYTES_CONF)
        else:
            spark.conf.set(R._STATE_PARTITION_BYTES_CONF, old)


def test_row_paced_fold_partition_advisory(spark):
    """Entity-keyed row-paced GroupState folds (s22/s23) declare
    ``row_paced_fold=True`` and get the denser 64 KiB advisory — their
    binding resource is Python fold CPU across partitions, not
    state-store instances (round-14 interleaved A/B: s22 12.0→8.0 s,
    s23 11.3→7.1 s at sf0.1, while bounded-key sketch folds regress at
    that density). Same clamp and conf-override contract as the
    default advisory."""
    from mapr_plugins_spark.streaming import replay as R

    par = spark.sparkContext.defaultParallelism
    # row-paced folds: 256 KiB at the 64 KiB advisory → 4 partitions
    R._PENDING_SOURCE_BYTES.clear()
    R._PENDING_SOURCE_BYTES.append(256 * 1024)
    assert R._state_partitions(spark, row_paced_fold=True) == min(4, par)
    assert R._PENDING_SOURCE_BYTES == []
    # bounded-key folds (the default) keep the 512 KiB density
    R._PENDING_SOURCE_BYTES.append(256 * 1024)
    assert R._state_partitions(spark) == 1
    # conf override wins for the row-paced advisory too
    old = spark.conf.get(R._ROW_FOLD_PARTITION_BYTES_CONF, None)
    try:
        spark.conf.set(R._ROW_FOLD_PARTITION_BYTES_CONF, str(128 * 1024))
        R._PENDING_SOURCE_BYTES.append(256 * 1024)
        assert R._state_partitions(spark, row_paced_fold=True) == min(2, par)
    finally:
        if old is None:
            spark.conf.unset(R._ROW_FOLD_PARTITION_BYTES_CONF)
        else:
            spark.conf.set(R._ROW_FOLD_PARTITION_BYTES_CONF, old)


def test_run_available_now_restores_shuffle_partitions(spark, sf_dir):
    """run_available_now pins shuffle partitions for the streaming run
    and restores the caller's value afterwards."""
    from mapr_plugins_spark.streaming import replay as R

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    # build first: stream constructors run pin_runtime_conf, which
    # re-pins shuffle partitions itself; the restore contract under test
    # is run_available_now's.
    ev = R.events_stream(spark, sf_dir).select("event_id")
    spark.conf.set(key, "123")
    try:
        R.run_available_now(ev.groupBy().count(), "complete").collect()
        assert spark.conf.get(key) == "123"
    finally:
        spark.conf.set(key, old)
