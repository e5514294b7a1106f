"""End-to-end tests for the config-driven pipeline facade.

The golden case is the reference's own documented example: csv purchase
events parsed into a typed record and written as keyed JSON documents
(docs/MapRStream-streamingsource.md:31-69 → docs/MapRDBJSON-batchsink.md).
"""

from __future__ import annotations

import json
import random
import uuid

import pytest

from mapr_plugins_spark.pipeline import (
    PipelineSpec,
    resolve_macros,
    run_batch,
    run_stream,
)

PURCHASE_SCHEMA = "user STRING, item STRING, count INT, price DOUBLE"
PAYLOADS = "alice,coffee,2,5.50\nbob,donut,3,1.25\ncarol,tea,1,2.00\n"


def _spec(tmp_path, **kw):
    return PipelineSpec.from_properties(
        {
            "referenceName": "purchases",
            "topics": "purchases",
            "defaultInitialOffset": "earliest",
            "format": "csv",
            "schema": PURCHASE_SCHEMA,
        },
        {"tableName": str(tmp_path / "purchase_docs"), "key": "user"},
        **kw,
    )


def test_macro_resolution():
    props = {"topics": "${topic}", "schema": PURCHASE_SCHEMA}
    out = resolve_macros(props, {"topic": "purchases"})
    assert out["topics"] == "purchases"
    with pytest.raises(ValueError, match="unresolved macro"):
        resolve_macros({"topics": "${nope}"}, {})


def test_from_properties_validation(tmp_path):
    with pytest.raises(ValueError, match="unknown format"):
        PipelineSpec.from_properties(
            {"topics": "t", "format": "yaml"}, {"tableName": "x", "key": "k"}
        )
    with pytest.raises(ValueError, match="tableName"):
        PipelineSpec.from_properties({"topics": "t"}, {"key": "k"})
    with pytest.raises(ValueError, match="key"):
        PipelineSpec.from_properties({"topics": "t"}, {"tableName": "x"})
    with pytest.raises(ValueError, match="offset policy"):
        PipelineSpec.from_properties(
            {"topics": "t", "defaultInitialOffset": "middle"},
            {"tableName": "x", "key": "k"},
        )


def test_reference_offset_property_surface(tmp_path):
    """The reference's REAL config surface, verbatim: property name
    ``offsetField`` (MapRStreamConfig.java:41-44), value vocabulary
    ``beginning``/``latest`` case-insensitive
    (MapRStreamingSource.java:80-84 equalsIgnoreCase("beginning") →
    auto.offset.reset=earliest; widget values
    widgets/MapRStream-streamingsource.json:32-35)."""
    from mapr_plugins_spark.sources.stream import reader_options

    base_sink = {"tableName": str(tmp_path / "t"), "key": "k"}

    # The Description string spells it "Beginning/Latest" — mixed case
    # must map to earliest exactly as equalsIgnoreCase does.
    for val in ("beginning", "Beginning", "BEGINNING"):
        spec = PipelineSpec.from_properties(
            {"referenceName": "ref", "topics": "t", "offsetField": val}, base_sink
        )
        assert spec.source.offset_policy == "earliest"
        assert reader_options(spec.source)["startingOffsets"] == "earliest"

    for val in ("latest", "Latest"):
        spec = PipelineSpec.from_properties(
            {"referenceName": "ref", "topics": "t", "offsetField": val}, base_sink
        )
        assert spec.source.offset_policy == "latest"

    # widget default: property absent → latest (MapRStream widget default)
    spec = PipelineSpec.from_properties({"topics": "t"}, base_sink)
    assert spec.source.offset_policy == "latest"

    # the engine's own alias keeps working, and offsetField wins over it
    spec = PipelineSpec.from_properties(
        {"topics": "t", "defaultInitialOffset": "earliest"}, base_sink
    )
    assert spec.source.offset_policy == "earliest"
    spec = PipelineSpec.from_properties(
        {"topics": "t", "offsetField": "beginning", "defaultInitialOffset": "latest"},
        base_sink,
    )
    assert spec.source.offset_policy == "earliest"

    # unknown values fail LOUDLY instead of silently defaulting
    with pytest.raises(ValueError, match="offset policy"):
        PipelineSpec.from_properties({"topics": "t", "offsetField": "middle"}, base_sink)


def test_batch_pipeline_end_to_end(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "events.txt").write_text(PAYLOADS)
    spec = _spec(tmp_path, filters=["count >= 2"])
    metrics = run_batch(spark, spec, str(d))
    assert metrics == {"rows_in": 3, "rows_out": 2}  # executor-side observe

    rows = spark.read.parquet(str(tmp_path / "purchase_docs")).orderBy("_id").collect()
    assert [r["_id"] for r in rows] == ["alice", "bob"]  # carol filtered out
    doc = json.loads(rows[0]["doc"])
    assert doc == {"user": "alice", "item": "coffee", "count": 2, "price": 5.5}


def test_stream_pipeline_end_to_end(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "events.txt").write_text(PAYLOADS)
    spec = _spec(
        tmp_path,
        filters=["price > 1.0"],
        select=["user", "item", "count * price AS total"],
    )
    q = run_stream(
        spark,
        spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
        replay_dir=str(d),
        query_name="pipeline_test",
    )
    q.awaitTermination()

    rows = spark.read.parquet(str(tmp_path / "purchase_docs")).orderBy("_id").collect()
    got = {r["_id"]: json.loads(r["doc"]) for r in rows}
    assert got == {
        "alice": {"user": "alice", "item": "coffee", "total": 11.0},
        "bob": {"user": "bob", "item": "donut", "total": 3.75},
        "carol": {"user": "carol", "item": "tea", "total": 2.0},
    }

    # restart with the same checkpoint: no new input ⇒ no duplicate docs
    q2 = run_stream(
        spark,
        spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
        replay_dir=str(d),
        query_name="pipeline_test",
    )
    q2.awaitTermination()
    assert spark.read.parquet(str(tmp_path / "purchase_docs")).count() == 3


def test_pipeline_streams_from_registered_connector(spark, tmp_path):
    """The reference's whole deployment shape on the real extension
    point: config-driven pipeline (A1 properties) fed by the REGISTERED
    maprstream DataSource — JSON parse (A4), filter stage, keyed
    document sink (A5/A6), checkpointed run."""
    from mapr_plugins_spark.pipeline import PipelineSpec, run_stream

    spec = PipelineSpec.from_properties(
        {
            "referenceName": "events_in",
            "topics": "events",
            "defaultInitialOffset": "earliest",
            "format": "json",
            "schema": (
                "event_id BIGINT, user_id BIGINT, event_type STRING, "
                "value DOUBLE, props STRING, ts_ms BIGINT"
            ),
        },
        {"tableName": str(tmp_path / "doc_table"), "key": "event_id"},
        filters=["event_type <> 'error'"],
    )
    q = run_stream(
        spark,
        spec,
        checkpoint_dir=str(tmp_path / "ckpt"),
        maprstream_path="/root/testdata/sf0.001/events.parquet",
    )
    q.awaitTermination()

    from mapr_plugins_spark.catalog import table

    out = spark.read.parquet(str(tmp_path / "doc_table"))
    batch = table(spark, "/root/testdata/sf0.001", "events")
    want = batch.filter("event_type <> 'error'").count()
    assert out.count() == want
    r = out.limit(1).collect()[0]
    assert set(out.columns) == {"_id", "doc"}
    import json as _json

    doc = _json.loads(r["doc"])
    assert {"event_id", "user_id", "event_type"} <= set(doc)


def test_stream_into_registered_doc_sink(spark, tmp_path):
    """Streaming pipeline terminating in the REGISTERED maprdoc writer
    (foreachBatch → format("maprdoc")): connector-to-connector, the
    reference's full deployment shape on both custom extension points."""
    from pyspark.sql import functions as F

    from mapr_plugins_spark.sinks.document import encode_documents
    from mapr_plugins_spark.sources.pyds import register, register_sink
    from mapr_plugins_spark.streaming.replay import run_available_now  # noqa: F401

    register(spark)
    register_sink(spark)
    out = str(tmp_path / "docs")

    raw = (
        spark.readStream.format("maprstream")
        .option("path", "/root/testdata/sf0.001/events.parquet")
        .load()
        .select(
            F.get_json_object(F.decode("value", "UTF-8"), "$.event_id")
            .cast("long")
            .alias("event_id"),
            F.get_json_object(F.decode("value", "UTF-8"), "$.event_type").alias("etype"),
        )
    )

    def sink(batch_df, batch_id):
        docs = encode_documents(batch_df, key_field="event_id")
        docs.write.format("maprdoc").mode("append").option("path", out).save()

    q = (
        raw.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    assert back.count() == 1000
    assert set(back.columns) == {"_id", "doc"}


def test_sink_declared_schema_surface(spark, tmp_path):
    """The reference's THIRD sink property — the declared output
    schema (MapRDBJSONSink.java:313-315) — must be honored: parsed at
    configure time (loud failure channel, 'Unable to parse output
    schema', :321-327), lattice-validated, and enforced as the
    document projection at write time."""
    import json as _json

    import pytest as _pytest

    base_src = {
        "topics": "purchases",
        "offsetField": "beginning",
        "format": "csv",
        "schema": PURCHASE_SCHEMA,
    }

    # configure-time failures: unparseable DDL / unsupported type / bad key
    with _pytest.raises(ValueError, match="unable to parse output schema"):
        PipelineSpec.from_properties(
            base_src,
            {"tableName": str(tmp_path / "t"), "key": "user", "schema": "user STRING,"},
        )
    with _pytest.raises(ValueError, match="unsupported type"):
        PipelineSpec.from_properties(
            base_src,
            {
                "tableName": str(tmp_path / "t"),
                "key": "user",
                "schema": "user STRING, m MAP<STRING, STRING>",
            },
        )
    with _pytest.raises(ValueError, match="key field"):
        PipelineSpec.from_properties(
            base_src,
            {"tableName": str(tmp_path / "t"), "key": "nope", "schema": "user STRING"},
        )

    # write-time: the declared schema PROJECTS the output (drops count,
    # casts price to float) exactly like the reference's output-schema
    # field loop
    d = tmp_path / "in"
    d.mkdir()
    (d / "events.txt").write_text(PAYLOADS)
    spec = PipelineSpec.from_properties(
        base_src,
        {
            "tableName": str(tmp_path / "purchase_docs"),
            "key": "user",
            "schema": "user STRING, item STRING, price FLOAT",
        },
    )
    run_batch(spark, spec, str(d))
    rows = spark.read.parquet(str(tmp_path / "purchase_docs")).orderBy("_id").collect()
    doc = _json.loads(rows[0]["doc"])
    assert set(doc) == {"user", "item", "price"}, doc  # count projected away

    # a declared field the pipeline doesn't produce fails loudly
    spec_bad = PipelineSpec.from_properties(
        base_src,
        {
            "tableName": str(tmp_path / "t2"),
            "key": "user",
            "schema": "user STRING, nonexistent STRING",
        },
    )
    with _pytest.raises(ValueError, match="missing from pipeline output"):
        run_batch(spark, spec_bad, str(d))


OPEN_COST = "spark.sql.files.openCostInBytes"


def _scan_tasks(spark, run) -> int:
    """Tasks of the first stage ``run()`` launches — the payload scan
    stage of a ``run_batch`` call."""
    sc = spark.sparkContext
    group = f"scan-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "scan task count")
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = [s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds]
    return st.getStageInfo(min(stages)).numTasks


def _purchase_lines(min_bytes: int) -> list[str]:
    """csv purchase lines of at least ``min_bytes`` with their line
    breaks: unique users, and item names of 1 to 600 characters, so
    split boundaries land mid-line."""
    rng = random.Random(7)
    lines, size = [], 0
    while size < min_bytes:
        item = "i" * rng.randint(1, 600)
        lines.append(f"user{len(lines)},{item},{rng.randint(0, 9)},{rng.randint(0, 999) / 100}")
        size += len(lines[-1]) + 1
    return lines


def test_batch_scan_splits_across_cores(spark, tmp_path):
    """A payload with at least PAYLOAD_SPLIT_MIN_BYTES per core scans in
    one task per core, though it is far below Spark's 4 MiB open cost."""
    from mapr_plugins_spark import pipeline as P

    par = spark.sparkContext.defaultParallelism
    d = tmp_path / "in"
    d.mkdir()
    lines = _purchase_lines(max(4, par) * P.PAYLOAD_SPLIT_MIN_BYTES)
    (d / "events.txt").write_text("\n".join(lines) + "\n")
    metrics = {}
    tasks = _scan_tasks(spark, lambda: metrics.update(run_batch(spark, _spec(tmp_path), str(d))))
    assert tasks == par
    assert metrics == {"rows_in": len(lines), "rows_out": len(lines)}


def test_tiny_batch_keeps_one_scan_task(spark, tmp_path):
    d = tmp_path / "in"
    d.mkdir()
    (d / "events.txt").write_text(PAYLOADS)
    assert _scan_tasks(spark, lambda: run_batch(spark, _spec(tmp_path), str(d))) == 1


def test_large_payload_keeps_session_open_cost(spark, tmp_path):
    """At open cost × parallelism bytes or more the scan plans exactly
    as the session would; in between, the open cost is bytes per core."""
    from mapr_plugins_spark.pipeline import _payload_open_cost
    from mapr_plugins_spark.session import sql_conf

    par = spark.sparkContext.defaultParallelism
    session = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    path = tmp_path / "sparse.txt"
    with open(path, "wb") as fh:  # sparse: no blocks on disk
        fh.truncate(session * par)
    assert _payload_open_cost(spark.read.text(str(path))) == session
    with sql_conf(spark, {OPEN_COST: str(session // 4)}):
        assert _payload_open_cost(spark.read.text(str(path))) == session // 4
    with open(path, "wb") as fh:
        fh.truncate(session * par // 2)
    assert _payload_open_cost(spark.read.text(str(path))) == session // 2


def test_run_batch_restores_session_conf(spark, tmp_path):
    """The lowered open cost lives only for the write, error included."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "events.txt").write_text(PAYLOADS)
    before = dict(spark.conf.getAll)
    run_batch(spark, _spec(tmp_path), str(d))
    assert dict(spark.conf.getAll) == before
    bad = PipelineSpec.from_properties(
        {"topics": "purchases", "format": "csv", "schema": PURCHASE_SCHEMA},
        {"tableName": str(tmp_path / "bad"), "key": "user", "schema": "user STRING, item INT"},
    )
    with pytest.raises(Exception, match="cannot convert value of field 'item'"):
        run_batch(spark, bad, str(d))
    assert dict(spark.conf.getAll) == before


def test_split_payload_writes_the_unsplit_documents(spark, tmp_path, monkeypatch):
    """Line records survive split boundaries: two files of
    variable-length CRLF lines without a final newline, scanned at least
    4 ways, write the same ``(_id, doc)`` multiset as one split per file."""
    from collections import Counter

    from mapr_plugins_spark import pipeline as P

    d = tmp_path / "in"
    d.mkdir()
    lines = _purchase_lines(6 * P.PAYLOAD_SPLIT_MIN_BYTES)
    half = len(lines) // 2
    (d / "a.txt").write_bytes("\r\n".join(lines[:half]).encode())
    (d / "b.txt").write_bytes("\r\n".join(lines[half:]).encode())

    def docs(name):
        spec = PipelineSpec.from_properties(
            {"topics": "purchases", "format": "csv", "schema": PURCHASE_SCHEMA},
            {"tableName": str(tmp_path / name), "key": "user"},
        )
        metrics = {}
        tasks = _scan_tasks(spark, lambda: metrics.update(run_batch(spark, spec, str(d))))
        assert metrics == {"rows_in": len(lines), "rows_out": len(lines)}
        rows = spark.read.parquet(str(tmp_path / name)).collect()
        return tasks, Counter((r["_id"], r["doc"]) for r in rows)

    split_tasks, split = docs("split")
    monkeypatch.setattr(P, "PAYLOAD_SPLIT_MIN_BYTES", 2**62)  # the session's own open cost
    whole_tasks, whole = docs("whole")
    assert split_tasks >= 4
    assert whole_tasks == 2  # one split per file
    assert split == whole
    assert len(whole) == len(lines)
