"""The benchmark workloads, and the query keys of traced runs.

Each workload drives the package only through its public functions:
``set_up`` makes the inputs and warms every path it will time,
``window`` runs the timed loop for the given number of seconds,
``check`` verifies the outputs, and ``layers`` (traced runs only) times
each layer's public function on an input cached at its boundary.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import traceback

from checks import (
    PIPELINES,
    STREAM_PIPELINE,
    canonical_rows,
    consumed_ids,
    diff_count,
    doc_multiset,
    expected_events,
    expected_records,
    oracle_rows,
    read_doc_table,
    rows_hash,
)
from inputs import (
    CSV_SCHEMA,
    EVENT_SCHEMA,
    JSON_SCHEMA,
    backlog_ts_us,
    batch_records,
    due_ts_us,
    event_rows,
    events_table,
    lookup_keys,
    write_backlog,
    write_payloads,
    write_tables,
    write_topic,
)
from probe import catalyst_phases

#: Input sizes and loop shapes. Changing any of them changes the
#: benchmark, so they are constants, not options.
BATCH_LINES = 80_000
#: A 20 s window runs 4 passes; 9 lookups each give 36 latency samples,
#: so the tail (ten samples beyond it, see probe.p50_and_tail) is about p72.
LOOKUPS_PER_PASS = 9
#: Nominal length of one ingest_batch pass: a window of S seconds runs
#: round(S / BATCH_PASS_S) passes, a count that does not depend on how
#: fast this run happens to be.
BATCH_PASS_S = 5.0
#: Passes run before timing starts, the first one cold (~15 s). run_batch
#: calls keep getting faster for about six passes while the JIT compiles;
#: with only two warm-up passes, 14 of 20 windows still sped up from their
#: first pass to their last, and how far they got varied from run to run.
#: A fourth pass would cost more set-up time than a full comparison allows.
WARM_PASSES = 3
#: Lookups in each warm-up pass: enough to compile the lookup path, and
#: no more, since set-up time counts against every run.
WARM_LOOKUPS = 2
DRAIN_EVENTS = 20_000
DRAIN_CALLS = 3  # each on a fresh checkpoint and table; the median is reported
#: Events/s offered by the generator, well below the drain capacity
#: (~7000/s). A call carries the events that fell due during the one
#: before it, so a higher rate feeds any slowdown of the host back into
#: longer calls and amplifies it in the latency.
STREAM_RATE = 500
#: Share of an ingest_stream window given to the live phase: 12 s of a
#: 20 s window, enough for six to seven calls. The drains before it, each
#: read back and checked, take another ~10 s.
LIVE_SHARE = 0.6
SETUP_REPEATS = 3
QUERY_SCALE = 0.01
#: Registry keys timed in traced ingest_batch runs. Keys that stage data
#: under hard-coded /tmp paths (every s* streaming key) are left out: a
#: run may write only inside its own checkout.
QUERY_KEYS = (
    "q03_revenue_by_nation",
    "x_semantic_dedup",
    "x_bootstrap_ci",
    "x_pagerank",
)
#: Tables each key scans, for the keys' rows/s.
QUERY_TABLES = {
    "q03_revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
    "x_semantic_dedup": ("embeddings",),
    "x_bootstrap_ci": ("orders",),
    "x_pagerank": ("lineitem", "orders"),
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Ops:
    """Operations attempted and failed. A failure is counted, logged and
    never dropped from the result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def ok(self, good: bool, what: str) -> None:
        self.attempted += 1
        if not good:
            self.failed += 1
            log(f"FAILED: {what}")

    def error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        log(f"FAILED: {what}\n{traceback.format_exc()}")


def _median_timed(fn, repeats: int = SETUP_REPEATS):
    """Run ``fn(i)`` ``repeats`` times; return (median seconds, last result)."""
    times, out = [], None
    for i in range(repeats):
        t0 = time.perf_counter()
        out = fn(i)
        times.append(time.perf_counter() - t0)
    return statistics.median(times), out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# ingest_batch


class IngestBatch:
    name = "ingest_batch"

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = Ops()

    def _spec(self, fmt: str, table: str):
        from mapr_plugins_spark.pipeline import PipelineSpec

        p = PIPELINES[fmt]
        src = {"topics": "payload", "format": fmt, "offsetField": "beginning"}
        if fmt == "csv":
            src["schema"] = CSV_SCHEMA
        elif fmt == "json":
            src["schema"] = JSON_SCHEMA
        return PipelineSpec.from_properties(
            src,
            {"tableName": table, "key": "id", "schema": p["sink_schema"]},
            filters=p["filters"],
            select=p["select"],
        )

    def set_up(self) -> float:
        ctx = self.ctx
        gen_s, self.paths = _median_timed(
            lambda i: write_payloads(ctx.seed, BATCH_LINES, f"{ctx.scratch}/inputs{i}")
        )
        self.recs = batch_records(ctx.seed, BATCH_LINES)
        self.expected = {f: expected_records(f, self.recs) for f in PIPELINES}
        csv_rows = {r["id"]: r for r in self.expected["csv"]}
        self.csv_rows = csv_rows
        self.keys = lookup_keys(ctx.seed, self.recs, 100, set(csv_rows))
        self.tables = {f: f"{ctx.scratch}/docs_{f}" for f in PIPELINES}
        self.specs = {f: self._spec(f, self.tables[f]) for f in PIPELINES}
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            self._pass(ctx.tracer_off, lookups=self.keys[:WARM_LOOKUPS], record=None)
        return gen_s + time.perf_counter() - t0

    def _lookup(self, key: int):
        from pyspark.sql import functions as F

        from mapr_plugins_spark.sinks.document import read_document_table

        df = read_document_table(
            self.ctx.spark, self.tables["csv"], PIPELINES["csv"]["sink_schema"], "id"
        ).filter(F.col("id") == key)
        return df, [r.asDict() for r in df.collect()]

    def _pass(self, tracer, lookups, record):
        from mapr_plugins_spark.pipeline import run_batch

        spark = self.ctx.spark
        for fmt in PIPELINES:
            with tracer.span(f"pipeline.run_batch.{fmt}"):
                t0 = time.perf_counter()
                try:
                    m = run_batch(spark, self.specs[fmt], self.paths[fmt])
                except Exception:
                    self.ops.error(f"run_batch {fmt}")
                    continue
                wall = time.perf_counter() - t0
            if record is not None:
                record["call_s"][fmt].append(wall)
            self.ops.ok(
                m == {"rows_in": BATCH_LINES, "rows_out": len(self.expected[fmt])},
                f"run_batch {fmt} counts {m}",
            )
        for key in lookups:
            with tracer.span("sinks.document.lookup"):
                t0 = time.perf_counter()
                try:
                    df, got = self._lookup(key)
                except Exception:
                    self.ops.error(f"lookup {key}")
                    continue
                ms = (time.perf_counter() - t0) * 1000
            want = [self.csv_rows[key]] if key in self.csv_rows else []
            self.ops.ok(got == want, f"lookup {key}: got {got}, want {want}")
            if record is not None:
                record["lat"].append(ms)
                record["dfs"].append(df)

    def window(self, seconds: float, tracer) -> dict:
        rec = {"call_s": {f: [] for f in PIPELINES}, "lat": [], "dfs": [], "pass_s": []}
        start = time.perf_counter()
        for k in range(max(1, round(seconds / BATCH_PASS_S))):
            keys = [self.keys[(k * LOOKUPS_PER_PASS + j) % len(self.keys)]
                    for j in range(LOOKUPS_PER_PASS)]
            t0 = time.perf_counter()
            with tracer.span("pass", op=tracer.new_op()):
                self._pass(tracer, keys, rec)
            rec["pass_s"].append(time.perf_counter() - t0)
        rec["wall_s"] = time.perf_counter() - start
        rec["rows_per_s"] = _pass_rows_per_s(rec["call_s"])
        rec["detail"] = {"call_s": rec["call_s"]}
        return rec

    def check(self) -> None:
        for fmt, want in self.expected.items():
            try:
                got = read_doc_table(self.tables[fmt])
            except Exception:
                self.ops.error(f"read back {fmt} table")
                continue
            d = diff_count(got, doc_multiset(want, "id"))
            self.ops.ok(d == 0, f"{fmt} document table differs in {d} documents")

    def layers(self, rec: dict) -> dict:
        """Each layer's public function on an input cached at its boundary."""
        from pyspark.sql import functions as F

        from mapr_plugins_spark.sinks.document import (
            conform_to_declared,
            encode_documents,
            parse_declared_schema,
            write_document_table,
        )
        from mapr_plugins_spark.sources.formats import parse_expr

        spark = self.ctx.spark
        out: dict[str, float] = {}
        phases = []
        scan_s = scan_tasks = bad = 0.0
        parse_s = {}
        transform_s = encode_s = write_s = 0.0
        files = bytes_ = docs = 0
        for fmt in PIPELINES:
            spec = self.specs[fmt]
            raw_df = spark.read.text(self.paths[fmt]).select(F.col("value").cast("binary").alias("value"))
            before = self.ctx.counters.snapshot()
            t0 = time.perf_counter()
            _noop(raw_df)
            scan_s += time.perf_counter() - t0
            scan_tasks += self.ctx.counters.delta(before, self.ctx.counters.snapshot())["tasks"]
            raw = raw_df.cache()
            raw.count()
            parsed_col = parse_expr(spec.source.fmt, F.col("value"), spec.source.schema)
            parsed_df = raw.select(parsed_col.alias("record")).select("record.*")
            t0 = time.perf_counter()
            _noop(parsed_df)
            parse_s[fmt] = time.perf_counter() - t0
            phases.append(catalyst_phases(parsed_df))
            first = parsed_df.columns[0]
            bad += parsed_df.filter(
                F.col(first).isNull() | (F.col(first).cast("string") == "")
            ).count()
            parsed = parsed_df.cache()
            parsed.count()
            transformed_df = parsed
            for pred in spec.filters:
                transformed_df = transformed_df.filter(F.expr(pred))
            transformed_df = conform_to_declared(
                transformed_df.selectExpr(*spec.select),
                parse_declared_schema(spec.sink.schema, "id"),
            )
            t0 = time.perf_counter()
            _noop(transformed_df)
            transform_s += time.perf_counter() - t0
            phases.append(catalyst_phases(transformed_df))
            transformed = transformed_df.cache()
            n = transformed.count()
            encoded = encode_documents(transformed, "id")
            t0 = time.perf_counter()
            _noop(encoded)
            encode_s += time.perf_counter() - t0
            path = f"{self.ctx.scratch}/layer_docs_{fmt}"
            t0 = time.perf_counter()
            write_document_table(transformed, path, "id")
            write_s += time.perf_counter() - t0
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            files += len(parts)
            bytes_ += sum(os.path.getsize(os.path.join(path, f)) for f in parts)
            docs += n
            for df in (transformed, parsed, raw):
                df.unpersist()
        out.update({
            "sources.formats.csv_s": parse_s["csv"],
            "sources.formats.json_s": parse_s["json"],
            "sources.formats.clf_s": parse_s["clf"],
            "sources.formats.bad_rows": bad,
            "sources.scan_s": scan_s,
            "sources.scan_tasks": scan_tasks,
            "pipeline.transform_s": transform_s,
            "sinks.document.encode_s": encode_s,
            "sinks.document.write_s": write_s,
            "sinks.document.files": files,
            "sinks.document.bytes_per_doc": bytes_ / docs if docs else 0.0,
        })
        # rows the lookup's scan hands to the filter (SQL metric of the
        # scan node): every document is decoded unless the _id order
        # lets the reader skip row groups
        df, _ = self._lookup(self.keys[0])
        out["sinks.document.lookup_rows_scanned"] = float(_scan_output_rows(df))
        out.update(_mean_phases(phases + [catalyst_phases(d) for d in rec["dfs"]]))
        return out

    def reference_pass(self, rows_per_s: float) -> dict:
        """One-core reference: the same run_batch calls on ``local[1]``."""
        from mapr_plugins_spark.session import get_session

        ctx = self.ctx
        ctx.spark.stop()
        ctx.spark = get_session(app_name="perfbench-local1", master="local[1]",
                                extra_conf=ctx.spark_conf)
        rec1 = {"call_s": {f: [] for f in PIPELINES}, "lat": [], "dfs": []}
        self._pass(ctx.tracer_off, [], None)  # warm-up
        self._pass(ctx.tracer_off, [], rec1)
        local1 = _pass_rows_per_s(rec1["call_s"])
        return {"ref.local1_rows_per_s": local1,
                "ref.local1_ratio": local1 / rows_per_s if rows_per_s else 0.0}


def _pass_rows_per_s(call_s: dict[str, list[float]]) -> float:
    """Payload lines of one pass over the wall time of a typical pass: the
    median call of each format. A median, not total rows over total time,
    so one call slowed by the host does not move it."""
    done = [statistics.median(walls) for walls in call_s.values() if walls]
    return BATCH_LINES * len(done) / sum(done) if done else 0.0


def _scan_output_rows(df) -> int:
    """numOutputRows of the file scan in the executed plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan()
    total = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if "Scan" in name:
            metrics = node.metrics()
            if metrics.contains("numOutputRows"):
                total += metrics.apply("numOutputRows").value()
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


def _mean_phases(phases: list[dict]) -> dict:
    if not phases:
        return {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0,
                "catalyst.planning_ms": 0.0}
    return {
        f"catalyst.{k}_ms": statistics.fmean(p[k] for p in phases)
        for k in ("analysis", "optimization", "planning")
    }


# ---------------------------------------------------------------------------
# ingest_stream


def _end_pos(progress: dict) -> list[int] | None:
    src = progress["sources"][0]
    end = src.get("endOffset")
    if isinstance(end, str):
        end = json.loads(end)
    return list(end["pos"]) if end else None


class IngestStream:
    name = "ingest_stream"

    def __init__(self, ctx):
        self.ctx = ctx
        self.ops = Ops()
        self.calls = 0

    def _spec(self, table: str):
        from mapr_plugins_spark.pipeline import PipelineSpec

        return PipelineSpec.from_properties(
            {"topics": "events", "format": "json", "schema": EVENT_SCHEMA,
             "offsetField": "beginning"},
            {"tableName": table, "key": "event_id", "schema": STREAM_PIPELINE["sink_schema"]},
            filters=STREAM_PIPELINE["filters"],
        )

    def _call(self, topic: str, table: str, checkpoint: str):
        """One run_stream call to completion: (wall s, progress list)."""
        from mapr_plugins_spark.pipeline import run_stream

        self.calls += 1
        t0 = time.perf_counter()
        q = run_stream(self.ctx.spark, self._spec(table), checkpoint_dir=checkpoint,
                       maprstream_path=topic, query_name=f"perfbench_{self.calls}")
        q.awaitTermination()
        wall = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return wall, [json.loads(p.json) for p in q.recentProgress]

    def set_up(self) -> float:
        ctx = self.ctx
        s = ctx.scratch

        def gen(i):
            write_backlog(ctx.seed, DRAIN_EVENTS, f"{s}/drain{i}.parquet")
            write_backlog(ctx.seed + 1, 2_000, f"{s}/warm{i}.parquet")
            return f"{s}/drain{i}.parquet", f"{s}/warm{i}.parquet"

        gen_s, (self.drain_topic, warm_topic) = _median_timed(gen)
        cols = event_rows(ctx.seed, 0, DRAIN_EVENTS)
        self.drain_expected = doc_multiset(
            expected_events(cols, backlog_ts_us(cols["event_id"])), "event_id"
        )
        t0 = time.perf_counter()
        try:
            self._call(warm_topic, f"{s}/warm_docs", f"{s}/warm_ckpt")
            # drain times keep falling over the first two backlog calls
            for i in range(2):
                self._call(self.drain_topic, f"{s}/warm_docs_d{i}", f"{s}/warm_ckpt_d{i}")
        except Exception:
            self.ops.error("warm-up run_stream")
        return gen_s + time.perf_counter() - t0

    def _drain(self, i: int, tracer) -> float | None:
        s = self.ctx.scratch
        table = f"{s}/drain_docs{i}"
        with tracer.span("pipeline.run_stream.drain", op=tracer.new_op()):
            try:
                wall, prog = self._call(self.drain_topic, table, f"{s}/drain_ckpt{i}")
            except Exception:
                self.ops.error("drain run_stream")
                return None
        try:
            d = diff_count(read_doc_table(table), self.drain_expected)
            self.ops.ok(d == 0, f"drain table differs in {d} documents")
        except Exception:
            self.ops.error("read back drain table")
        self.drain_table = table
        return wall

    def window(self, seconds: float, tracer) -> dict:
        ctx = self.ctx
        s = ctx.scratch
        tag = f"w{int(time.time() * 1000)}"
        live_s = seconds * LIVE_SHARE
        drains = [w for w in (self._drain(f"{tag}_{i}", tracer) for i in range(DRAIN_CALLS)) if w]
        rec = {"rows_per_s": DRAIN_EVENTS / statistics.median(drains) if drains else 0.0,
               "lat": [], "pass_s": [], "calls": [], "detail": {"drain_s": drains}}

        topic_dir = f"{s}/live_{tag}"
        table, ckpt = f"{s}/live_docs_{tag}", f"{s}/live_ckpt_{tag}"
        os.makedirs(topic_dir)
        write_topic(events_table(event_rows(ctx.seed, 0, 0), []), f"{topic_dir}/v000000.parquet")
        t0 = time.time() + 0.5
        stats = f"{s}/feed_{tag}.json"
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(ctx.bench_dir, "feed.py"), "--topic-dir", topic_dir,
             "--seed", str(ctx.seed), "--rate", str(STREAM_RATE), "--t0", repr(t0),
             "--seconds", str(live_s), "--stats", stats],
        )
        start = time.perf_counter()
        committed: list[int] = []
        try:
            done = False
            while not done:
                done = feeder.poll() is not None  # one last call after the feed ends
                versions = sorted(f for f in os.listdir(topic_dir) if f.endswith(".parquet"))
                topic = os.path.join(topic_dir, versions[-1])
                with tracer.span("pipeline.run_stream.call", op=tracer.new_op()):
                    try:
                        wall, prog = self._call(topic, table, ckpt)
                    except Exception:
                        self.ops.error("run_stream call")
                        continue
                for old in versions[:-1]:
                    os.remove(os.path.join(topic_dir, old))
                t_ret = time.time()
                self.ops.ok(True, "run_stream call")
                rec["pass_s"].append(wall)
                new_end = next((e for e in map(_end_pos, reversed(prog)) if e), None) if prog else None
                batch_rows = 0
                if new_end:
                    committed = committed or [0] * len(new_end)
                    for p, (a, b) in enumerate(zip(committed, new_end)):
                        eids = [p + i * len(new_end) for i in range(a, b)]
                        rec["lat"].extend((t_ret - us / 1e6) * 1000
                                          for us in due_ts_us(t0, STREAM_RATE, eids))
                        batch_rows += b - a
                    committed = list(new_end)
                due = max(0, min(int((t_ret - t0) * STREAM_RATE), int(STREAM_RATE * live_s)))
                rec["calls"].append({"wall_s": wall, "progress": prog, "rows": batch_rows,
                                     "backlog": due - sum(committed)})
        finally:
            if feeder.poll() is None:
                feeder.terminate()
            feeder.wait()
        rec["wall_s"] = time.perf_counter() - start
        with open(stats) as fh:
            self.feed_stats = json.load(fh)
        self.live = (table, committed, t0)
        return rec

    def check(self) -> None:
        table, committed, t0 = self.live
        ids = consumed_ids(committed)
        self.ops.ok(sorted(ids) == list(range(len(ids))),
                    "committed offsets are not a prefix of the topic")
        cols = event_rows(self.ctx.seed, 0, len(ids))
        want = doc_multiset(
            expected_events(cols, due_ts_us(t0, STREAM_RATE, cols["event_id"])), "event_id"
        )
        try:
            got = read_doc_table(table)
        except Exception:
            self.ops.error("read back live table")
            return
        dup = sum(c - 1 for c in got.values() if c > 1)
        self.ops.ok(dup == 0, f"{dup} documents written more than once")
        d = diff_count(got, want)
        self.ops.ok(d == 0, f"live table differs in {d} documents")

    def layers(self, rec: dict) -> dict:
        from mapr_plugins_spark.sources.stream import open_stream

        ctx = self.ctx
        spec = self._spec(f"{ctx.scratch}/unused")
        t0 = time.perf_counter()
        q = (
            open_stream(ctx.spark, spec.source, maprstream_path=self.drain_topic)
            .writeStream.format("noop")
            .option("checkpointLocation", f"{ctx.scratch}/pyds_ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        read_s = time.perf_counter() - t0

        calls = rec["calls"]

        def dur(c, k):
            return sum(p.get("durationMs", {}).get(k, 0) for p in c["progress"])

        def med(values):
            return float(statistics.median(values)) if values else 0.0

        out = {
            "sources.pyds.read_s": read_s,
            "sources.pyds.rows_per_s": DRAIN_EVENTS / read_s,
            "streaming.trigger_ms": med([dur(c, "triggerExecution") for c in calls]),
            "streaming.add_batch_ms": med([dur(c, "addBatch") for c in calls]),
            "streaming.planning_ms": med([dur(c, "queryPlanning") for c in calls]),
            "streaming.commit_ms": med(
                [dur(c, "walCommit") + dur(c, "commitOffsets") for c in calls]
            ),
            "streaming.start_stop_ms": med(
                [c["wall_s"] * 1000 - dur(c, "triggerExecution") for c in calls]
            ),
            "streaming.batch_rows": med([c["rows"] for c in calls]),
            "streaming.backlog_rows_max": float(max((c["backlog"] for c in calls), default=0)),
            "streaming.generator_lag_ms": med(self.feed_stats["lag_ms"]),
        }
        progress = [p for c in calls for p in c["progress"]]
        out.update(_state_metrics(progress))
        # the sink on its own: the drain's records, cached, appended
        from mapr_plugins_spark.sinks.document import read_document_table, write_document_table

        recs = read_document_table(
            ctx.spark, self.drain_table, STREAM_PIPELINE["sink_schema"], "event_id"
        ).cache()
        n = recs.count()
        path = f"{ctx.scratch}/layer_stream_docs"
        t0 = time.perf_counter()
        write_document_table(recs, path, "event_id", mode="append")
        out["sinks.document.write_s"] = time.perf_counter() - t0
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        out["sinks.document.files"] = len(parts)
        out["sinks.document.bytes_per_doc"] = (
            sum(os.path.getsize(os.path.join(path, f)) for f in parts) / n if n else 0.0
        )
        recs.unpersist()
        return out


def _state_metrics(progress: list[dict]) -> dict:
    state = [op for p in progress for op in p.get("stateOperators", [])]
    return {
        "streaming.batches": float(len(progress)),
        "streaming.state_rows": float(sum(op.get("numRowsTotal", 0) for op in state)),
        "streaming.state_mb": sum(op.get("memoryUsedBytes", 0) for op in state) / 2**20,
        "streaming.state_commit_ms": float(sum(op.get("commitTimeMs", 0) for op in state)),
    }


# ---------------------------------------------------------------------------
# query keys (traced ingest_batch runs only)


class QueryKeys:
    """Registry keys on seeded TPC-H-ish tables: graded once against the
    DuckDB oracle, warmed, then timed one traced pass. Reported as the
    ``operators`` and ``key.*`` layers of the traced ``ingest_batch`` run."""

    def __init__(self, ctx, ops: Ops):
        self.ctx = ctx
        self.ops = ops

    def _pass(self, tracer, record: dict | None) -> None:
        spark = self.ctx.spark
        for k in QUERY_KEYS:
            spark.catalog.clearCache()
            with tracer.span(f"key.{k}", op=tracer.new_op()):
                t0 = time.perf_counter()
                try:
                    with tracer.span("operators.build"):
                        df = self.fns[k](spark, self.sf)
                    t1 = time.perf_counter()
                    with tracer.span("exec.collect"):
                        pdf = df.toPandas()
                except Exception:
                    self.ops.error(f"{k} pass")
                    continue
                t2 = time.perf_counter()
            got = rows_hash(canonical_rows(pdf))
            if k not in self.hashes:
                self.hashes[k] = got
            else:
                self.ops.ok(got == self.hashes[k], f"{k} result hash changed between passes")
            if record is not None:
                record[k] = (t1 - t0, t2 - t1)
                record["dfs"].append(df)

    def run(self, tracer) -> dict:
        import __spark_entry__ as E

        from mapr_plugins_spark.catalog import TABLES

        ctx = self.ctx
        rows = write_tables(ctx.seed, f"{ctx.scratch}/sf", QUERY_SCALE)
        self.sf = f"{ctx.scratch}/sf"
        registry, oracles = E.queries(), E.oracle_sql()
        self.fns = {k: registry[k] for k in QUERY_KEYS}
        self.hashes: dict[str, str] = {}
        for k in QUERY_KEYS:
            try:
                got = canonical_rows(self.fns[k](ctx.spark, self.sf).toPandas())
            except Exception:
                self.ops.error(f"{k} oracle pass")
                continue
            self.hashes[k] = rows_hash(got)
            want = oracle_rows(oracles[k], self.sf, TABLES)
            self.ops.ok(got == want, f"{k} differs from its DuckDB oracle "
                        f"({len(got)} rows vs {len(want)})")
        self._pass(ctx.tracer_off, None)  # warm
        rec: dict = {"dfs": []}
        t0 = time.perf_counter()
        self._pass(tracer, rec)
        pass_s = time.perf_counter() - t0
        out = {}
        for k in QUERY_KEYS:
            build, ex = rec.get(k, (0.0, 0.0))
            out[f"key.{k}.build_s"] = build
            out[f"key.{k}.exec_s"] = ex
        out["operators.build_s"] = sum(out[f"key.{k}.build_s"] for k in QUERY_KEYS)
        out["operators.exec_s"] = sum(out[f"key.{k}.exec_s"] for k in QUERY_KEYS)
        out["operators.pass_s"] = pass_s
        out["operators.rows_per_s"] = (
            sum(rows[t] for k in QUERY_KEYS for t in QUERY_TABLES[k]) / pass_s
        )
        out["operators.catalyst_ms"] = sum(
            _mean_phases([catalyst_phases(df) for df in rec["dfs"]]).values()
        )
        return out


WORKLOADS = {w.name: w for w in (IngestBatch, IngestStream)}
