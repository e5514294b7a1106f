"""Config-driven pipeline facade — the reference's user surface.

A reference user never calls operators directly: they author a pipeline
config whose stages carry string properties — the ``MapRStream`` source
stage (``brokers``, ``topics``, ``offsetField``, ``format``,
``schema`` — ``MapRStreamConfig.java:30-57``, example config in
``docs/MapRStream-streamingsource.md:37-57``) and the ``MapRDBJSON``
sink stage (``tableName``, ``key``, ``schema`` —
``MapRDBJSONSink.java:305-315``); relational transforms between them are
host-framework stages. This module gives that exact workflow on Spark:

* ``PipelineSpec.from_properties`` accepts the same property names the
  reference's widgets expose and validates them at configure time (the
  reference's ``configurePipeline`` failure channel,
  ``MapRStreamingSource.java:63-67``).
* Macros: the reference late-binds ``${...}`` properties annotated
  ``@Macro`` (``MapRStreamConfig.java:38-44``,
  ``MapRDBJSONSink.java:305-315``); ``resolve_macros`` substitutes them
  from a runtime dict before the spec is built.
* Transforms are declared as SQL strings (filter predicates and
  select expressions) so the whole pipeline remains one declarative
  Catalyst plan — parse, transform, and document-encode all fuse into
  codegen'd projections; nothing is row-at-a-time.
* ``run_batch`` / ``run_stream`` execute source → parse → transforms →
  keyed document sink; streaming uses ``foreachBatch`` with a
  checkpoint (exactly-once with this idempotent keyed sink, the §1.4
  documented upgrade over the reference's 1 s auto-commit).
"""

from __future__ import annotations

import math
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapr_plugins_spark.session import sql_conf
from mapr_plugins_spark.sinks.document import (
    conform_to_declared,
    parse_declared_schema,
    write_document_table,
)
from mapr_plugins_spark.sources.formats import FORMATS, parse_expr
from mapr_plugins_spark.sources.stream import StreamSourceSpec, open_stream, parsed_stream

_MACRO_RE = re.compile(r"\$\{([A-Za-z0-9_.-]+)\}")

#: Floor on the per-core byte share ``run_batch`` plans its payload
#: scan with. Spark sizes a file split as
#: max(openCostInBytes, bytes / defaultParallelism), and the 4 MiB
#: default open cost gives a 2 MB payload one scan task — parse, filter
#: and encode all run in that scan stage, on one core. ``run_batch``
#: lowers the open cost to the payload's bytes per core, but not below
#: this floor: each split costs a task launch, and without the floor a
#: 3-line payload at ``local[32]`` scanned in 27 tasks and ran 311 →
#: 460 ms (4-vCPU host). 256 KiB of csv is ~40 ms of scan-task time on
#: that host, well above the launch cost.
PAYLOAD_SPLIT_MIN_BYTES = 256 * 1024


def resolve_macros(props: dict[str, str], macros: dict[str, str]) -> dict[str, str]:
    """Substitute ``${name}`` placeholders in every property value.

    Mirrors the reference's ``@Macro`` late binding: unresolved macros
    are a configure-time error, matching the reference's behavior of
    failing when a macro has no runtime value.
    """

    def _sub(v: str) -> str:
        def repl(m: re.Match[str]) -> str:
            name = m.group(1)
            if name not in macros:
                raise ValueError(f"unresolved macro ${{{name}}}")
            return macros[name]

        return _MACRO_RE.sub(repl, v)

    return {k: _sub(v) if isinstance(v, str) else v for k, v in props.items()}


@dataclass(frozen=True)
class DocumentSinkSpec:
    """Mirrors the MapRDBJSON sink config (``MapRDBJSONSink.java:305-315``)."""

    table_path: str  # reference: tableName
    key: str  # reference: key (document _id field)
    strict: bool = True  # reference type lattice (§1.2); False allows nested types
    #: reference: schema — the declared output schema (DDL here; the
    #: reference takes Avro-schema JSON), parsed + validated at
    #: configure time and enforced as a projection at write time.
    schema: str | None = None


@dataclass(frozen=True)
class PipelineSpec:
    source: StreamSourceSpec
    sink: DocumentSinkSpec
    #: SQL boolean predicates applied in order (host-framework filter stages).
    filters: tuple[str, ...] = ()
    #: SQL select expressions; empty = pass-through (host projection stage).
    select: tuple[str, ...] = ()

    @staticmethod
    def from_properties(
        source_props: dict[str, str],
        sink_props: dict[str, str],
        *,
        filters: list[str] | None = None,
        select: list[str] | None = None,
        macros: dict[str, str] | None = None,
    ) -> "PipelineSpec":
        """Build a validated spec from reference-named string properties.

        Source: ``brokers``, ``topics``, ``offsetField`` (the reference's
        real property name, ``MapRStreamConfig.java:41-44``; values
        ``beginning``/``latest`` case-insensitive per the widget,
        ``widgets/MapRStream-streamingsource.json:32-35`` — ``beginning``
        maps to earliest; ``defaultInitialOffset`` kept as an alias),
        ``format``, ``schema`` (+ any extra reader options).
        Sink: ``tableName``, ``key``, optional ``schema`` (the declared
        output schema, ``MapRDBJSONSink.java:313-315`` — parsed and
        lattice-validated here at configure time, enforced as the
        document projection at write time), optional ``strict``.
        """
        sp = resolve_macros(source_props, macros or {})
        kp = resolve_macros(sink_props, macros or {})
        fmt = sp.get("format") or None
        if fmt is not None and fmt not in FORMATS:
            raise ValueError(f"unknown format {fmt!r}; known: {FORMATS}")
        known = {
            "brokers",
            "topics",
            "offsetField",
            "defaultInitialOffset",
            "format",
            "schema",
            "grokPattern",
        }
        extra = {k: v for k, v in sp.items() if k not in known and k != "referenceName"}
        source = StreamSourceSpec(
            topics=sp.get("topics", ""),
            brokers=sp.get("brokers", "localhost:9092"),
            # offsetField is the reference's documented property
            # (beginning|latest, case-insensitive); the spec normalizes
            # the vocabulary and rejects unknown values loudly.
            offset_policy=sp.get("offsetField", sp.get("defaultInitialOffset", "latest")),
            fmt=fmt,
            schema=sp.get("schema"),
            grok_pattern=sp.get("grokPattern"),
            options=extra,
        )
        if not kp.get("tableName"):
            raise ValueError("sink tableName is required")
        if not kp.get("key"):
            raise ValueError("sink key is required")
        strict = str(kp.get("strict", "true")).lower() != "false"
        declared = kp.get("schema") or None
        if declared is not None:
            # configure-time parse + lattice validation — the
            # reference's getSchema()/validateSchema failure channel
            parse_declared_schema(declared, kp["key"], strict=strict)
        sink = DocumentSinkSpec(
            table_path=kp["tableName"],
            key=kp["key"],
            strict=strict,
            schema=declared,
        )
        return PipelineSpec(
            source=source,
            sink=sink,
            filters=tuple(filters or ()),
            select=tuple(select or ()),
        )


def _transform(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    for pred in spec.filters:
        df = df.filter(F.expr(pred))
    if spec.select:
        df = df.selectExpr(*spec.select)
    if spec.sink.schema is not None:
        # write-time enforcement of the declared output schema: the
        # reference iterates the OUTPUT schema's fields when building
        # each document (MapRDBJSONSink.java:119-147)
        st = parse_declared_schema(spec.sink.schema, spec.sink.key, strict=spec.sink.strict)
        df = conform_to_declared(df, st)
    return df


def _parse_batch(df: DataFrame, spec: PipelineSpec) -> DataFrame:
    """A4 format projection over a batch of raw payloads (``value`` col)."""
    parsed = parse_expr(
        spec.source.fmt,
        F.col("value"),
        spec.source.schema,
        grok_pattern=spec.source.grok_pattern,
        options=spec.source.options or None,
    )
    if spec.source.fmt in (None, "binary", "text"):
        return df.select(parsed.alias("message"))
    return df.select(parsed.alias("record")).select("record.*")


def _payload_open_cost(text: DataFrame) -> int:
    """The ``spark.sql.files.openCostInBytes`` that splits the payload
    scan ``text`` across every core: min(session open cost,
    max(ceil(bytes / defaultParallelism), PAYLOAD_SPLIT_MIN_BYTES)).

    ``text`` must be the bare ``spark.read.text`` relation, whose
    ``sizeInBytes`` is the bytes on disk; a projected plan's is a row
    width estimate (the ``binary`` cast alone inflates it ~4×)."""
    spark = text.sparkSession
    size = int(text._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    per_core = math.ceil(size / spark.sparkContext.defaultParallelism)
    session = spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()
    return min(session, max(per_core, PAYLOAD_SPLIT_MIN_BYTES))


def run_batch(spark: SparkSession, spec: PipelineSpec, input_path: str) -> dict[str, int]:
    """Batch pipeline: text payload files → parse → transforms → keyed
    document table. One declarative plan, no driver-side iteration.

    The scan stage does the parse, filter and encode, so it is split
    across every core: for the write only, ``spark.sql.files.openCostInBytes``
    is lowered to the payload's bytes per core (``_payload_open_cost``),
    floored at ``PAYLOAD_SPLIT_MIN_BYTES`` so a tiny payload does not
    pay a task launch per few lines, and restored after, error
    included. Inputs with the session's open cost (4 MiB by default)
    or more per core plan as the session would.

    Returns run metrics collected with ``observe`` — aggregated on the
    executors during the write itself (no second pass over the data),
    the pipeline-monitoring hook a production run wires to its metrics
    sink."""
    from pyspark.sql import Observation

    text = spark.read.text(input_path)
    raw = text.withColumnRenamed("value", "payload").select(
        F.col("payload").cast("binary").alias("value")
    )
    obs_in = Observation("pipeline_in")
    raw = raw.observe(obs_in, F.count(F.lit(1)).alias("rows_in"))
    out = _transform(_parse_batch(raw, spec), spec)
    obs_out = Observation("pipeline_out")
    out = out.observe(obs_out, F.count(F.lit(1)).alias("rows_out"))
    open_cost = {"spark.sql.files.openCostInBytes": str(_payload_open_cost(text))}
    with sql_conf(spark, open_cost):
        write_document_table(out, spec.sink.table_path, spec.sink.key, strict=spec.sink.strict)
    return {"rows_in": obs_in.get["rows_in"], "rows_out": obs_out.get["rows_out"]}


def run_stream(
    spark: SparkSession,
    spec: PipelineSpec,
    *,
    checkpoint_dir: str,
    replay_dir: str | None = None,
    maprstream_path: str | None = None,
    query_name: str = "mapr-plugins-pipeline",
):
    """Streaming pipeline: A1 source (or file replay) → A4 parse →
    transforms → A5/A6 keyed document sink via ``foreachBatch``.

    Offsets live in the checkpoint WAL; the keyed sink is idempotent per
    ``_id``, so restarts re-emit, not duplicate (vs the reference's
    1 s auto-commit at-least-once, ``MapRStreamingSource.java:75-76``).
    Returns the started ``StreamingQuery``.
    """
    src = open_stream(
        spark,
        spec.source,
        replay_dir=replay_dir,
        replay_schema="value STRING",
        maprstream_path=maprstream_path,
    )
    parsed = parsed_stream(src, spec.source)
    meta = {"topic", "partition", "offset", "timestamp"}
    out = _transform(parsed.drop(*meta), spec)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        write_document_table(
            batch_df, spec.sink.table_path, spec.sink.key, mode="append", strict=spec.sink.strict
        )

    return (
        out.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
