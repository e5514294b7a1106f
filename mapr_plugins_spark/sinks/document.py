"""Keyed JSON-document sink — the reference's MapRDBJSON batch sink,
re-expressed as columnar codegen.

Reference semantics reproduced (all citations into /root/reference):

* record → JSON document with the key field written as ``_id``
  (``src/main/java/co/cask/plugin/sink/MapRDBJSONSink.java:119-147``);
* null field values are SKIPPED, not written as JSON null
  (``MapRDBJSONSink.java:131`` — ``if (val != null)``);
* strict type lattice: BOOLEAN/INT/LONG/FLOAT/DOUBLE/BYTES/STRING,
  arrays thereof, and nullable wrappers; anything else rejected at
  configure time (``MapRDBJSONSink.java:154-296``, default branch
  ``:292-296``);
* key field must be a non-null scalar (``MapRDBJSONSink.java:125-144``,
  ``docs/MapRDBJSON-batchsink.md:12-13``).

Deliberate divergence from the reference (SURVEY §1.4): the reference
does one reflective JVM call per field per record
(``MapRDBJSONSink.java:120-144``); here the whole encode is one
``to_json(struct(...))`` projection inside whole-stage codegen — the
single biggest throughput win over the reference's write path. An
extension mode (``strict=False``) additionally allows structs, maps,
dates, timestamps and decimals, which the reference rejects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Spark types accepted by the reference's sink switch (strict mode).
DOC_SINK_SUPPORTED_TYPES: tuple[type, ...] = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.BinaryType,
    T.StringType,
)

#: Scalar types allowed for the ``_id`` key field (no binary, no array).
_KEY_TYPES: tuple[type, ...] = (
    T.BooleanType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.StringType,
)


def parse_declared_schema(schema_ddl: str, key_field: str, strict: bool = True):
    """Parse + validate the sink's DECLARED output schema — the
    reference's third sink property (``MapRDBJSONSink.java:313-315``
    ``@Description("Output schema for the MapR-DB JSON table.")``),
    which its ``getSchema()`` parses at configure time and fails
    loudly on (``"Unable to parse output schema."``,
    ``MapRDBJSONSink.java:321-327``). Accepts a DDL string; returns
    the StructType. Raises ValueError on unparseable DDL, a missing
    or non-scalar key field, or (strict) a type outside the
    reference's lattice."""
    from pyspark.sql.types import StructType

    try:
        st = StructType.fromDDL(schema_ddl)
    except Exception as e:
        raise ValueError(f"unable to parse output schema: {schema_ddl!r}") from e
    names = {f.name for f in st.fields}
    if key_field not in names:
        raise ValueError(f"key field {key_field!r} not in declared schema {sorted(names)}")
    for field in st.fields:
        dt = field.dataType
        if field.name == key_field and not isinstance(dt, _KEY_TYPES):
            raise ValueError(
                f"key field {key_field!r} has unsupported key type {dt.simpleString()}"
            )
        if not strict:
            continue
        ok = isinstance(dt, DOC_SINK_SUPPORTED_TYPES) or (
            isinstance(dt, T.ArrayType)
            and isinstance(dt.elementType, DOC_SINK_SUPPORTED_TYPES)
        )
        if not ok:
            raise ValueError(
                f"unsupported type {dt.simpleString()} for declared field "
                f"{field.name!r} (reference-compatible strict mode)"
            )
    return st


def conform_to_declared(df: DataFrame, st) -> DataFrame:
    """Project the outgoing frame onto the declared output schema
    (name-selected, type-cast) — what the reference's record-to-
    document loop does by iterating the OUTPUT schema's fields
    (``MapRDBJSONSink.java:119-147``). A declared field missing from
    the frame is a loud error, not a silent null column; a VALUE that
    cannot be converted to the declared type is a loud per-row error
    at write time (``try_cast`` + ``raise_error``), matching the
    reference's per-type conversion exceptions — never a silent NULL
    in the written document."""
    have = set(df.columns)
    missing = [f.name for f in st.fields if f.name not in have]
    if missing:
        raise ValueError(f"declared schema fields missing from pipeline output: {missing}")

    def conv(f):
        src = F.col(f.name)
        if df.schema[f.name].dataType == f.dataType:
            return src.alias(f.name)
        tried = src.try_cast(f.dataType)
        return (
            F.when(
                src.isNotNull() & tried.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"cannot convert value of field {f.name!r} to declared "
                            f"type {f.dataType.simpleString()}: "
                        ),
                        src.cast("string"),
                    )
                ).cast(f.dataType),
            )
            .otherwise(tried)
            .alias(f.name)
        )

    return df.select(*[conv(f) for f in st.fields])


def validate_doc_schema(df: DataFrame, key_field: str, strict: bool = True) -> None:
    """Configure-time schema validation, mirroring the reference's
    IllegalArgumentException behavior (MapRDBJSONSink.java:292-296,
    :321-327). Raises ValueError on violations."""
    names = {f.name for f in df.schema.fields}
    if key_field not in names:
        raise ValueError(f"key field {key_field!r} not in schema {sorted(names)}")
    for field in df.schema.fields:
        dt = field.dataType
        if field.name == key_field and not isinstance(dt, _KEY_TYPES):
            raise ValueError(
                f"key field {key_field!r} has unsupported key type {dt.simpleString()}"
            )
        if not strict:
            continue
        ok = isinstance(dt, DOC_SINK_SUPPORTED_TYPES) or (
            isinstance(dt, T.ArrayType) and isinstance(dt.elementType, DOC_SINK_SUPPORTED_TYPES)
        )
        if not ok:
            raise ValueError(
                f"unsupported type {dt.simpleString()} for field {field.name!r} "
                "(reference-compatible strict mode; pass strict=False to allow)"
            )


def encode_documents(df: DataFrame, key_field: str, strict: bool = True) -> DataFrame:
    """Encode every row as ``(_id, doc)`` — doc is a JSON string with null
    fields omitted (the reference's skip-null rule)."""
    validate_doc_schema(df, key_field, strict=strict)
    payload_cols = [c for c in df.columns]
    doc = F.to_json(
        F.struct(*[F.col(c) for c in payload_cols]),
        {"ignoreNullFields": "true"},  # MapRDBJSONSink.java:131 skip-null
    )
    return df.select(F.col(key_field).cast("string").alias("_id"), doc.alias("doc")).filter(
        F.col("_id").isNotNull()  # key must be non-null (MapRDBJSONSink.java:140-144)
    )


def write_document_table(
    df: DataFrame,
    path: str,
    key_field: str,
    mode: str = "overwrite",
    strict: bool = True,
    fmt: str = "parquet",
) -> None:
    """Write the keyed-document encoding to a table path.

    The reference hands (key, OJAI document) pairs to a Hadoop
    OutputFormat (MapRDBJSONSink.java:67-110); the Spark-native
    equivalent is a driver-coordinated DataSource commit — strictly
    stronger task-commit semantics. Hash-partitioning on ``_id`` keeps all
    documents of a key in one file, sorted by ``_id``. The sort lets a
    scan skip row groups only for a filter that reaches it as an ``_id``
    predicate: a STRING key's lookup does; other key types filter on a
    cast of ``_id``, which is not pushed down.
    """
    encoded = encode_documents(df, key_field, strict=strict)
    (
        encoded.repartition(F.col("_id"))
        .sortWithinPartitions("_id")
        .write.mode(mode)
        .format(fmt)
        .save(path)
    )


def read_document_table(
    spark, path: str, schema: str, key_field: str, fmt: str = "parquet"
) -> DataFrame:
    """Read a keyed document table back into typed records — the inverse
    of the A5 encode (the reference's read side lives in MapR-DB itself;
    here the table is self-contained).

    ``schema`` is the declared DDL of the original record (no inference
    over the JSON docs); a key field missing from it, or of a non-key
    type, raises ValueError. Fields skipped at write time (the skip-null
    rule) come back as NULL, so ``read(write(df)) == df`` for key-complete
    rows.

    The key is ``try_cast(_id AS <key type>)``: ``_id`` is its string
    rendering at encode time, and every ``_KEY_TYPES`` value (NaN,
    ±Infinity, -0.0, integer extremes, unicode) reads back as itself. A
    key filter thus needs only ``_id``, and Catalyst runs it below the
    ``from_json`` of the other fields, so a point lookup decodes only the
    matching documents. The raw ``(_id, doc)`` schema is given, not
    inferred from file footers; a directory without data files reads as
    empty. The one divergence from decoding the key out of ``doc``: a key
    read as another type than it was written with is the cast of its
    string form, where ``from_json`` gave NULL (STRING ``'42'`` read as
    INT is 42; INT ``1`` read as BOOLEAN is true).
    """
    st = parse_declared_schema(schema, key_field, strict=False)
    rest = T.StructType([f for f in st.fields if f.name != key_field])
    raw = spark.read.format(fmt).schema("_id STRING, doc STRING").load(path)
    rec = raw.select(
        F.col("_id").try_cast(st[key_field].dataType).alias("_id"),
        F.from_json(F.col("doc"), rest).alias("r"),
    )
    return rec.select(
        *[
            (F.col("_id") if f.name == key_field else F.col("r").getField(f.name)).alias(f.name)
            for f in st.fields
        ]
    )
