"""CDC envelope schemas for the three supported source systems.

Schemas reproduce (as public Debezium/DMS wire formats) the three
hand-written StructTypes in the reference:

- Debezium-MongoDB (DocumentDB):  glue_docdb_redshift_cdc.py:65-92
- Debezium-Postgres (RDS):        glue_pg_redshift_cdc.py:68-88
- AWS DMS:                        glue_dms_redshift_cdc.py:44-55

Payloads travel as JSON *strings* (Redshift SUPER-bound in the
reference); the DMS payload is schema-inferred at runtime (see
``infer.py``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# Debezium-MongoDB change-event envelope (reference glue_docdb_redshift_cdc.py:65-92).
# fullDocument / documentKey / updateDescription.updatedFields are JSON strings.
MONGO_CDC_SCHEMA = T.StructType(
    [
        T.StructField("_id", T.StringType(), False),
        T.StructField("operationType", T.StringType(), True),
        T.StructField("fullDocument", T.StringType(), True),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("ts_ms", T.LongType(), True),
                    T.StructField("snapshot", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField(
            "ns",
            T.StructType(
                [
                    T.StructField("db", T.StringType(), True),
                    T.StructField("coll", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "to",
            T.StructType(
                [
                    T.StructField("db", T.StringType(), True),
                    T.StructField("coll", T.StringType(), True),
                ]
            ),
            True,
        ),
        T.StructField("documentKey", T.StringType(), True),
        T.StructField(
            "updateDescription",
            T.StructType(
                [
                    T.StructField("updatedFields", T.StringType(), True),
                    T.StructField("removedFields", T.ArrayType(T.StringType()), True),
                ]
            ),
            True,
        ),
        T.StructField("clusterTime", T.StringType(), True),
        T.StructField("txnNumber", T.LongType(), True),
        T.StructField(
            "lsid",
            T.StructType(
                [
                    T.StructField("id", T.StringType(), True),
                    T.StructField("uid", T.StringType(), True),
                ]
            ),
            True,
        ),
    ]
)

# Debezium-Postgres change-event envelope (reference glue_pg_redshift_cdc.py:68-88).
# before/after are JSON strings of the row image.
PG_CDC_SCHEMA = T.StructType(
    [
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
        T.StructField(
            "source",
            T.StructType(
                [
                    T.StructField("version", T.StringType(), True),
                    T.StructField("connector", T.StringType(), True),
                    T.StructField("name", T.StringType(), True),
                    T.StructField("ts_ms", T.LongType(), True),
                    T.StructField("snapshot", T.StringType(), True),
                    T.StructField("db", T.StringType(), True),
                    T.StructField("sequence", T.StringType(), True),
                    T.StructField("schema", T.StringType(), True),
                    T.StructField("table", T.StringType(), True),
                    T.StructField("txId", T.LongType(), True),
                    T.StructField("lsn", T.LongType(), True),
                    T.StructField("xmin", T.LongType(), True),
                ]
            ),
            False,
        ),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("transaction", T.StringType(), True),
    ]
)

# AWS DMS Kafka envelope (reference glue_dms_redshift_cdc.py:44-55).
# `data` is the row payload as a JSON string; schema inferred at runtime.
DMS_CDC_SCHEMA = T.StructType(
    [
        T.StructField("data", T.StringType(), True),
        T.StructField("control", T.StringType(), True),
        T.StructField(
            "metadata",
            T.StructType(
                [
                    T.StructField("timestamp", T.StringType(), True),
                    T.StructField("record-type", T.StringType(), True),
                    T.StructField("operation", T.StringType(), True),
                    T.StructField("partition-key-type", T.StringType(), True),
                    T.StructField("schema-name", T.StringType(), True),
                    T.StructField("table-name", T.StringType(), True),
                ]
            ),
            False,
        ),
    ]
)

# DMS metadata.timestamp format (reference glue_dms_redshift_cdc.py:138).
DMS_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
# Default payload timestamp format (reference glue_dms_redshift_cdc.py:37).
DEFAULT_CDC_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss'Z'"

# Canonical ChangeSet schema every normalizer produces (FIXTURES.md §5).
CHANGESET_FIELDS = [
    "db",
    "table",
    "key",
    "ts_ms",
    "offset",
    "op",
    "payload",
]

CHANGESET_SCHEMA = T.StructType(
    [
        T.StructField("db", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
        T.StructField("key", T.StringType(), True),
        T.StructField("ts_ms", T.LongType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("payload", T.StringType(), True),
    ]
)


def project_schema(schema: T.StructType, fields: list[str]) -> T.StructType:
    """The sub-schema of ``schema`` holding only ``fields``: top-level
    names, or ``parent.child`` for a field of a nested struct.  Field
    types, order and nullability are the full schema's.

    ``from_json`` parses every field its schema names, and the
    optimizer does not prune the schema to the fields a query reads,
    so each normalizer parses with the projection of the wire format
    it reads (the full schemas above stay the documented formats)."""
    want: dict[str, set[str] | None] = {}
    for f in fields:
        top, _, child = f.partition(".")
        if child:
            sub = want.setdefault(top, set())
            if sub is not None:
                sub.add(child)
        else:
            want[top] = None
    out = []
    for field in schema.fields:
        if field.name not in want:
            continue
        sub = want[field.name]
        if sub is not None:
            field = T.StructField(
                field.name,
                T.StructType(
                    [c for c in field.dataType.fields if c.name in sub]
                ),
                field.nullable,
            )
        out.append(field)
    return T.StructType(out)


# The fields each normalizer reads (normalize.normalize_mongo / _pg /
# _dms, and normalize_pg_retractions, which reads the pg set too).
MONGO_CHANGESET_SCHEMA = project_schema(
    MONGO_CDC_SCHEMA,
    ["operationType", "fullDocument", "ts_ms", "ns.db", "ns.coll", "documentKey"],
)
PG_CHANGESET_SCHEMA = project_schema(
    PG_CDC_SCHEMA,
    ["before", "after", "source.ts_ms", "source.db", "source.table", "op"],
)
DMS_CHANGESET_SCHEMA = project_schema(
    DMS_CDC_SCHEMA,
    [
        "data",
        "metadata.timestamp",
        "metadata.record-type",
        "metadata.operation",
        "metadata.schema-name",
        "metadata.table-name",
    ],
)
