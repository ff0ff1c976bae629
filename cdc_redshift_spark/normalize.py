"""Envelope → canonical ChangeSet normalizers.

The reference re-derives (db, table, key, ts, op, payload) three times,
once per script (glue_docdb_redshift_cdc.py:133-147,
glue_pg_redshift_cdc.py:128-145, glue_dms_redshift_cdc.py:138-142).
Here each source gets one declarative normalizer producing the single
canonical schema:

    (db, table, key, ts_ms, offset, op, payload)

- ``op`` is normalized to the vocabulary insert/update/delete/load
  (Mongo strings, Debezium c/u/d/r, DMS words — SURVEY §2.4 F5).
- ``offset`` is the deterministic tiebreaker for ts_ms ties, a gap the
  reference leaves nondeterministic (SURVEY §2.7 W1).  From Kafka it is
  the partition offset; callers can provide any monotone column.

All transforms are pure Column expressions — they stay inside
whole-stage codegen, no Python on the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cdc_redshift_spark.envelopes import (
    DMS_CHANGESET_SCHEMA,
    DMS_TS_FORMAT,
    MONGO_CHANGESET_SCHEMA,
    PG_CHANGESET_SCHEMA,
)

# Op-code normalization maps (SURVEY §2.4 F5).
_MONGO_OPS = {"insert": "insert", "update": "update", "replace": "update", "delete": "delete"}
_PG_OPS = {"c": "insert", "u": "update", "d": "delete", "r": "load"}
_DMS_OPS = {"load": "load", "insert": "insert", "update": "update", "delete": "delete"}


def _map_op(col: Column, mapping: dict[str, str]) -> Column:
    expr = None
    for src, dst in mapping.items():
        cond = col == src
        expr = F.when(cond, dst) if expr is None else expr.when(cond, dst)
    return expr.otherwise(col)


def _offset_col(df: DataFrame, offset_col: str | None) -> Column:
    """Kafka frames carry `offset`; bounded test frames pass their own.

    Falls back to a per-task monotone id — stable within a run, which is
    enough for intra-batch tiebreaks when the source provides none.
    """
    if offset_col and offset_col in df.columns:
        return F.col(offset_col).cast("long")
    if "offset" in df.columns:
        return F.col("offset").cast("long")
    return F.monotonically_increasing_id()


def parse_envelope(raw: DataFrame, schema, value_col: str = "value") -> DataFrame:
    """Kafka value bytes → flattened envelope struct.

    Mirrors the cast→from_json→flatten prologue shared by all three
    reference jobs (glue_pg_redshift_cdc.py:231-233), keeping Kafka
    metadata columns (offset, partition, timestamp) when present.
    """
    keep = [c for c in ("offset", "partition", "timestamp") if c in raw.columns]
    parsed = raw.filter(F.col(value_col).isNotNull()).select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("j"), *keep
    )
    return parsed.select("j.*", *keep)


def _with_ts_date(cs: DataFrame) -> DataFrame:
    """Append the reference's Redshift sortkey derivation:
    ``ts_date = to_date(event time)`` (glue_pg_redshift_cdc.py:137,
    glue_docdb_redshift_cdc.py:138).  Also the partition column the
    pruned ParquetSink merge keys on."""
    return cs.withColumn("ts_date", F.to_date(F.timestamp_millis(F.col("ts_ms"))))


def _with_payload_variant(cs: DataFrame, enabled: bool) -> DataFrame:
    """Optionally append ``payload_v``: the payload parsed ONCE into a
    Spark ``VariantType`` (SURVEY §1.1 — the closer analogue of the
    reference's Redshift SUPER binding, available on Spark 4).  The
    encoded variant stores each path pre-shredded, so repeated typed
    access (``variant_get``) skips the per-call JSON re-parse that
    ``get_json_object`` on the string column pays — the right shape
    when downstream extracts many paths per row.  Malformed JSON
    yields NULL (``try_parse_json``) while the raw string ``payload``
    column stays untouched beside it, so nothing is lost and a
    streaming job never dies on one bad document; consumers that want
    loud failure can assert ``payload_v IS NOT NULL``.  Default OFF:
    the string path is the certified, cross-engine-mirrored default.
    """
    if not enabled:
        return cs
    return cs.withColumn("payload_v", F.try_parse_json(F.col("payload")))


def normalize_mongo(
    env: DataFrame,
    offset_col: str | None = None,
    payload_variant: bool = False,
) -> DataFrame:
    """Debezium-Mongo envelope → ChangeSet.

    Key = ``$._id`` of documentKey, payload = fullDocument (opaque JSON,
    SUPER-bound), routing = ns.db/ns.coll, ordering = ts_ms
    (reference glue_docdb_redshift_cdc.py:133-140).
    """
    return _with_payload_variant(
        _with_ts_date(
            env.select(
                F.col("ns.db").alias("db"),
                F.col("ns.coll").alias("table"),
                F.get_json_object("documentKey", "$._id").alias("key"),
                F.col("ts_ms").cast("long").alias("ts_ms"),
                _offset_col(env, offset_col).alias("offset"),
                _map_op(F.col("operationType"), _MONGO_OPS).alias("op"),
                F.col("fullDocument").alias("payload"),
            )
        ),
        payload_variant,
    )


def normalize_pg(
    env: DataFrame,
    key_path: str = "$.id",
    offset_col: str | None = None,
    payload_variant: bool = False,
) -> DataFrame:
    """Debezium-Postgres envelope → ChangeSet.

    Key from `after` else `before` (delete has no after image), payload
    = after-else-before, routing = source.db/source.table, ordering =
    source.ts_ms (reference glue_pg_redshift_cdc.py:128-138).
    """
    after_ok = F.col("after").isNotNull()
    return _with_payload_variant(
        _with_ts_date(
            env.select(
                F.col("source.db").alias("db"),
                F.col("source.table").alias("table"),
                F.when(after_ok, F.get_json_object("after", key_path))
                .otherwise(F.get_json_object("before", key_path))
                .alias("key"),
                F.col("source.ts_ms").cast("long").alias("ts_ms"),
                _offset_col(env, offset_col).alias("offset"),
                _map_op(F.col("op"), _PG_OPS).alias("op"),
                F.when(after_ok, F.col("after"))
                .otherwise(F.col("before"))
                .alias("payload"),
            )
        ),
        payload_variant,
    )


def normalize_dms(
    env: DataFrame,
    record_id_key: str = "id",
    offset_col: str | None = None,
    payload_variant: bool = False,
) -> DataFrame:
    """AWS DMS envelope → ChangeSet.

    Keeps only data records (record-type == 'data', reference
    glue_dms_redshift_cdc.py:88), key = configurable ``record_id_key``
    JSON path in the payload (:36), routing = metadata schema/table
    (:139-141), ordering = metadata.timestamp parsed with microsecond
    format (:138).
    """
    return _with_payload_variant(
        _with_ts_date(
            env.filter(F.col("metadata.`record-type`") == "data")
            .select(
                F.col("metadata.`schema-name`").alias("db"),
                F.col("metadata.`table-name`").alias("table"),
                F.get_json_object("data", f"$.{record_id_key}").alias("key"),
                (
                    # try_: an unparseable timestamp is a malformed
                    # event (NULL ts_ms), not a failed batch
                    F.unix_micros(
                        F.try_to_timestamp(
                            F.col("metadata.timestamp"), F.lit(DMS_TS_FORMAT)
                        )
                    )
                    / F.lit(1000)
                )
                .cast("long")
                .alias("ts_ms"),
                _offset_col(env, offset_col).alias("offset"),
                _map_op(F.col("metadata.operation"), _DMS_OPS).alias("op"),
                F.col("data").alias("payload"),
            )
        ),
        payload_variant,
    )


def normalize_pg_retractions(
    env: DataFrame,
    offset_col: str | None = None,
    on_missing_before: str = "error",
) -> DataFrame:
    """Debezium-Postgres envelope → signed RETRACTION stream.

    The upsert ChangeSet (:func:`normalize_pg`) keeps only the
    after-else-before image — enough for keyed table state, but not for
    maintaining aggregates: an update's contribution to a SUM can only
    be corrected by retracting the old value.  Debezium's envelope
    carries both images (``before``/``after``,
    glue_pg_redshift_cdc.py:71-73), so each event expands to signed
    image rows (the Flink retract-stream model):

        insert/load → (+1, after)
        update      → (-1, before), (+1, after)
        delete      → (-1, before)

    Retraction algebra is commutative, so downstream per-group sums
    need NO LWW dedup and no ordering — any partitioning of the stream
    into batches yields the same totals.

    A source without ``REPLICA IDENTITY FULL`` emits null ``before`` on
    update/delete and CANNOT drive exact aggregate maintenance;
    ``on_missing_before`` picks the failure mode for an update whose
    before-image is null:

    - ``'error'`` (default): raise — degraded mode must be loud, not a
      silently drifting rollup (resync from a snapshot instead);
    - ``'drop'``: drop BOTH images of the update (under-counts the new
      value but never double-counts — the rollup stays a consistent
      view of some prefix of each key's history);
    - ``'keep_after'``: apply only the +1 after-image (over-counts
      updates forever; only sound when updates never change maintained
      measures or dims).

    A delete with a null before-image contributes nothing under any
    mode (there is nothing to retract).
    """
    if on_missing_before not in ("error", "drop", "keep_after"):
        raise ValueError(f"on_missing_before: {on_missing_before!r}")
    imgs = F.array(
        F.struct(F.lit(-1).alias("sign"), F.col("before").alias("payload")),
        F.struct(F.lit(1).alias("sign"), F.col("after").alias("payload")),
    )
    base = env.select(
        F.col("source.db").alias("db"),
        F.col("source.table").alias("table"),
        F.col("source.ts_ms").cast("long").alias("ts_ms"),
        _offset_col(env, offset_col).alias("offset"),
        _map_op(F.col("op"), _PG_OPS).alias("op"),
        F.col("before").isNull().alias("_no_before"),
        F.explode(imgs).alias("img"),
    )
    upd = F.col("op") == "update"
    # the raise_error branch is reachable ONLY when its own `when`
    # condition includes the update check — relying on AND
    # short-circuiting around it is unsafe once the optimizer
    # rearranges the filter expression
    upd_keep = {
        "error": F.when(
            upd & F.col("_no_before"),
            F.raise_error(
                F.lit(
                    "normalize_pg_retractions: update with NULL before-"
                    "image (source lacks REPLICA IDENTITY FULL) — exact "
                    "aggregate maintenance is impossible; resync from a "
                    "snapshot or pass on_missing_before='drop'"
                )
            ).cast("boolean"),
        ).otherwise(F.lit(True)),
        "drop": ~F.col("_no_before"),
        "keep_after": F.lit(True),
    }[on_missing_before]
    keep = F.col("img.payload").isNotNull() & (
        (F.col("op").isin("insert", "load") & (F.col("img.sign") == 1))
        | ((F.col("op") == "delete") & (F.col("img.sign") == -1))
        | (upd & upd_keep)
    )
    return base.filter(keep).select(
        "db",
        "table",
        "ts_ms",
        "offset",
        "op",
        F.col("img.sign").alias("sign"),
        F.col("img.payload").alias("payload"),
    )


def mongo_changeset(raw: DataFrame, **kw) -> DataFrame:
    """Kafka raw frame → Mongo ChangeSet (parse + normalize)."""
    return normalize_mongo(parse_envelope(raw, MONGO_CHANGESET_SCHEMA), **kw)


def pg_changeset(raw: DataFrame, **kw) -> DataFrame:
    """Kafka raw frame → Postgres ChangeSet (parse + normalize)."""
    return normalize_pg(parse_envelope(raw, PG_CHANGESET_SCHEMA), **kw)


def dms_changeset(raw: DataFrame, **kw) -> DataFrame:
    """Kafka raw frame → DMS ChangeSet (parse + normalize)."""
    return normalize_dms(parse_envelope(raw, DMS_CHANGESET_SCHEMA), **kw)


def pg_retraction_stream(raw: DataFrame, **kw) -> DataFrame:
    """Kafka raw frame → Postgres retraction stream (parse + expand)."""
    return normalize_pg_retractions(parse_envelope(raw, PG_CHANGESET_SCHEMA), **kw)
