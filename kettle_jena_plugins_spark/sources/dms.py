"""AWS DMS envelope source — the managed-replication wire format, fifth
dialect next to Debezium, Maxwell, wal2json and Canal (sources/).

DMS tasks targeting Kinesis/Kafka/MSK emit one JSON object per row
change, with the row image and the replication metadata side by side::

    {"data": {row columns...},
     "metadata": {"timestamp": "2026-08-18T12:34:56.000521Z",
                  "record-type": "data",
                  "operation": "load|insert|update|delete",
                  "partition-key-type": "schema-table",
                  "schema-name": "app", "table-name": "transcripts",
                  "transaction-id": 123456789}}

Differences from the other four dialects that matter to this engine:

- ``metadata.timestamp`` is MICROSECOND ISO-8601 text with a ``Z``
  suffix, so LWW's (ts, lsn) order survives the wire at full precision
  (like wal2json, unlike Maxwell's second- and Canal's millisecond-
  granularity stamps).
- there is no binlog/WAL position in the envelope; ``transaction-id``
  is the only per-change monotone number (DMS derives it from the
  source change number), so it carries the engine's lsn directly —
  no composite derivation needed.
- ``record-type: "control"`` rows are DDL notifications
  (create-table/change-columns/...), not row changes. They surface as
  null-op rows so the validation split routes them to the dead letter
  (operators/validate.py) — visible, never silently dropped. Schema
  evolution in this engine is column-driven (plans/evolution.py +
  ``payload_schema``), not control-record-driven.
- one task streams every table of the source: pass ``table`` to keep
  only the target table's rows (scan-stage filter on
  ``metadata.table-name``).
- ``data`` carries the full row image for insert/update; for delete,
  whatever the task's BeforeImage settings include — the engine's
  merge only needs the keys for D, and the fixture renderer writes the
  full image (the engine's delete contract, like Debezium's
  ``before``).

Reference analogue: like the other dialects, this maps the plugin
family's one-step-per-input-shape pattern (JenaModelStepMeta.java:
165-182's value-source dispatch) onto one parser per wire format over
a shared canonical event schema (model.CHANGE_EVENT_SCHEMA).

Scale design mirrors debezium.py: ``from_json`` with an explicit
schema is one narrow whole-stage-codegen projection in the scan stage
— no shuffle, no Python. ``to_dms_json`` is the deterministic fixture
renderer (FIXTURES.md policy) used by the round-trip contract query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# full row image (the transcripts table shape, BASELINE.json
# input_hint) — shared across dialects via model.py
from ..model import PAYLOAD_SCHEMA as _ROW_SCHEMA


def _metadata_schema() -> T.StructType:
    return T.StructType(
        [
            T.StructField("timestamp", T.StringType(), True),
            T.StructField("record-type", T.StringType(), True),
            T.StructField("operation", T.StringType(), True),
            T.StructField("partition-key-type", T.StringType(), True),
            T.StructField("schema-name", T.StringType(), True),
            T.StructField("table-name", T.StringType(), True),
            T.StructField("transaction-id", T.LongType(), True),
        ]
    )


def _value_schema(row_schema: T.StructType) -> T.StructType:
    """Envelope schema for a given row-image shape (schema evolution: an
    extended row schema lets an evolved producer's new columns parse
    instead of being silently dropped by from_json)."""
    return T.StructType(
        [
            T.StructField("data", row_schema, True),
            T.StructField("metadata", _metadata_schema(), True),
        ]
    )


DMS_VALUE_SCHEMA = _value_schema(_ROW_SCHEMA)

# "load" is the full-load phase's bulk row image — the analogue of
# Debezium's snapshot-read op "r" (debezium.py) and Maxwell's
# "bootstrap-insert": an insert for replay purposes
_OP_IN = {"load": "I", "insert": "I", "update": "U", "delete": "D"}

# the fraction is optional and 1-6 digits wide: DMS emits microseconds,
# but millisecond and fraction-less timestamps are well-formed too
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS]"


def parse_dms(
    raw: DataFrame,
    value_col: str = "value",
    table: str | None = None,
    payload_schema: T.StructType | None = None,
) -> DataFrame:
    """DMS JSON envelope strings → canonical change events.

    - operation: load / insert → I, update → U, delete → D; unknown
      operations AND every non-"data" record-type (control records —
      DDL notifications) become null ops for the dead-letter split.
    - lsn: ``metadata.transaction-id`` verbatim (DMS's per-change
      monotone number; the envelope carries no binlog/WAL position).
    - ts: ISO-8601 ``metadata.timestamp`` (UTC ``Z``) with 0-6
      fractional digits, parsed exactly — LWW order is preserved at full
      precision; an unparseable ts is null (→ the dead-letter split).
    - pass ``table`` to keep only the target table's rows (one task
      streams every table of the source).
    - ``payload_schema`` overrides the projected row shape for
      mid-stream schema evolution (plans/evolution.py).
    """
    # parse ONCE into a struct column, then filter/project from it — a
    # second from_json in a separate Filter operator would not be CSE'd
    # with the projection's parse, JSON-decoding every row twice
    rs = payload_schema or _ROW_SCHEMA
    out = raw.filter(F.col(value_col).isNotNull()).select(
        F.from_json(F.col(value_col), _value_schema(rs)).alias("_env")
    )
    md = F.col("_env")["metadata"]
    op_col: Column = F.lit(None).cast("string")
    for k, v in _OP_IN.items():
        op_col = F.when(md["operation"] == k, F.lit(v)).otherwise(op_col)
    # control records (record-type != "data") are not row changes; they
    # surface as null ops so the dead-letter split keeps them visible
    op_col = F.when(md["record-type"] == "data", op_col).otherwise(
        F.lit(None).cast("string")
    )
    if table is not None:
        # null-safe: a malformed envelope (null table-name) must reach
        # the dead-letter split as a null-op row, not vanish here
        out = out.filter(
            md["table-name"].isNull() | (md["table-name"] == table)
        )
    ts = F.try_to_timestamp(
        F.regexp_replace(md["timestamp"], r"Z$", ""), F.lit(_TS_FMT)
    )
    return out.select(
        op_col.alias("op"),
        md["transaction-id"].alias("lsn"),
        ts.alias("ts"),
        *[F.col("_env")["data"][f.name].alias(f.name) for f in rs.fields],
    )


def to_dms_json(
    changes: DataFrame,
    value_col: str = "value",
    schema: str = "app",
    table: str = "transcripts",
) -> DataFrame:
    """Canonical change events → DMS envelope JSON strings
    (deterministic fixture renderer; exact inverse of ``parse_dms`` —
    microsecond ts and the 64-bit lsn both survive the trip)."""
    # seconds via date_format (UTC session), fraction rendered exactly —
    # date_format's S pattern would round-trip through the formatter's
    # locale rules; the explicit %06d is exact for the full micro range
    ts_txt = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"),
        F.format_string(
            ".%06dZ", F.pmod(F.unix_micros("ts"), F.lit(1_000_000))
        ),
    )
    metadata = F.struct(
        ts_txt.alias("timestamp"),
        F.lit("data").alias("record-type"),
        F.when(F.col("op") == "D", F.lit("delete"))
        .when(F.col("op") == "U", F.lit("update"))
        .otherwise(F.lit("insert"))
        .alias("operation"),
        F.lit("schema-table").alias("partition-key-type"),
        F.lit(schema).alias("schema-name"),
        F.lit(table).alias("table-name"),
        F.col("lsn").alias("transaction-id"),
    )
    envelope = F.struct(
        # row image inferred from the input's columns, so evolved
        # streams render their new columns
        F.struct(
            *[c for c in changes.columns if c not in ("op", "lsn", "ts")]
        ).alias("data"),
        metadata.alias("metadata"),
    )
    return changes.select(F.to_json(envelope).alias(value_col))
