"""Plan-level IcebergTarget coverage (runnable without the Iceberg jar):
golden DDL/MERGE SQL text, driver-side widening checks, and the
idempotence-gate → MERGE → properties-commit sequence — plus a skip-guarded
integration test that activates if an Iceberg catalog is ever configured."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import types as T

from kettle_jena_plugins_spark.plans.evolution import IncompatibleSchemaChange
from kettle_jena_plugins_spark.targets.iceberg import (
    IcebergTarget,
    add_column_sql,
    create_table_sql,
    evolution_ddl,
    iceberg_available,
    merge_into_sql,
    set_tblproperties_sql,
)

TBL = "lake.cdc.transcripts"

SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def test_create_table_golden():
    assert create_table_sql(TBL, SCHEMA, 16) == (
        "CREATE TABLE IF NOT EXISTS lake.cdc.transcripts (conv_id string, "
        "turn_idx int, role string, text string, tool string, ts timestamp, "
        "_lsn bigint, _deleted boolean) USING iceberg "
        "PARTITIONED BY (bucket(16, conv_id)) "
        "TBLPROPERTIES ('write.distribution-mode'='hash', "
        "'write.merge.mode'='merge-on-read', 'cdc.batch-id'='-1', "
        "'cdc.n-buckets'='16')"
    )


def test_merge_sql_soft_delete_golden():
    assert merge_into_sql(TBL, ["role", "text"]) == (
        "MERGE INTO lake.cdc.transcripts t USING _cdc_batch s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED AND struct(s.ts, s.lsn) > struct(t.ts, t._lsn) "
        "THEN UPDATE SET t.role = s.role, t.text = s.text, t.ts = s.ts, "
        "t._lsn = s.lsn, t._deleted = (s.op = 'D') "
        "WHEN NOT MATCHED THEN INSERT "
        "(conv_id, turn_idx, role, text, ts, _lsn, _deleted) "
        "VALUES (s.conv_id, s.turn_idx, s.role, s.text, s.ts, s.lsn, "
        "(s.op = 'D'))"
    )


def test_merge_sql_partial_golden():
    """Cell-level partial MERGE: masked cells overwrite, unmasked keep the
    target value unless the target is a tombstone (revival keeps only the
    batch's cells); row-granular LWW guard."""
    from kettle_jena_plugins_spark.targets.iceberg import (
        merge_into_partial_sql,
    )

    assert merge_into_partial_sql(TBL, ["role", "text"]) == (
        "MERGE INTO lake.cdc.transcripts t USING _cdc_batch s "
        "ON t.conv_id = s.conv_id AND t.turn_idx = s.turn_idx "
        "WHEN MATCHED AND struct(s.ts, s.lsn) > struct(t.ts, t._lsn) "
        "THEN UPDATE SET "
        "t.role = CASE WHEN array_contains(s.set_cols, 'role') THEN s.role "
        "WHEN t._deleted THEN NULL ELSE t.role END, "
        "t.text = CASE WHEN array_contains(s.set_cols, 'text') THEN s.text "
        "WHEN t._deleted THEN NULL ELSE t.text END, "
        "t.ts = s.ts, t._lsn = s.lsn, t._deleted = (s.op = 'D') "
        "WHEN NOT MATCHED THEN INSERT "
        "(conv_id, turn_idx, role, text, ts, _lsn, _deleted) "
        "VALUES (s.conv_id, s.turn_idx, s.role, s.text, s.ts, s.lsn, "
        "(s.op = 'D'))"
    )


def test_partial_merge_emits_partial_sql(spark, monkeypatch):
    """merge_batch(partial_set_col=...) must route through the partial
    builder (CASE-masked SET clauses in the recorded MERGE) and exclude the
    mask from the payload columns. The sink reduces the raw events itself."""
    import datetime as dt

    rows = [
        ("U", 2, dt.datetime(2026, 1, 1, 0, 0, 2), "c1", 0,
         None, "edited", None, ["text"]),
    ]
    schema = (
        "op string, lsn long, ts timestamp, conv_id string, turn_idx int, "
        "role string, text string, tool string, set_cols array<string>"
    )
    events = spark.createDataFrame(rows, schema)

    tgt = IcebergTarget(spark, table=TBL, n_buckets=4)
    rec = _Recorder(spark, {})
    monkeypatch.setattr(tgt.spark, "sql", rec, raising=False)
    res = tgt.merge_batch(events, 0, partial_set_col="set_cols")
    monkeypatch.undo()
    assert res.applied
    merge = next(s for s in rec.stmts if s.startswith("MERGE"))
    assert "array_contains(s.set_cols, 'text')" in merge
    assert "WHEN t._deleted THEN NULL" in merge
    # the mask itself must never be a MERGE payload column (it appears
    # only inside array_contains guards)
    assert "t.set_cols" not in merge
    assert ", set_cols" not in merge.split("INSERT")[1]


def test_evolution_ddl_add_and_widen():
    new = T.StructType(
        SCHEMA.fields
        + [T.StructField("tool_meta", T.StringType())]
    )
    # widen turn_idx int -> bigint
    new = T.StructType(
        [
            T.StructField("turn_idx", T.LongType())
            if f.name == "turn_idx"
            else f
            for f in new.fields
        ]
    )
    ddl = evolution_ddl(TBL, SCHEMA, new)
    assert ddl == [
        "ALTER TABLE lake.cdc.transcripts ALTER COLUMN turn_idx TYPE bigint",
        "ALTER TABLE lake.cdc.transcripts ADD COLUMN tool_meta string",
    ]


def test_evolution_ddl_narrowing_is_noop():
    cur = T.StructType([T.StructField("turn_idx", T.LongType())])
    new = T.StructType([T.StructField("turn_idx", T.IntegerType())])
    assert evolution_ddl(TBL, cur, new) == []


def test_evolution_ddl_type_flip_rejected_driver_side():
    cur = T.StructType([T.StructField("turn_idx", T.LongType())])
    new = T.StructType([T.StructField("turn_idx", T.StringType())])
    with pytest.raises(IncompatibleSchemaChange):
        evolution_ddl(TBL, cur, new)


def test_set_tblproperties_golden():
    assert set_tblproperties_sql(TBL, {"cdc.batch-id": "7"}) == (
        "ALTER TABLE lake.cdc.transcripts SET TBLPROPERTIES "
        "('cdc.batch-id'='7')"
    )


class _Recorder:
    """Canned spark.sql: records every statement, answers the idempotence
    probes from canned properties, ignores DDL/MERGE."""

    def __init__(self, spark, props):
        self.spark = spark
        self.props = props
        self.stmts: list[str] = []

    def __call__(self, stmt: str):
        self.stmts.append(stmt)
        if stmt.startswith("SHOW TBLPROPERTIES"):
            rows = [(k, v) for k, v in self.props.items()]
            return self.spark.createDataFrame(
                rows or [("_", "_")], "key string, value string"
            )
        return None


def _events(spark):
    return spark.createDataFrame(
        [("c1", 0, "user", "hi", None, "2026-01-01 00:00:00", "I", 10)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string, op string, lsn long",
    )


def test_commit_sequence(spark, monkeypatch):
    tgt = IcebergTarget(spark, table=TBL, n_buckets=4)
    rec = _Recorder(
        spark, {"cdc.stream-id": "other", "cdc.batch-id": "3"}
    )
    monkeypatch.setattr(tgt.spark, "sql", rec, raising=False)
    res = tgt.merge_batch(_events(spark), batch_id=0, stream_id="s1")
    monkeypatch.undo()
    assert res.applied
    kinds = [s.split()[0] + " " + s.split()[1] for s in rec.stmts]
    # lineage probe -> MERGE -> properties commit, in that order
    assert kinds[0] == "SHOW TBLPROPERTIES"
    assert kinds[-2] == "MERGE INTO"
    assert kinds[-1] == "ALTER TABLE"
    assert "cdc.batch-id'='0'" in rec.stmts[-1].replace('"', "'")
    assert "cdc.stream-id'='s1'" in rec.stmts[-1]
    assert "cdc.watermark.lsn." in rec.stmts[-1]


def test_idempotence_gate_skips_merge(spark, monkeypatch):
    tgt = IcebergTarget(spark, table=TBL, n_buckets=4)
    rec = _Recorder(
        spark, {"cdc.stream-id": "s1", "cdc.batch-id": "5"}
    )
    monkeypatch.setattr(tgt.spark, "sql", rec, raising=False)
    res = tgt.merge_batch(_events(spark), batch_id=5, stream_id="s1")
    monkeypatch.undo()
    assert not res.applied
    assert not any(s.startswith("MERGE") for s in rec.stmts)
    # a lost-checkpoint lineage (different stream id) must NOT be skipped
    rec2 = _Recorder(
        spark, {"cdc.stream-id": "other", "cdc.batch-id": "5"}
    )
    monkeypatch.setattr(tgt.spark, "sql", rec2, raising=False)
    res2 = tgt.merge_batch(_events(spark), batch_id=5, stream_id="s1")
    monkeypatch.undo()
    assert res2.applied


def test_one_properties_read_and_watermarks_never_decrease(spark, monkeypatch):
    """The gate reads the table properties once, and a batch of late events
    (lsn 10 under committed watermarks of 100) leaves every watermark at
    100: each touched bucket takes max(committed, batch max)."""
    tgt = IcebergTarget(spark, table=TBL, n_buckets=4)
    rec = _Recorder(spark, {
        "cdc.stream-id": "s1", "cdc.batch-id": "3",
        **{f"cdc.watermark.lsn.{b}": "100" for b in range(4)},
    })
    monkeypatch.setattr(tgt.spark, "sql", rec, raising=False)
    res = tgt.merge_batch(_events(spark), batch_id=4, stream_id="s1")
    monkeypatch.undo()
    assert res.applied
    assert sum(s.startswith("SHOW TBLPROPERTIES") for s in rec.stmts) == 1
    assert rec.stmts[-1].startswith("ALTER TABLE")
    written = re.findall(r"'cdc\.watermark\.lsn\.\d+'='(-?\d+)'", rec.stmts[-1])
    assert written and min(int(v) for v in written) == 100


def test_watermarks_keyed_by_the_tables_bucket_count(spark, monkeypatch):
    """A target built with n_buckets=4 against a table whose properties
    record 8 buckets keys its watermarks pmod(xxhash64(conv_id), 8)."""
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [(f"c{i}", 0, "user", "hi", None, "2026-01-01 00:00:00", "I", 10 + i)
         for i in range(16)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string, op string, lsn long",
    )

    def buckets(n):
        b = F.pmod(F.xxhash64("conv_id"), F.lit(n)).alias("b")
        return {str(r["b"]) for r in events.select(b).distinct().collect()}

    assert buckets(8) != buckets(4)  # the recorded count is observable
    tgt = IcebergTarget(spark, table=TBL, n_buckets=4)
    rec = _Recorder(spark, {"cdc.n-buckets": "8"})
    monkeypatch.setattr(tgt.spark, "sql", rec, raising=False)
    assert tgt.merge_batch(events, 0, stream_id="s1").applied
    monkeypatch.undo()
    written = re.findall(r"'cdc\.watermark\.lsn\.(\d+)'=", rec.stmts[-1])
    assert set(written) == buckets(8)


def test_iceberg_integration_if_available(spark, tmp_path):
    """Activates only when an Iceberg catalog named `lake` is configured
    (requires the runtime jar; permanently skipped in this sandbox)."""
    if not iceberg_available(spark):
        pytest.skip("no Iceberg catalog in this environment")
    tgt = IcebergTarget(spark, table="lake.cdc.it_transcripts", n_buckets=4)
    tgt.create()
    res = tgt.merge_batch(_events(spark), batch_id=0, stream_id="it")
    assert res.applied
    assert tgt.read().count() == 1
