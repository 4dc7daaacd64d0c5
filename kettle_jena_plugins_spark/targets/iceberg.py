"""IcebergTarget — the production MERGE INTO path for real clusters.

Same interface as ParquetLakeTarget, ``merge_batch`` included: it takes
the batch's raw events and reduces them itself (``lww_reduce``, or
``lww_reduce_partial`` with the emitted batch mask for partial images —
MERGE forbids multiple source rows per key), then MERGEs. Used when the
Iceberg runtime jar + catalog extensions are configured
(session.iceberg_confs). The repository ships no Iceberg jar, so the live
path is covered by a skip-guarded integration test; the SQL the target
emits is built by pure functions below and plan-level tests pin the exact
DDL/MERGE text and the commit sequence (tests/test_iceberg_plan.py).

Idempotence: batch-id + per-bucket LSN high-watermarks are stored in the
table's snapshot summary via `ALTER TABLE ... SET TBLPROPERTIES` in the same
driver-side commit sequence (`cdc.batch-id`, `cdc.watermark.lsn.<bucket>`,
FIXTURES.md §1). The table records its bucket count (`cdc.n-buckets`) at
create, and watermarks are keyed by that record.

Deletes are soft (`_deleted` tombstones, as on the lake target): a deleted
key keeps the (ts, _lsn) anchor of the LWW guard, so an older redelivered
update cannot re-insert it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import MERGE_KEYS, TRANSCRIPTS_SCHEMA
from ..operators.lww import lww_reduce, lww_reduce_partial
from ..plans.evolution import IncompatibleSchemaChange, _wider
from .parquet_lake import MergeResult  # shared result type


def iceberg_available(spark: SparkSession, catalog: str = "lake") -> bool:
    try:
        spark.sql(f"SHOW NAMESPACES IN {catalog}")
        return True
    except Exception:
        return False


# --------------------------------------------------------------------------
# pure SQL builders (plan-level-testable without an Iceberg runtime)
# --------------------------------------------------------------------------

def create_table_sql(
    table: str, schema: T.StructType, n_buckets: int
) -> str:
    cols = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in schema.fields
    )
    return (
        f"CREATE TABLE IF NOT EXISTS {table} ({cols}, _lsn bigint, "
        f"_deleted boolean) USING iceberg "
        f"PARTITIONED BY (bucket({n_buckets}, conv_id)) "
        f"TBLPROPERTIES ('write.distribution-mode'='hash', "
        f"'write.merge.mode'='merge-on-read', 'cdc.batch-id'='-1', "
        f"'cdc.n-buckets'='{n_buckets}')"
    )


def add_column_sql(table: str, name: str, dtype: T.DataType) -> str:
    return f"ALTER TABLE {table} ADD COLUMN {name} {dtype.simpleString()}"


def alter_column_type_sql(table: str, name: str, dtype: T.DataType) -> str:
    return f"ALTER TABLE {table} ALTER COLUMN {name} TYPE {dtype.simpleString()}"


def set_tblproperties_sql(table: str, props: dict[str, str]) -> str:
    kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    return f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})"


def merge_into_sql(
    table: str,
    payload: Sequence[str],
    merge_keys: Sequence[str] = MERGE_KEYS,
    source_view: str = "_cdc_batch",
) -> str:
    """Key-partitioned MERGE INTO with the LWW guard
    `struct(s.ts, s.lsn) > struct(t.ts, t._lsn)` — equal-or-older replayed
    rows are no-ops, preserving convergence under duplicate delivery."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in merge_keys)
    set_cols = ", ".join(
        [f"t.{c} = s.{c}" for c in payload]
        + ["t.ts = s.ts", "t._lsn = s.lsn", "t._deleted = (s.op = 'D')"]
    )
    ins_cols = ", ".join([*merge_keys, *payload, "ts", "_lsn", "_deleted"])
    ins_vals = ", ".join(
        [f"s.{k}" for k in merge_keys]
        + [f"s.{c}" for c in payload]
        + ["s.ts", "s.lsn", "(s.op = 'D')"]
    )
    lww = "struct(s.ts, s.lsn) > struct(t.ts, t._lsn)"
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND {lww} THEN UPDATE SET {set_cols} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def merge_into_partial_sql(
    table: str,
    payload: Sequence[str],
    merge_keys: Sequence[str] = MERGE_KEYS,
    source_view: str = "_cdc_batch",
    set_col: str = "set_cols",
) -> str:
    """Cell-level MERGE INTO for PARTIAL row images (sparse updates).

    The source view holds ONE row per key, pre-reduced by
    operators/lww.lww_reduce_partial(emit_set_col=set_col): the batch's
    resolved cells plus the batch-level mask of cells its visible
    (post-tombstone) writes actually set. Semantics per target row:

    - matched + LWW-newer: overwrite ONLY masked cells; unmasked cells
      keep the target value — UNLESS the target row is a tombstone, in
      which case they become NULL (revival keeps only the batch's own
      cells, matching the lake's cell merge,
      parquet_lake.merge_batch partial_set_col);
    - not matched: insert the resolved cells (unmasked ones are already
      null in the reduced source);
    - the LWW guard stays ROW-granular (struct(s.ts, s.lsn) >
      struct(t.ts, t._lsn)) — the documented cross-batch contract: a
      late cell write older than the committed row version is a no-op.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in merge_keys)
    cell_sets = [
        f"t.{c} = CASE WHEN array_contains(s.{set_col}, '{c}') THEN s.{c} "
        f"WHEN t._deleted THEN NULL ELSE t.{c} END"
        for c in payload
    ]
    set_cols = ", ".join(
        cell_sets
        + ["t.ts = s.ts", "t._lsn = s.lsn", "t._deleted = (s.op = 'D')"]
    )
    ins_cols = ", ".join([*merge_keys, *payload, "ts", "_lsn", "_deleted"])
    ins_vals = ", ".join(
        [f"s.{k}" for k in merge_keys]
        + [f"s.{c}" for c in payload]
        + ["s.ts", "s.lsn", "(s.op = 'D')"]
    )
    lww = "struct(s.ts, s.lsn) > struct(t.ts, t._lsn)"
    return (
        f"MERGE INTO {table} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND {lww} THEN UPDATE SET {set_cols} "
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
    )


def evolution_ddl(
    table: str, current: T.StructType, new_schema: T.StructType
) -> list[str]:
    """DDL statements to absorb new_schema, with the widening-legality check
    done DRIVER-SIDE (plans/evolution._wider): a narrowing is a no-op (the
    existing column is already wider), a type flip raises
    IncompatibleSchemaChange before any SQL reaches the catalog."""
    cur = {f.name: f for f in current.fields}
    ddl: list[str] = []
    for f in new_schema.fields:
        if f.name not in cur:
            ddl.append(add_column_sql(table, f.name, f.dataType))
        elif cur[f.name].dataType != f.dataType:
            wide = _wider(cur[f.name].dataType, f.dataType)  # may raise
            if wide != cur[f.name].dataType:
                ddl.append(alter_column_type_sql(table, f.name, wide))
    return ddl


class IcebergTarget:
    def __init__(
        self,
        spark: SparkSession,
        table: str = "lake.cdc.transcripts",
        n_buckets: int = 16,
    ):
        """n_buckets is the bucket count create() gives the table; merges
        key watermarks by the table's own `cdc.n-buckets` record."""
        self.spark = spark
        self.table = table
        self.n_buckets = n_buckets

    def create(self, schema: T.StructType | None = None) -> None:
        schema = schema or TRANSCRIPTS_SCHEMA
        ns = self.table.rsplit(".", 1)[0]
        self.spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {ns}")
        self.spark.sql(create_table_sql(self.table, schema, self.n_buckets))

    def _properties(self) -> dict[str, str]:
        rows = self.spark.sql(f"SHOW TBLPROPERTIES {self.table}").collect()
        return {r["key"]: r["value"] for r in rows}

    def last_committed_batch(self) -> int:
        return int(self._properties().get("cdc.batch-id", -1))

    def schema(self) -> T.StructType:
        df = self.spark.table(self.table)
        return T.StructType(
            [f for f in df.schema.fields if f.name not in ("_lsn", "_deleted")]
        )

    def evolve_schema(self, new_schema: T.StructType) -> bool:
        ddl = evolution_ddl(self.table, self.schema(), new_schema)
        for stmt in ddl:
            self.spark.sql(stmt)
        return bool(ddl)

    def read(self) -> DataFrame:
        return (
            self.spark.table(self.table)
            .filter(~F.col("_deleted"))
            .drop("_lsn", "_deleted")
        )

    def merge_batch(
        self,
        events: DataFrame,
        batch_id: int,
        stream_id: str = "default",
        partial_set_col: str | None = None,
    ) -> MergeResult:
        """One micro-batch of raw change events → LWW-reduced to one row
        per key → MERGE INTO keyed on (conv_id, turn_idx), LWW-guarded on
        (ts, lsn) so late replays are no-ops.

        Commit sequence (plan-level-pinned): one table-properties read, the
        idempotence gate on it (stream lineage + batch-id) → MERGE →
        watermark + batch-id properties commit. Each touched bucket's
        watermark becomes max(committed, batch max), as on the lake.

        ``partial_set_col``: the events are sparse row images carrying this
        set-columns mask; they reduce through
        lww_reduce_partial(emit_set_col=...) — one row per key with the
        batch mask — and the MERGE overwrites only masked cells
        (merge_into_partial_sql)."""
        committed = self._properties()  # one read gates and carries watermarks
        same_lineage = committed.get("cdc.stream-id") == stream_id
        if same_lineage and batch_id <= int(committed.get("cdc.batch-id", -1)):
            return MergeResult(batch_id=batch_id, applied=False)

        if partial_set_col is not None:
            reduced = lww_reduce_partial(
                events, set_col=partial_set_col, emit_set_col=partial_set_col
            )
        else:
            reduced = lww_reduce(events)
        payload = [
            c
            for c in reduced.columns
            if c not in (*MERGE_KEYS, "op", "lsn", "ts", partial_set_col)
        ]
        reduced.createOrReplaceTempView("_cdc_batch")
        try:
            if partial_set_col is not None:
                sql = merge_into_partial_sql(
                    self.table, payload, MERGE_KEYS, set_col=partial_set_col
                )
            else:
                sql = merge_into_sql(self.table, payload, MERGE_KEYS)
            self.spark.sql(sql)
        finally:
            # per-batch temp-view cleanup (the reference's model.close()
            # resource lifecycle, JenaSerializerStepData.java:60-63)
            self.spark.catalog.dropTempView("_cdc_batch")
        # the bucket count the table was created with; a table created
        # before the record falls back to the constructor's
        n_buckets = int(committed.get("cdc.n-buckets", self.n_buckets))
        wm = reduced.groupBy(
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).alias("b")
        ).agg(F.max("lsn").alias("l")).collect()
        # a watermark never decreases: a batch of late events keeps it
        props = {}
        for r in wm:
            key = f"cdc.watermark.lsn.{r['b']}"
            props[key] = str(max(r["l"], int(committed.get(key, -1))))
        props["cdc.batch-id"] = str(batch_id)
        props["cdc.stream-id"] = stream_id
        self.spark.sql(set_tblproperties_sql(self.table, props))
        return MergeResult(
            batch_id=batch_id, applied=True, extra={"watermarks": props}
        )
