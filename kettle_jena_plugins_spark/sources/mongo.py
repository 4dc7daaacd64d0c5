"""MongoDB oplog envelope source — the document-store wire format, sixth
dialect next to Debezium, Maxwell, wal2json, Canal and DMS (sources/).

Classic oplog entries (strict extended JSON) carry one operation each::

    {"ts": {"$timestamp": {"t": 1767225601, "i": 5}},
     "op": "i|u|d|n|c", "ns": "app.transcripts",
     "o":  {...},                 # i: full document
                                  # u: {"$set": {...}, "$unset": {...}}
                                  #    or a full replacement document
                                  # d: the key document
     "o2": {key fields}}          # u only: which document

This dialect is the engine's native PARTIAL-image source: a ``$set``
update names exactly the fields it writes and a ``$unset`` is an
explicit null write, so ``parse_mongo_oplog`` always emits the
``set_cols`` mask (operators/lww.py lww_reduce_partial's contract) and
consumers MUST apply it through the cell-level merge
(CDCConfig.partial_set_col / ``ingest --dialect mongo``, which forces
it) — whole-row LWW over sparse updates would null untouched cells.

Mapping onto the engine's (ts, lsn) total order:

- the oplog ``ts`` is a BSON Timestamp: SECOND-granularity wall time
  ``t`` plus an intra-second ordinal ``i`` that makes (t, i) the
  replica-set's total order. The engine derives the monotone composite
  lsn = t·2³² + i (i < 2³² by construction), so the lsn tiebreak IS
  oplog order within each coarse second — the same coarsening contract
  as Maxwell (seconds) and Canal (milliseconds).
- update keys come from ``o2`` (inserts/deletes carry them in ``o``).
- ``op`` n (noop) / c (command — DDL analogue, like DMS control
  records) and unknown ops become null-op rows for the dead-letter
  split: visible, never silently dropped.
- set-to-null MUST be spelled ``$unset`` (the Mongo idiom): strict JSON
  cannot distinguish ``{"$set": {"tool": null}}`` from an absent field
  after from_json, so a ``$set`` to null is read as "untouched".

Scale design mirrors the other dialects: one ``from_json`` with an
explicit schema — a narrow whole-stage-codegen projection in the scan
stage, no shuffle, no Python. ``to_mongo_oplog`` is the deterministic
fixture renderer (FIXTURES.md policy): events carrying a ``set_cols``
column render sparse ``$set``/``$unset`` updates; events without it
render full-document replacement updates.

Reference analogue: like the other dialects, one parser per wire format
over the shared canonical event schema (the plugin family's
one-step-per-input-shape pattern, JenaModelStepMeta.java:165-182).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import PAYLOAD_SCHEMA as _ROW_SCHEMA
from ..model import MERGE_KEYS

#: payload (cell) columns — the key fields ride in o/o2, order in ts
_CELLS = [f.name for f in _ROW_SCHEMA.fields if f.name not in (*MERGE_KEYS, "ts")]


def _o_schema(row_schema: T.StructType) -> T.StructType:
    """The ``o`` document: full-image fields + $set/$unset operators."""
    cells = [f for f in row_schema.fields if f.name not in (*MERGE_KEYS, "ts")]
    return T.StructType(
        [
            *[T.StructField(f.name, f.dataType, True) for f in row_schema.fields
              if f.name != "ts"],
            T.StructField(
                "$set",
                T.StructType([T.StructField(f.name, f.dataType, True)
                              for f in cells]),
                True,
            ),
            T.StructField(
                "$unset",
                T.StructType([T.StructField(f.name, T.BooleanType(), True)
                              for f in cells]),
                True,
            ),
        ]
    )


def _value_schema(row_schema: T.StructType) -> T.StructType:
    ts = T.StructType(
        [
            T.StructField(
                "$timestamp",
                T.StructType(
                    [
                        T.StructField("t", T.LongType(), True),
                        T.StructField("i", T.LongType(), True),
                    ]
                ),
                True,
            )
        ]
    )
    keys = T.StructType(
        [T.StructField(k, f.dataType, True)
         for k in MERGE_KEYS
         for f in row_schema.fields if f.name == k]
    )
    return T.StructType(
        [
            T.StructField("ts", ts, True),
            T.StructField("op", T.StringType(), True),
            T.StructField("ns", T.StringType(), True),
            T.StructField("o", _o_schema(row_schema), True),
            T.StructField("o2", keys, True),
        ]
    )


MONGO_VALUE_SCHEMA = _value_schema(_ROW_SCHEMA)

_OP_IN = {"i": "I", "u": "U", "d": "D"}


def parse_mongo_oplog(
    raw: DataFrame,
    value_col: str = "value",
    table: str | None = None,
    payload_schema: T.StructType | None = None,
    set_cols_col: str = "set_cols",
) -> DataFrame:
    """Oplog JSON strings → canonical change events WITH the set-columns
    mask (always emitted — this wire format is inherently sparse; apply
    through the cell-level merge, never whole-row LWW).

    - op: i → I, u → U, d → D; n/c/unknown → null op (dead letter).
    - lsn: the BSON-Timestamp composite t·2³² + i (oplog total order);
      an entry whose lsn would overflow a long → null op (dead letter).
    - ts: second-granularity (the lsn tiebreak carries intra-second
      order — the documented coarsening contract).
    - row image: ``o`` for i/d; for u, ``$set`` values with ``$unset``
      fields as explicit null writes, or the full replacement document
      when neither operator is present.
    - pass ``table`` to keep only one collection (``ns`` is
      "db.collection"; matched on the collection part, null-safe).
    - ``payload_schema`` extends the projected row shape (schema
      evolution): new columns parse inside o/$set/$unset.
    """
    rs = payload_schema or _ROW_SCHEMA
    cells = [f for f in rs.fields if f.name not in (*MERGE_KEYS, "ts")]
    out = raw.filter(F.col(value_col).isNotNull()).select(
        F.from_json(F.col(value_col), _value_schema(rs)).alias("_env")
    )
    p = F.col("_env")
    if table is not None:
        coll = F.substring_index(p["ns"], ".", -1)
        out = out.filter(p["ns"].isNull() | (coll == table))
    op_col: Column = F.lit(None).cast("string")
    for k, v in _OP_IN.items():
        op_col = F.when(p["op"] == k, F.lit(v)).otherwise(op_col)
    t, i = p["ts"]["$timestamp"]["t"], p["ts"]["$timestamp"]["i"]
    # t·2³² + i fits a signed long only for t in [0, 2³¹) (t ≥ 2³¹ is after
    # 2038) and i in [0, 2³²): any other entry gets a null op (dead letter),
    # and the guards keep ANSI overflow from failing the whole batch
    fits = t.between(0, (1 << 31) - 1) & i.between(0, (1 << 32) - 1)
    op_col = F.when(~fits, F.lit(None).cast("string")).otherwise(op_col)
    lsn = F.when(fits, t * F.lit(1 << 32) + i)
    sets, unsets = p["o"]["$set"], p["o"]["$unset"]
    # a u-record with neither operator is a full replacement document
    is_patch = (p["op"] == "u") & (sets.isNotNull() | unsets.isNotNull())

    def cell(f: T.StructField) -> Column:
        patched = F.when(
            F.coalesce(unsets[f.name], F.lit(False)), F.lit(None).cast(f.dataType)
        ).otherwise(sets[f.name])
        return F.when(is_patch, patched).otherwise(p["o"][f.name]).alias(f.name)

    def wrote(f: T.StructField) -> Column:
        return F.when(
            is_patch,
            sets[f.name].isNotNull()
            | F.coalesce(unsets[f.name], F.lit(False)),
        ).otherwise(F.lit(True))

    mask = F.filter(
        F.array(
            *[
                F.when(wrote(f), F.lit(f.name)).otherwise(
                    F.lit(None).cast("string")
                )
                for f in cells
            ]
        ),
        lambda x: x.isNotNull(),
    )
    key_cols = [
        F.coalesce(p["o2"][k], p["o"][k]).alias(k) for k in MERGE_KEYS
    ]
    return out.select(
        op_col.alias("op"),
        lsn.alias("lsn"),
        F.timestamp_seconds(F.when(t.between(0, (1 << 32) - 1), t)).alias("ts"),
        *key_cols,
        *[cell(f) for f in cells],
        mask.alias(set_cols_col),
    )


def to_mongo_oplog(
    changes: DataFrame,
    value_col: str = "value",
    database: str = "app",
    table: str = "transcripts",
    set_col: str = "set_cols",
) -> DataFrame:
    """Canonical change events → oplog JSON strings (deterministic
    fixture renderer; inverse of ``parse_mongo_oplog`` up to the
    documented second-granularity ts). The BSON ordinal ``i`` is the lsn
    itself, so the composite (t, i) preserves lsn order exactly; an lsn
    outside the ordinal's unsigned 32-bit range [0, 2³²) fails the query
    (``raise_error``) rather than wrapping into a reordered ordinal.

    If the input carries ``set_col``, updates render as sparse
    ``$set``/``$unset`` patches (null-valued set columns become
    ``$unset`` — the Mongo idiom for set-to-null); otherwise updates
    render as full replacement documents.
    """
    cells = [c for c in changes.columns
             if c not in ("op", "lsn", "ts", *MERGE_KEYS, set_col)]
    sparse = set_col in changes.columns
    ts_obj = F.struct(
        F.struct(
            # exact integer division, as in canal.py: past 2^53 micros
            # a double quotient rounds up to the next second
            F.expr("unix_micros(ts) div 1000000").alias("t"),
            F.when(
                F.col("lsn").between(0, (1 << 32) - 1) | F.col("lsn").isNull(),
                F.col("lsn"),
            ).otherwise(
                F.raise_error(F.concat(
                    F.lit("to_mongo_oplog: lsn outside the BSON ordinal range "
                          "[0, 2^32): "),
                    F.col("lsn").cast("string"),
                ))
            ).alias("i"),
        ).alias("$timestamp")
    )
    keys_doc = F.struct(*[F.col(k) for k in MERGE_KEYS])
    full_doc = F.struct(*[F.col(k) for k in MERGE_KEYS],
                        *[F.col(c) for c in cells])
    if sparse:
        def in_mask(c: str) -> Column:
            return F.array_contains(
                F.coalesce(F.col(set_col), F.array().cast("array<string>")),
                F.lit(c),
            )

        set_doc = F.struct(
            *[
                F.when(in_mask(c), F.col(c)).alias(c)  # null stays absent
                for c in cells
            ]
        )
        unset_doc = F.struct(
            *[
                F.when(in_mask(c) & F.col(c).isNull(), F.lit(True)).alias(c)
                for c in cells
            ]
        )
        u_doc = F.struct(set_doc.alias("$set"), unset_doc.alias("$unset"))
        o_doc = (
            F.when(F.col("op") == "D", F.to_json(keys_doc))
            .when(F.col("op") == "U", F.to_json(u_doc))
            .otherwise(F.to_json(full_doc))
        )
    else:
        o_doc = F.when(F.col("op") == "D", F.to_json(keys_doc)).otherwise(
            F.to_json(full_doc)
        )
    op_out = (
        F.when(F.col("op") == "D", F.lit("d"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("i"))
    )
    # assemble by string concat: o's shape varies per op (to_json needs
    # one static schema per expression, so each branch renders its own)
    head = F.to_json(
        F.struct(
            ts_obj.alias("ts"),
            op_out.alias("op"),
            F.lit(f"{database}.{table}").alias("ns"),
        )
    )
    o2 = F.when(F.col("op") == "U", F.concat(F.lit(',"o2":'), F.to_json(keys_doc))).otherwise(F.lit(""))
    line = F.concat(
        F.expr(f"substring({'_head'}, 1, length(_head) - 1)"),
        F.lit(',"o":'),
        F.col("_o"),
        o2,
        F.lit("}"),
    )
    return (
        changes.withColumn("_head", head)
        .withColumn("_o", o_doc)
        .select(line.alias(value_col))
    )
