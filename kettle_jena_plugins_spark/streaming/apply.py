"""The CDC apply pipeline: validate → evolve → normalize → LWW-reduce → MERGE.

Batch core (`apply_batch`) + Structured Streaming wrapper (`run_stream`,
readStream → foreachBatch → checkpoint). This is the engine's equivalent of
the reference's whole .ktr pipeline (inject → create model → group-merge →
serialize, EndToEndIT.java:60-92), re-expressed as one micro-batch function.

Every sink takes the batch's raw events and reduces them itself
(``merge_batch``: whole-row ``lww_reduce``, or the cell-level
``lww_reduce_partial`` when ``partial_set_col`` is set), so there is one
``merge_batch`` call for every target. Text normalization is a JVM
expression in the batch's schema projection: no stage of the apply path
runs Python. Envelope input is parsed by
``parse_envelope``, which alone decides whether a dialect may or must carry
the set-columns mask.

Exactly-once: Structured Streaming checkpoints source offsets; the target's
batch-id gate makes the sink idempotent, so replay of a failed/killed batch
converges to byte-identical state (tests/test_stream_resume.py).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..functions.textnorm import normalize_text
from ..model import CHANGE_EVENT_SCHEMA
from ..operators.validate import validate_split
from ..plans.evolution import ENVELOPE_COLS, evolved_schema


@dataclass
class CDCConfig:
    normalize: bool = True
    dead_letter_dir: str | None = None  # stream=s<sha1>/batch=<id> dirs
    metrics_path: str | None = None  # jsonl, one line per batch
    # the batch's events carry PARTIAL row images: the named array column
    # lists the payload columns each event wrote (wal2json column arrays,
    # Mongo $set patches). Routes the sink through its cell-level merge
    # (merge_batch partial_set_col).
    partial_set_col: str | None = None


def _append_metrics(path: str, record: dict) -> None:
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps(record, default=str) + "\n")


def apply_batch(
    target,
    events: DataFrame,
    batch_id: int,
    cfg: CDCConfig | None = None,
    stream_id: str = "default",
):
    """Apply one micro-batch of change events to the target table.

    `stream_id` scopes the idempotence gate to one checkpoint lineage (see
    ParquetLakeTarget.merge_batch)."""
    cfg = cfg or CDCConfig()

    # 0. input-parallelism floor. WAL segments arrive as few large files
    # (binlog shipping), so the scan often yields far fewer partitions than
    # the cluster has cores — the narrow phase (validate → partial LWW agg)
    # would then run nearly serial. Repartition to 2×defaultParallelism
    # when the scan is coarser than that.
    target_p = events.sparkSession.sparkContext.defaultParallelism * 2
    # JVM-side partition probe: df.rdd would build the full Python-conversion
    # RDD (serializer plan + pickling setup) just to read a count
    n_parts = events._jdf.queryExecution().toRdd().getNumPartitions()
    if n_parts < target_p:
        events = events.repartition(target_p)

    # 1. validation split (SHACL analogue): bad rows → dead letter
    ok, dead = validate_split(events)
    n_dead = 0
    if cfg.dead_letter_dir is not None:
        dead = dead.cache()
        n_dead = dead.count()
        if n_dead:
            # one directory per (lineage, batch), overwritten: a replayed
            # batch rewrites its dead letters instead of appending them
            # again. The "s" prefix keeps the inferred partition a string.
            lineage = hashlib.sha1(stream_id.encode()).hexdigest()[:12]
            dead.write.mode("overwrite").parquet(
                f"{cfg.dead_letter_dir}/stream=s{lineage}/batch={batch_id}"
            )
        dead.unpersist()

    # 2. schema evolution: ALTER before the merge plan is analyzed
    tgt_schema = target.schema()
    # the set-columns mask is envelope metadata, not payload — it must
    # never be ALTERed into the target
    batch_schema = StructType(
        [f for f in ok.schema.fields if f.name != cfg.partial_set_col]
    )
    new_schema = evolved_schema(tgt_schema, batch_schema)
    if new_schema is not None:
        target.evolve_schema(new_schema)
        tgt_schema = new_schema
    # align batch to the (possibly evolved) target payload set: missing
    # payload columns → null (late producers), key/ts casts to target types.
    # Text is normalized here, BEFORE the sink's reduce: normalize is
    # idempotent and winners are ordered by (ts, lsn, op), so the winners
    # are those of a raw-payload reduce, except among events tied exactly
    # on (ts, lsn, op) (a malformed log): their tie is broken on the
    # normalized payloads.
    cols = [F.col(c) for c in ENVELOPE_COLS]
    for f in tgt_schema.fields:
        if f.name in ok.columns:
            c = F.col(f.name).cast(f.dataType)
            if cfg.normalize and f.name == "text":
                c = normalize_text(c)
            cols.append(c.alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    if cfg.partial_set_col is not None:
        # the set-columns mask must survive the target-schema projection
        cols.append(F.col(cfg.partial_set_col))
    ok = ok.select(*cols)

    # 3. idempotent MERGE commit: the sink LWW-reduces the raw events
    #    (cell-level for partial images; hot keys are absorbed by the
    #    reduce's map-side partial aggregate)
    res = target.merge_batch(
        ok, batch_id, stream_id=stream_id, partial_set_col=cfg.partial_set_col
    )
    res.extra["dead_letter_rows"] = n_dead

    if cfg.metrics_path:
        _append_metrics(
            cfg.metrics_path,
            {
                "batch_id": batch_id,
                "applied": res.applied,
                **res.counts(),
                "dead_letter_rows": n_dead,
                "snapshot_version": res.snapshot_version,
            },
        )
    return res


def run_stream(
    spark: SparkSession,
    events_dir: str,
    target,
    checkpoint_dir: str,
    cfg: CDCConfig | None = None,
    schema=CHANGE_EVENT_SCHEMA,
    max_files_per_trigger: int | None = None,
    await_termination: bool = True,
    envelope_dialect: str | None = None,
    source_table: str | None = None,
    envelope_payload_schema=None,
):
    """Tail a directory of change-event parquet files (the WAL), applying each
    micro-batch via foreachBatch. availableNow drains everything present and
    stops — rerunning with the same checkpoint resumes after the last
    committed offset (kill/resume replay convergence).

    When ``envelope_dialect`` is set, ``events_dir`` holds raw JSON-lines
    wire-format files (a Kafka topic dump, a connector's file sink)
    instead of change-event parquet: each micro-batch streams through the
    dialect parser (sources/envelopes.py — a narrow scan-stage
    projection, so the stream plan stays one stage up to the sink) before
    the same validate/evolve/MERGE path. ``source_table`` filters
    multiplexed streams (Maxwell/wal2json/Canal). The parser emits the
    set-columns mask under ``cfg.partial_set_col`` and refuses a dialect
    that cannot carry one, or a sparse dialect without one. This is the
    streaming form of the CLI's ``ingest``; checkpoint/resume semantics
    are identical to the parquet WAL form."""
    cfg = cfg or CDCConfig()
    reader = spark.readStream
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if envelope_dialect is not None:
        from ..sources.envelopes import envelope_parser

        # resolved before reader.text lists events_dir, so a refused
        # dialect/table/mask raises first
        parse = envelope_parser(
            envelope_dialect,
            table=source_table,
            payload_schema=envelope_payload_schema,
            set_cols_col=cfg.partial_set_col,
        )
        stream = parse(reader.text(events_dir))
    else:
        stream = reader.schema(schema).parquet(events_dir)

    stream_id = os.path.abspath(checkpoint_dir)  # one lineage per checkpoint

    def _sink(df: DataFrame, batch_id: int) -> None:
        apply_batch(target, df, batch_id, cfg, stream_id=stream_id)

    q = (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q
