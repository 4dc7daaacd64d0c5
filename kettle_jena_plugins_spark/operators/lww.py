"""Last-writer-wins reduction — the heart of the CDC apply.

Reference analogue: Group-and-Merge's ``OtherFieldAction.USE_LAST``
(OtherFieldAction.java:46, applied JenaGroupMergeStep.java:227-240), which the
reference resolves by *arrival order* over consecutive sorted rows
(isContinuation, JenaGroupMergeStep.java:381-407). We replace the implicit
arrival order with a declared total order ``(ts, lsn)`` (north rule) so replay
is deterministic under shuffling, out-of-order delivery, and duplicates.

Scale design:
- The default implementation is AGGREGATION-based (``max_by`` over an ordering
  struct), NOT window+row_number: hash aggregation gets map-side partial
  aggregation (partial ``max_by`` per input partition before the shuffle), so
  with u updates/key only ~n_keys rows cross the wire instead of all n_events.
  A window would sort entire key partitions and ship every row.
- Hot-key skew is absorbed by that same map-side partial aggregate: each hot
  key reaches its reducer as at most one row per map task, however many
  events hit it, so the apply path has no salting option.
  ``lww_reduce_salted`` is kept only as a reference formulation (like
  ``lww_reduce_window``): ``lww_reduce`` on (key, salt), then on key, which
  the ``cdc_lww_state_salted`` query cross-checks against the oracle.
- Determinism: the ordering struct is (ts, lsn, op) — lsn is unique per event
  in a well-formed log; duplicates (same lsn redelivered) carry identical
  payloads, and `op` breaks any residual tie totally for byte-identical replay.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..model import LWW_ORDER, MERGE_KEYS


def lww_reduce(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
) -> DataFrame:
    """One row per key: the event that wins under the (ts, lsn) total order.

    Output columns: keys + every non-key column of the input (including op,
    lsn, ts) taken from the winning event.

    Formulation: ``max(struct(ts, lsn, op, <payload...>))`` — ONE struct whose
    leading fields are the total order; lexicographic struct comparison makes
    the payload ride along for free. Measured ~4x faster than
    ``max_by(payload_struct, order_struct)`` at high thread counts (half the
    struct allocations per row), and any residual tie (malformed logs with
    duplicate (ts,lsn,op)) resolves deterministically by payload comparison.
    """
    payload = [c for c in changes.columns if c not in keys]
    lead = [*order, "op"]
    rest = [c for c in payload if c not in lead]
    winner = F.max(
        F.struct(*[F.col(c) for c in lead], *[F.col(c) for c in rest])
    ).alias("w")
    agg = changes.groupBy(*[F.col(k) for k in keys]).agg(winner)
    return agg.select(*keys, *[F.col(f"w.{c}").alias(c) for c in payload])


def lww_reduce_salted(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
    salt_buckets: int = 16,
) -> DataFrame:
    """Reference two-phase formulation of ``lww_reduce``: reduce on (keys,
    salt), then on keys. Equal to ``lww_reduce`` because the winner is a max
    over a total order (associative); not used by the apply path, whose
    map-side partial aggregate already absorbs hot keys."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in order]), F.lit(salt_buckets))
    phase1 = lww_reduce(
        changes.withColumn("__salt", salt), keys=(*keys, "__salt"), order=order
    ).drop("__salt")
    return lww_reduce(phase1, keys=keys, order=order)


def lww_reduce_partial(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
    set_col: str = "set_cols",
    payload: Sequence[str] | None = None,
    emit_set_col: str | None = None,
) -> DataFrame:
    """Column-level LWW for PARTIAL row images (sparse updates).

    The whole-row forms above assume every U event carries the full row
    image — true for Debezium/Maxwell/DMS, but not for sources that ship
    only the touched columns (Mongo oplog ``$set`` patches, Cassandra
    cell writes, Debezium partial images, wal2json without REPLICA
    IDENTITY FULL). Contract here: each event carries ``set_col`` — an
    array of the payload column names this event actually WROTE.
    Columns absent from the array are "untouched" regardless of their
    (null) value; an explicit null write lists the column with a null
    value. Reference analogue: this is Group-and-Merge's USE_LAST
    (OtherFieldAction.java:46) applied per FIELD instead of per row —
    the reference's per-column policy map (JenaGroupMergeStepMeta's
    field/action pairs) already scopes last-writer to single columns.

    Semantics (the Cassandra cell model):
    - a D event is a row tombstone shadowing every cell written before
      it in the (ts, lsn) total order;
    - each cell's value is its latest set-write, if newer than the
      tombstone;
    - the row exists iff any I/U event is newer than the latest
      tombstone (so a post-delete partial update revives the row with
      only its own cells — older cells stay dead).

    Scale design: ONE hash aggregation — per-column filtered
    ``max(struct(order, value))`` plus the tombstone/liveness maxes —
    so map-side partial aggregation applies to every cell column and
    only ~n_keys rows cross the wire, exactly like lww_reduce (which is
    also what absorbs hot-key skew). No window, no second shuffle, no
    Python.

    Output: ONE row per key — keys, ``op`` ('U' if the key is live, 'D'
    if its latest action is a tombstone), the order columns of the
    winning event, and the resolved cells (null for dead keys). The
    tombstone rows are what lets the lake sink (merge_batch
    partial_set_col) retain delete markers; ``lww_state_partial`` below
    is the deletes-dropped final-state view.

    ``emit_set_col``: also emit the REDUCED batch-level mask — the cells
    this key's visible (post-tombstone) writes actually set. A MERGE
    sink needs it to know which target cells to overwrite vs keep
    (targets/iceberg.py merge_into_partial_sql).
    """
    if payload is None:
        payload = [
            c
            for c in changes.columns
            if c not in (*keys, *order, "op", set_col)
        ]
    ord_s = F.struct(*[F.col(c) for c in order])
    aggs = [
        F.max(F.when(F.col("op") == "D", ord_s)).alias("__del"),
        F.max(F.when(F.col("op") != "D", ord_s)).alias("__live"),
    ]
    for c in payload:
        wrote = (F.col("op") != "D") & F.array_contains(
            F.col(set_col), F.lit(c)
        )
        # order leads the struct so the max IS the latest write; the
        # value rides along (same trick as lww_reduce, per column)
        aggs.append(
            F.max(
                F.when(
                    wrote, F.struct(ord_s.alias("o"), F.col(c).alias("v"))
                )
            ).alias(f"__w_{c}")
        )
    g = changes.groupBy(*[F.col(k) for k in keys]).agg(*aggs)

    def visible(o):
        return F.col("__del").isNull() | (o > F.col("__del"))

    live = F.col("__live").isNotNull() & visible(F.col("__live"))
    cells = [
        F.when(
            live
            & F.col(f"__w_{c}").isNotNull()
            & visible(F.col(f"__w_{c}")["o"]),
            F.col(f"__w_{c}")["v"],
        ).alias(c)
        for c in payload
    ]
    winner = F.when(live, F.col("__live")).otherwise(F.col("__del"))
    extra = []
    if emit_set_col is not None:
        written = [
            F.when(
                live
                & F.col(f"__w_{c}").isNotNull()
                & visible(F.col(f"__w_{c}")["o"]),
                F.lit(c),
            ).otherwise(F.lit(None).cast("string"))
            for c in payload
        ]
        extra = [
            F.filter(F.array(*written), lambda x: x.isNotNull()).alias(
                emit_set_col
            )
        ]
    return g.select(
        *keys,
        F.when(live, F.lit("U")).otherwise(F.lit("D")).alias("op"),
        *[winner[c].alias(c) for c in order],
        *cells,
        *extra,
    )


def lww_state_partial(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
    set_col: str = "set_cols",
    payload: Sequence[str] | None = None,
) -> DataFrame:
    """Final table state implied by a PARTIAL-image change log: cell-level
    LWW per key (see lww_reduce_partial), dead keys dropped. Output:
    keys, resolved cells, and the order columns of the latest live
    event — the partial-image analogue of lww_state."""
    if payload is None:
        payload = [
            c
            for c in changes.columns
            if c not in (*keys, *order, "op", set_col)
        ]
    reduced = lww_reduce_partial(
        changes, keys=keys, order=order, set_col=set_col, payload=payload
    )
    return reduced.filter(F.col("op") != "D").select(
        *keys, *payload, *order
    )


def lww_reduce_window(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
) -> DataFrame:
    """Window+row_number formulation — semantically identical to lww_reduce;
    kept as the cross-check implementation for tests (and because it is the
    literal Spark encoding of USE_LAST the survey documents)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys).orderBy(
        *[F.col(c).desc() for c in order], F.col("op").desc()
    )
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def lww_state(
    changes: DataFrame,
    keys: Sequence[str] = MERGE_KEYS,
    order: Sequence[str] = LWW_ORDER,
    salted: bool = False,
) -> DataFrame:
    """Final table state implied by a change log: LWW per key, deletes dropped.

    This is the one-shot (bounded) equivalent of replaying the log through the
    incremental MERGE sink — convergence between the two is the core
    correctness invariant (tests/test_merge_target.py).
    """
    reduced = (
        lww_reduce_salted(changes, keys, order)
        if salted
        else lww_reduce(changes, keys, order)
    )
    return reduced.filter(F.col("op") != "D")
