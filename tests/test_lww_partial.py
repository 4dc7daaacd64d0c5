"""Column-level LWW over partial row images (operators/lww.py
lww_state_partial): the Cassandra cell model — per-cell last-writer,
row tombstones shadowing older cells, post-delete revival with only the
reviving event's cells. Mirrors the reference's per-FIELD USE_LAST
policy map (OtherFieldAction.java:46 scoped by JenaGroupMergeStepMeta's
field/action pairs) under a declared (ts, lsn) total order.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA
from kettle_jena_plugins_spark.operators.lww import lww_state_partial

T0 = dt.datetime(2026, 1, 1)

PARTIAL_SCHEMA = T.StructType(
    [*CHANGE_EVENT_SCHEMA.fields,
     T.StructField("set_cols", T.ArrayType(T.StringType()), True)]
)


def ev(op, lsn, ts_off, conv, turn, role=None, text=None, tool=None,
       set_cols=()):
    return (op, lsn, T0 + dt.timedelta(seconds=ts_off), conv, turn,
            role, text, tool, list(set_cols))


def make(spark, rows):
    return spark.createDataFrame(rows, PARTIAL_SCHEMA)


def rows_by_key(df):
    return {
        (r["conv_id"], r["turn_idx"]):
            (r["role"], r["text"], r["tool"], r["lsn"])
        for r in df.collect()
    }


def test_cells_accumulate_across_partial_updates(spark):
    """Each update contributes only its listed cells; untouched cells
    keep their older values (sparse nulls are NOT writes)."""
    got = rows_by_key(lww_state_partial(make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="hello", tool=None,
           set_cols=("role", "text", "tool")),
        ev("U", 2, 2, "a", 0, text="edited", set_cols=("text",)),
        ev("U", 3, 3, "a", 0, tool="calc", set_cols=("tool",)),
    ])))
    assert got == {("a", 0): ("user", "edited", "calc", 3)}


def test_explicit_null_write_differs_from_untouched(spark):
    """A column listed in set_cols with a null value IS a write (the
    $unset case): it must null the cell, not be skipped."""
    got = rows_by_key(lww_state_partial(make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="hello", tool="calc",
           set_cols=("role", "text", "tool")),
        ev("U", 2, 2, "a", 0, tool=None, set_cols=("tool",)),
    ])))
    assert got == {("a", 0): ("user", "hello", None, 2)}


def test_tombstone_shadows_older_cells_revival_is_sparse(spark):
    """D kills every cell written before it; a later partial U revives
    the row with ONLY its own cells — pre-delete cells stay dead."""
    got = rows_by_key(lww_state_partial(make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="old", tool="calc",
           set_cols=("role", "text", "tool")),
        ev("D", 2, 2, "a", 0),
        ev("U", 3, 3, "a", 0, text="revived", set_cols=("text",)),
        # second key: delete is the latest action → key dropped
        ev("I", 4, 4, "b", 1, role="user", text="x",
           set_cols=("role", "text")),
        ev("D", 5, 5, "b", 1),
    ])))
    assert got == {("a", 0): (None, "revived", None, 3)}


def test_out_of_order_and_duplicate_delivery(spark):
    """Delivery order is irrelevant (declared total order) and exact
    duplicate events are absorbed (max is idempotent)."""
    base = [
        ev("U", 3, 3, "a", 0, text="late", set_cols=("text",)),
        ev("I", 1, 1, "a", 0, role="user", text="first",
           set_cols=("role", "text", "tool")),
        ev("U", 2, 2, "a", 0, role="assistant", set_cols=("role",)),
    ]
    got = rows_by_key(lww_state_partial(make(spark, base + base[:2])))
    assert got == {("a", 0): ("assistant", "late", None, 3)}


def test_duplicate_order_d_u_tie_break_diverges_from_whole_row(spark):
    """A D and a U sharing one (ts, lsn) — a malformed log — resolve
    differently by form, pinned here as-is: the whole-row reduce
    (lww_reduce) lets the U win through its ``op`` tiebreak ('U' > 'D');
    the cell reduce's strict visibility test (a write is visible only if
    NEWER than the tombstone) lets the D win."""
    from kettle_jena_plugins_spark.operators.lww import lww_reduce

    rows = [
        ev("I", 1, 1, "a", 0, role="user", text="hello",
           set_cols=("role", "text", "tool")),
        ev("D", 2, 2, "a", 0),
        ev("U", 2, 2, "a", 0, text="edited", set_cols=("text",)),
    ]
    whole = lww_reduce(make(spark, rows).drop("set_cols")).collect()
    assert [(r["op"], r["lsn"], r["text"]) for r in whole] == [
        ("U", 2, "edited")
    ]
    assert rows_by_key(lww_state_partial(make(spark, rows))) == {}


def test_single_shuffle_with_map_side_combine(spark):
    """Scale pin, like the whole-row LWW's: every per-cell aggregate must
    run PARTIAL below ONE key Exchange — shuffle volume stays ~#keys, and
    adding cell columns never adds shuffles."""
    events = make(spark, [
        ev("I" if i % 4 else "D", i, i, f"c{i % 3}", i % 2,
           role="user", text=f"t{i}",
           set_cols=() if i % 4 == 0 else ("role", "text"))
        for i in range(1, 60)
    ])
    plan = (
        lww_state_partial(events)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "partial_max" in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert plan.index("partial_max") > plan.index("Exchange hashpartitioning")


def test_matches_python_cell_reference_on_random_streams(spark):
    """Randomized oracle: seeded sparse streams (random set_cols subsets,
    explicit null writes, coarse-ts collisions, injected duplicates,
    shuffled delivery) must resolve to exactly what a pure-Python cell
    reducer computes — independent of the DuckDB oracle formulation."""
    import random

    cols = ("role", "text", "tool")
    for seed in (11, 12, 13):
        rng = random.Random(seed)
        events = []
        for lsn in range(400):
            conv = f"c{rng.randrange(6)}"
            turn = rng.randrange(4)
            op = rng.choice("IUUUD")
            ts = T0 + dt.timedelta(seconds=rng.randrange(60))
            if op == "D":
                sets, vals = (), {}
            elif op == "I":
                sets = cols
                vals = {c: f"{c[0]}{lsn}" for c in cols}
            else:
                sets = tuple(c for c in cols if rng.random() < 0.5)
                # ~1 in 5 set-writes is an explicit null ($unset)
                vals = {
                    c: None if rng.random() < 0.2 else f"{c[0]}{lsn}"
                    for c in sets
                }
            events.append((op, lsn, ts, conv, turn, vals.get("role"),
                           vals.get("text"), vals.get("tool"), list(sets)))
        dups = [events[rng.randrange(len(events))] for _ in range(50)]
        stream = events + dups
        rng.shuffle(stream)

        cells: dict = {}
        del_o: dict = {}
        live_o: dict = {}
        for op, lsn, ts, conv, turn, role, text, tool, sets in events:
            k, o = (conv, turn), (ts, lsn)
            if op == "D":
                del_o[k] = max(del_o.get(k, o), o)
                continue
            live_o[k] = max(live_o.get(k, o), o)
            for c, v in zip(cols, (role, text, tool)):
                if c in sets:
                    cur = cells.get((k, c))
                    if cur is None or o > cur[0]:
                        cells[(k, c)] = (o, v)
        expected = {}
        for k, lo in live_o.items():
            d = del_o.get(k)
            if d is not None and lo <= d:
                continue
            row = []
            for c in cols:
                w = cells.get((k, c))
                row.append(w[1] if w and (d is None or w[0] > d) else None)
            expected[k] = (*row, lo[1])

        got = rows_by_key(lww_state_partial(make(spark, stream)))
        assert got == expected, f"seed {seed}"
