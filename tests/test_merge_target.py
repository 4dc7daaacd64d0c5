"""ParquetLakeTarget + apply_batch semantics: idempotence, LWW under
out-of-order/duplicate delivery, delete tombstones, schema evolution,
dead-letter split. Mirrors the reference's parameterized semantics tables
(JenaGroupMergeStepTest.java:55-830) for the CDC analogues in FIXTURES.md §3.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA, CHANGE_EVENT_SCHEMA_V2
from kettle_jena_plugins_spark.operators.lww import lww_reduce_partial, lww_state
from kettle_jena_plugins_spark.streaming.apply import CDCConfig, apply_batch
from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

T0 = dt.datetime(2026, 1, 1)


def ev(op, lsn, ts_off, conv, turn, role="user", text=None, tool=None):
    return (op, lsn, T0 + dt.timedelta(seconds=ts_off), conv, turn, role, text, tool)


def make_events(spark, rows, schema=CHANGE_EVENT_SCHEMA):
    return spark.createDataFrame(rows, schema)


@pytest.fixture(params=["cow", "mor"])
def target(spark, tmp_path, request):
    t = ParquetLakeTarget(
        spark, str(tmp_path / "tbl"), n_buckets=4, mode=request.param,
        compact_threshold=3,
    )
    t.create()
    yield t
    t.drop()


def state(t):
    return {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in t.read().collect()
    }


def test_insert_update_delete(spark, target):
    b0 = make_events(spark, [
        ev("I", 1, 1, "a", 0, text="hello"),
        ev("I", 2, 2, "a", 1, text="world"),
        ev("I", 3, 3, "b", 0, text="x"),
    ])
    apply_batch(target, b0, 0)
    b1 = make_events(spark, [
        ev("U", 4, 4, "a", 0, text="hello2"),
        ev("D", 5, 5, "b", 0),
    ])
    apply_batch(target, b1, 1)
    s = state(target)
    assert s[("a", 0)][1] == "hello2"
    assert ("b", 0) not in s
    assert s[("a", 1)][1] == "world"


def test_idempotent_replay(spark, target):
    b0 = make_events(spark, [ev("I", 1, 1, "a", 0, text="v1")])
    r0 = apply_batch(target, b0, 0)
    assert r0.applied
    # replay the same batch id with different (corrupt) content → no-op
    b0_corrupt = make_events(spark, [ev("U", 9, 9, "a", 0, text="corrupt")])
    r1 = apply_batch(target, b0_corrupt, 0)
    assert not r1.applied
    assert state(target)[("a", 0)][1] == "v1"


def test_out_of_order_and_duplicates_converge(spark, target):
    # newer event applied first; older + duplicate arrive in later batches
    apply_batch(target, make_events(spark, [ev("U", 10, 100, "a", 0, text="new")]), 0)
    r = apply_batch(
        target,
        make_events(spark, [
            ev("U", 5, 50, "a", 0, text="old"),      # late: loses LWW
            ev("U", 10, 100, "a", 0, text="new"),    # duplicate delivery
        ]),
        1,
    )
    assert state(target)[("a", 0)][1] == "new"
    assert r.late_events == 2  # both at-or-below the bucket watermark


def test_late_update_cannot_resurrect_delete(spark, target):
    apply_batch(target, make_events(spark, [ev("I", 1, 1, "a", 0, text="v")]), 0)
    apply_batch(target, make_events(spark, [ev("D", 9, 90, "a", 0)]), 1)
    # update older than the delete arrives afterwards
    apply_batch(target, make_events(spark, [ev("U", 5, 50, "a", 0, text="zombie")]), 2)
    assert ("a", 0) not in state(target)


def test_delete_then_reinsert_single_batch(spark, target):
    # I,U,D,I for one key within one batch → final op wins (I at lsn 4)
    apply_batch(
        target,
        make_events(spark, [
            ev("I", 1, 1, "a", 0, text="v1"),
            ev("U", 2, 2, "a", 0, text="v2"),
            ev("D", 3, 3, "a", 0),
            ev("I", 4, 4, "a", 0, text="v3"),
        ]),
        0,
    )
    assert state(target)[("a", 0)][1] == "v3"


def test_lww_tie_on_ts_broken_by_lsn(spark, target):
    apply_batch(
        target,
        make_events(spark, [
            ev("U", 7, 100, "a", 0, text="lsn7"),
            ev("U", 8, 100, "a", 0, text="lsn8"),
        ]),
        0,
    )
    assert state(target)[("a", 0)][1] == "lsn8"


def test_dead_letter_split(spark, target, tmp_path):
    dl = str(tmp_path / "dead")
    cfg = CDCConfig(dead_letter_dir=dl, normalize=False)
    r = apply_batch(
        target,
        make_events(spark, [
            ev("I", 1, 1, "a", 0, text="ok"),
            ("X", 2, T0, "a", 1, "user", "badop", None),
            ("I", 3, T0, None, 2, "user", "nullkey", None),
        ]),
        0,
        cfg,
    )
    assert r.extra["dead_letter_rows"] == 2
    assert set(state(target)) == {("a", 0)}
    dead = spark.read.parquet(dl)
    assert dead.count() == 2
    msgs = {r["error_msg"] for r in dead.collect()}
    assert msgs == {"bad_op", "null_key:conv_id"}


def test_replayed_batch_writes_its_dead_letters_once(spark, target, tmp_path):
    """Dead letters are written before the sink's replay gate, so they
    must be idempotent on their own: a batch_id applied twice leaves its
    3 dead letters once, and a later batch adds its own beside them."""
    dl = str(tmp_path / "dead")
    cfg = CDCConfig(dead_letter_dir=dl, normalize=False)
    rows = [ev("I", 1, 1, "a", 0, text="ok")] + [
        ("X", 2 + k, T0, "a", 1 + k, "user", "badop", None) for k in range(3)
    ]
    first = apply_batch(target, make_events(spark, rows), 0, cfg)
    replay = apply_batch(target, make_events(spark, rows), 0, cfg)
    assert (first.applied, replay.applied) == (True, False)
    assert spark.read.parquet(dl).count() == 3
    apply_batch(target, make_events(spark, rows[1:2]), 1, cfg)
    dead = spark.read.parquet(dl)
    assert sorted(r["batch"] for r in dead.collect()) == [0, 0, 0, 1]
    assert {r["stream"][0] for r in dead.collect()} == {"s"}


def test_schema_evolution_add_column_and_widen(spark, target):
    apply_batch(target, make_events(spark, [ev("I", 1, 1, "a", 0, text="v1")]), 0)
    v2 = spark.createDataFrame(
        [("U", 2, T0 + dt.timedelta(seconds=2), "a", 2**40, "user", "v2", None,
          '{"m":1}')],
        CHANGE_EVENT_SCHEMA_V2,
    )
    apply_batch(target, v2, 1)
    tschema = {f.name: f.dataType.simpleString() for f in target.schema().fields}
    assert tschema["tool_meta"] == "string"
    assert tschema["turn_idx"] == "bigint"
    rows = {(r["conv_id"], r["turn_idx"]): r for r in target.read().collect()}
    assert rows[("a", 2**40)]["tool_meta"] == '{"m":1}'
    assert rows[("a", 0)]["tool_meta"] is None  # old rows aligned with null


def test_normalization_applied(spark, target):
    apply_batch(
        target,
        make_events(spark, [ev("I", 1, 1, "a", 0, text="  héllo\t\tworld ")]),
        0,
    )
    assert state(target)[("a", 0)][1] == "héllo world"  # NFC + ws collapse


def test_mor_compaction_preserves_state(spark, tmp_path):
    """MOR: layer stacks grow per batch, compact inline past the threshold,
    and state is identical before/after compaction (tombstones retained)."""
    t = ParquetLakeTarget(
        spark, str(tmp_path / "mor"), n_buckets=2, mode="mor", compact_threshold=3
    )
    t.create()
    for i in range(5):
        t_events = [ev("U", 10 * i + j, 10 * i + j, "a", j, text=f"v{i}")
                    for j in range(3)]
        t_events.append(ev("D", 10 * i + 9, 10 * i + 9, "b", i))
        apply_batch(t, make_events(spark, t_events), i, CDCConfig(normalize=False))
    layer_counts = [len(e["layers"]) for e in t.manifest()["buckets"].values()]
    assert max(layer_counts) <= 4  # inline compaction bounded the stacks
    before = sorted(tuple(r) for r in t.read().collect())
    assert t.compact() >= 0
    after = sorted(tuple(r) for r in t.read().collect())
    assert before == after
    assert {r[0] for r in after} == {"a"}  # b's keys all deleted
    assert [r for r in after if r[1] == 0][0][3] == "v4"  # last writer won
    t.drop()


def test_mor_whole_row_merge_below_threshold_is_one_job(spark, tmp_path, spark_jobs):
    """The whole-row merge's only Spark action is the delta write: batch
    counts and per-bucket watermarks ride it via observe — no stats job,
    no footer read, no target read, no cache."""
    t = ParquetLakeTarget(
        spark, str(tmp_path / "mor"), n_buckets=2, mode="mor", compact_threshold=3
    )
    t.create()
    apply_batch(t, make_events(spark, [ev("I", 1, 1, "a", 0, text="v0")]), 0)
    batch = make_events(spark, [
        ev("U", 2, 2, "a", 0, text="v1"),
        ev("I", 3, 3, "b", 1, text="w"),
        ev("D", 4, 4, "c", 2),
    ])
    # adaptive execution submits each shuffle stage as its own job; with it
    # off, one job is one action
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with spark_jobs() as jobs:
            res = t.merge_batch(batch, 1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs["n"] == 1
    assert res.buckets_compacted == 0 and res.events_in == 3
    t.drop()


def test_apply_batch_whole_row_lake_job_count(spark, tmp_path, spark_jobs):
    """apply_batch adds no Spark job of its own to a small whole-row lake
    batch: validation, evolution and alignment are lazy, and the
    input-parallelism floor probes partitions without an action."""
    t = ParquetLakeTarget(
        spark, str(tmp_path / "mor"), n_buckets=2, mode="mor", compact_threshold=3
    )
    t.create()
    apply_batch(t, make_events(spark, [ev("I", 1, 1, "a", 0, text="v0")]), 0)
    batch = make_events(spark, [
        ev("U", 2, 2, "a", 0, text="v1"),
        ev("I", 3, 3, "b", 1, text="w"),
        ev("D", 4, 4, "c", 2),
    ])
    # adaptive execution submits each shuffle stage as its own job; with it
    # off, one job is one action
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        with spark_jobs() as jobs:
            res = apply_batch(t, batch, 1)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert jobs["n"] == 1
    assert res.applied and res.events_in == 3
    t.drop()


def test_cow_and_mor_report_equal_batch_counts(spark, tmp_path):
    """One merge path: the mode only sets the compaction threshold, so both
    modes report the same counts for the same batch sequence — including a
    loser with a higher lsn than its key's winner (the watermark is the
    max WRITTEN lsn) and an empty batch."""
    batches = [
        [
            ev("I", 1, 1, "a", 0, text="x"),
            ev("U", 9, 0, "a", 0, text="older-ts"),  # loses on ts
            ev("I", 2, 2, "a", 1),
            ev("U", 3, 3, "a", 0, text="y"),
        ],
        [
            ev("D", 4, 4, "a", 1),
            ev("U", 2, 2, "a", 0, text="late"),
            ev("I", 5, 5, "b", 0),
        ],
        [],
        [ev("U", 6, 6, "b", 0, text="z"), ev("U", 6, 6, "b", 0, text="z")],
    ]
    counts = {}
    for mode in ("cow", "mor"):
        t = ParquetLakeTarget(
            spark, str(tmp_path / mode), n_buckets=1, mode=mode,
            compact_threshold=3,
        )
        t.create()
        counts[mode] = []
        for i, rows in enumerate(batches):
            r = apply_batch(
                t, make_events(spark, rows), i, CDCConfig(normalize=False)
            )
            counts[mode].append(
                (r.events_in, r.keys_upserted, r.keys_deleted, r.late_events)
            )
        t.drop()
    assert counts["cow"] == counts["mor"]
    # only lsn 2 is at-or-below the bucket watermark 3 (a0's winner), not 9
    assert counts["mor"][1][3] == 1
    assert counts["mor"][2] == (0, 0, 0, 0)


def test_watermarks_are_max_written_lsn_per_bucket(spark, tmp_path):
    """After every batch, each bucket's watermark is the max _lsn over the
    rows written to it (all layers, unresolved) — not the max batch lsn —
    and the key counts match the new layer's row count. Covers a loser
    with a higher lsn than its key's winner, a delete, a partial-image
    batch and an empty batch."""
    from pyspark.sql import types as T

    t = ParquetLakeTarget(
        spark, str(tmp_path / "tbl"), n_buckets=4, mode="mor",
        compact_threshold=100,
    )
    t.create()
    partial_schema = T.StructType(
        [*CHANGE_EVENT_SCHEMA.fields,
         T.StructField("set_cols", T.ArrayType(T.StringType()))]
    )
    whole = CDCConfig(normalize=False)
    batches = [
        (make_events(spark, [
            ev("I", 1, 1, "a", 0, text="x"),
            ev("U", 9, 0, "a", 0, text="older-ts"),  # loses on ts
            ev("I", 2, 2, "b", 0),
            ev("I", 3, 3, "c", 1),
            ev("I", 4, 4, "d", 2),
        ]), whole),
        (make_events(spark, [ev("D", 5, 5, "b", 0)]), whole),
        (make_events(spark, [
            (*ev("U", 6, 6, "a", 0, text="cell"), ["text"]),
            (*ev("U", 7, 7, "e", 0, role="bot"), ["role"]),
        ], partial_schema), CDCConfig(normalize=False, partial_set_col="set_cols")),
        (make_events(spark, []), whole),
    ]

    def layer_files(m):
        return {
            f for e in m["buckets"].values() for layer in e["layers"]
            for f in layer["files"]
        }

    for i, (batch, cfg) in enumerate(batches):
        before = layer_files(t.manifest())
        res = apply_batch(t, batch, i, cfg)
        new_files = sorted(layer_files(t.manifest()) - before)
        rows = spark.read.parquet(*new_files).count() if new_files else 0
        want = {
            str(r["b"]): r["mx"]
            for r in t.read_internal(resolve=False)
            .groupBy(t._bucket_col().alias("b"))
            .agg(F.max("_lsn").alias("mx"))
            .collect()
        }
        assert t.watermarks() == want, i
        if res.events_in == rows:
            assert res.keys_upserted + res.keys_deleted == rows, i
        else:
            assert res.keys_upserted == rows, i
    assert max(t.watermarks().values()) == 7  # lsn 9 lost, never written
    t.drop()


def test_reopened_table_keeps_its_layout(spark, tmp_path):
    """A table opened without layout arguments takes its bucket count, mode
    and threshold from the manifest, so whole-row merges, partial-image
    merges (on keys committed before the reopen) and compact() keep it
    equal to LWW over every event. A contradicting argument is refused."""
    from pyspark.sql import types as T

    from kettle_jena_plugins_spark.operators.lww import lww_state_partial

    root = str(tmp_path / "tbl")
    created = ParquetLakeTarget(
        spark, root, n_buckets=4, mode="mor", compact_threshold=3
    )
    created.create()
    whole = CDCConfig(normalize=False)
    cells = ["role", "text", "tool"]
    b0 = [ev("I", c * 10 + t, c * 10 + t, f"c{c}", t, text=f"v0-{c}-{t}")
          for c in range(40) for t in range(5)]
    apply_batch(created, make_events(spark, b0), 0, whole)

    reopened = ParquetLakeTarget(spark, root)
    assert (reopened.n_buckets, reopened.mode, reopened.compact_threshold) == (
        4, "mor", 3
    )
    b1 = [ev("U", 1000 + c, 1000 + c, f"c{c}", 0, text=f"v1-{c}")
          for c in range(0, 40, 2)]
    b1 += [ev("D", 1100 + c, 1100 + c, f"c{c}", 1) for c in range(0, 40, 3)]
    b1 += [ev("I", 1200 + c, 1200 + c, f"n{c}", 0, text="new") for c in range(30)]
    apply_batch(reopened, make_events(spark, b1), 1, whole)
    want = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in lww_state(make_events(spark, b0 + b1)).collect()
    }
    assert state(reopened) == want

    partial_schema = T.StructType(
        [*CHANGE_EVENT_SCHEMA.fields,
         T.StructField("set_cols", T.ArrayType(T.StringType()))]
    )
    b2 = [(*ev("U", 2000 + c, 2000 + c, f"c{c}", 2, role=None, tool="t"),
           ["tool"]) for c in range(40)]
    b2 += [(*ev("U", 2100 + c, 2100 + c, f"c{c}", 1, text="revived"),
            ["text"]) for c in range(0, 40, 3)]
    apply_batch(reopened, make_events(spark, b2, partial_schema), 2,
                CDCConfig(normalize=False, partial_set_col="set_cols"))
    assert reopened.compact() > 0
    everything = make_events(
        spark, [(*e, cells) for e in b0 + b1] + b2, partial_schema
    )
    want = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in lww_state_partial(everything).collect()
    }
    assert state(reopened) == want
    assert reopened.manifest()["n_buckets"] == 4
    with pytest.raises(ValueError, match="n_buckets=4"):
        ParquetLakeTarget(spark, root, n_buckets=16)
    reopened.drop()


def test_metrics_jsonl_records_manifest_counts(spark, tmp_path):
    """The apply metrics jsonl and the snapshot manifest record the same
    batch counts, buckets_compacted included."""
    import json

    t = ParquetLakeTarget(spark, str(tmp_path / "tbl"), n_buckets=2, mode="cow")
    t.create()
    path = str(tmp_path / "m.jsonl")
    cfg = CDCConfig(normalize=False, metrics_path=path)
    apply_batch(t, make_events(spark, [ev("I", 1, 1, "a", 0, text="x")]), 0, cfg)
    apply_batch(t, make_events(spark, [ev("U", 2, 2, "a", 0, text="y")]), 1, cfg)
    with open(path) as f:
        rec = json.loads(f.read().splitlines()[-1])
    counts = t.manifest()["metrics"]
    assert {k: rec.get(k) for k in counts} == counts
    assert counts["buckets_compacted"] == 1  # cow folds the second layer
    t.drop()


def test_multibatch_equals_oneshot_lww(spark, target):
    """Convergence golden test: incremental apply over batches == one-shot
    lww_state over the concatenated log (SURVEY.md §7 minimum slice)."""
    from kettle_jena_plugins_spark.sources.changes import change_events

    ch = change_events(spark, "/root/testdata/sf0.001").cache()
    batches = [ch.filter((F.col("lsn") % 3) == i) for i in range(3)]
    for i, b in enumerate(batches):
        apply_batch(target, b, i, CDCConfig(normalize=False))
    got = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in target.read().collect()
    }
    want = {
        (r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
        for r in lww_state(ch).collect()
    }
    ch.unpersist()
    assert got == want


def test_normalize_post_reduce_applies_to_winners(spark, target):
    """normalize=True: final table text is normalized (collapsed whitespace,
    trimmed) in both modes (COW compacts the delta layer in the same
    commit, MOR keeps it), and LWW winner selection is unaffected by messy
    payloads. Normalization runs in apply_batch's projection, before the
    reduce, and the winners land normalized."""
    rows = [
        ev("I", 1, 0, "c1", 0, text="  hello \t world "),
        ev("U", 2, 10, "c1", 0, text=" final   text "),  # winner
        ev("I", 3, 0, "c2", 1, text="already clean"),
    ]
    apply_batch(target, make_events(spark, rows), 0, CDCConfig(normalize=True))
    state = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in target.read().collect()
    }
    assert state[("c1", 0)] == "final text"  # LWW winner, ws-collapsed
    assert state[("c2", 1)] == "already clean"

    # a later batch replacing the winner also lands normalized
    apply_batch(
        target,
        make_events(spark, [ev("U", 4, 20, "c1", 0, text="  newer   value ")]),
        1,
        CDCConfig(normalize=True),
    )
    state = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in target.read().collect()
    }
    assert state[("c1", 0)] == "newer value"


@pytest.mark.parametrize("partial", [False, True], ids=["whole_row", "partial"])
def test_lww_combiner_runs_before_exchange(spark, partial):
    """Pin the load-bearing scale property of the apply plan (BENCH.md's
    projection rests on it): the LWW reduce must run a PARTIAL max_by
    aggregate BELOW the key Exchange (map-side combine), so shuffle volume
    is ~#distinct keys per batch, never #events. executedPlan prints
    top-down, so the partial aggregate must appear AFTER the Exchange in
    the string and a partial_max must exist at all. Both sink reduces are
    pinned — whole-row and cell-level (a set_cols mask) — because this
    combine is the apply path's only hot-key skew defence."""
    events = make_events(
        spark,
        [
            ev("I", i, i, f"c{i % 3}", i % 2, text=f"t{i}")
            for i in range(1, 60)
        ],
    )
    if partial:
        mask = F.when(F.col("lsn") % 2 == 0, F.array(F.lit("text"))).otherwise(
            F.array(F.lit("role"), F.lit("text"))
        )
        reduced = lww_reduce_partial(events.withColumn("set_cols", mask))
    else:
        reduced = lww_state(events)
    plan = reduced._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in plan, plan[:2000]
    i_exchange = plan.index("Exchange hashpartitioning")
    i_partial = plan.index("partial_max")
    assert i_partial > i_exchange, (
        "map-side combine missing: partial aggregate not below the "
        "shuffle exchange"
    )


def test_lww_state_matches_python_reference_on_random_streams(spark):
    """Randomized operator-level oracle: seeded random streams (update-
    heavy, deliberate ts collisions, injected exact-duplicate rows, fully
    shuffled delivery order) must reduce to exactly what a pure-Python
    LWW reducer computes — winner per (conv_id, turn_idx) by max (ts,
    lsn), deletes dropping the key. Independent of both the DuckDB oracle
    formulation and the window/salted variants."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        events = []
        for lsn in range(400):
            conv = f"c{rng.randrange(6)}"
            turn = rng.randrange(4)
            op = rng.choice("IUUD")
            # coarse ts grid → frequent ts ties, so the lsn tiebreak is
            # genuinely exercised
            ts = T0 + dt.timedelta(seconds=rng.randrange(60))
            text = None if op == "D" else f"x{lsn}"
            events.append((op, lsn, ts, conv, turn, "user", text, None))
        dups = [events[rng.randrange(len(events))] for _ in range(50)]
        stream = events + dups
        rng.shuffle(stream)

        expected = {}
        for op, lsn, ts, conv, turn, role, text, tool in events:
            k = (conv, turn)
            cur = expected.get(k)
            if cur is None or (ts, lsn) > (cur[0], cur[1]):
                expected[k] = (ts, lsn, op, text)
        expected = {
            k: (lsn, text)
            for k, (ts, lsn, op, text) in expected.items()
            if op != "D"
        }

        got = {
            (r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"])
            for r in lww_state(make_events(spark, stream)).collect()
        }
        assert got == expected, f"seed {seed}"
