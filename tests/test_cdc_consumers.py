"""Edge semantics of the CDC-consumer operators (scd2 / asof / debezium /
lag metrics / transcript assembly) that the value-hash oracle cannot see:
tombstone handling, ts_ms fallback, unknown ops, interval chaining, inclusive
as-of ties, left-join nulls, and plan shape (shuffle counts).

Reference analogue: JenaGroupMergeStepIT's row-level expectations on merged
groups (JenaGroupMergeStepIT.java:64-120) — here applied to the operators the
engine adds on the consumer side of the change stream.
"""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA
from kettle_jena_plugins_spark.operators.asof import asof_join
from kettle_jena_plugins_spark.operators.metrics import lag_metrics
from kettle_jena_plugins_spark.operators.scd2 import scd2_history
from kettle_jena_plugins_spark.operators.transcripts import assemble_transcripts
from kettle_jena_plugins_spark.sources.debezium import (
    parse_debezium,
    to_debezium_json,
)


def _ts(s: int) -> datetime.datetime:
    return datetime.datetime(2026, 1, 1, 0, 0, s)


def _changes(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


# ---------------------------------------------------------------- scd2


def test_scd2_interval_chaining(spark):
    # I @1 -> U @2 -> U @3: two closed versions + one open current
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", "v1", None),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("U", 3, _ts(3), "c1", 0, "user", "v3", None),
        ],
    )
    h = {r["lsn"]: r for r in scd2_history(ch).collect()}
    assert len(h) == 3
    assert h[1]["valid_to_lsn"] == 2 and h[1]["valid_to_ts"] == _ts(2)
    assert h[2]["valid_to_lsn"] == 3
    assert h[3]["valid_to_lsn"] is None and h[3]["is_current"]
    assert not h[1]["is_current"] and not h[2]["is_current"]


def test_scd2_delete_closes_without_version(spark):
    # I -> D: the delete closes the insert's interval but emits no row,
    # and the closed version is NOT current even though it has no successor
    # version row.
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", "v1", None),
            ("D", 2, _ts(2), "c1", 0, None, None, None),
        ],
    )
    h = scd2_history(ch).collect()
    assert len(h) == 1
    assert h[0]["lsn"] == 1
    assert h[0]["valid_to_lsn"] == 2
    assert not h[0]["is_current"]


def test_scd2_keys_are_independent(spark):
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", "a", None),
            ("I", 2, _ts(2), "c1", 1, "user", "b", None),
            ("U", 3, _ts(3), "c1", 1, "user", "b2", None),
        ],
    )
    h = {r["lsn"]: r for r in scd2_history(ch).collect()}
    # turn 0 never updated: still open
    assert h[1]["is_current"] and h[1]["valid_to_lsn"] is None
    assert h[2]["valid_to_lsn"] == 3 and h[3]["is_current"]


def test_scd2_single_shuffle(spark):
    ch = _changes(spark, [("I", 1, _ts(1), "c1", 0, "user", "v", None)])
    plan = scd2_history(ch)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # one hash partitioning, reused


# ---------------------------------------------------------------- asof


def _dims(spark, rows):
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("phase", T.StringType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def _facts(spark, rows):
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("fid", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    return spark.createDataFrame(rows, schema)


def test_asof_inclusive_tie_and_latest_wins(spark):
    dims = _dims(
        spark,
        [("c1", _ts(10), "early"), ("c1", _ts(20), "late")],
    )
    facts = _facts(
        spark,
        [
            ("c1", 1, _ts(5)),   # before any dim -> null
            ("c1", 2, _ts(10)),  # exactly at dim ts -> inclusive match
            ("c1", 3, _ts(15)),  # between -> early
            ("c1", 4, _ts(25)),  # after both -> late
        ],
    )
    out = {r["fid"]: r for r in asof_join(facts, dims).collect()}
    assert out[1]["dim_phase"] is None and out[1]["dim_ts"] is None
    assert out[2]["dim_phase"] == "early" and out[2]["dim_ts"] == _ts(10)
    assert out[3]["dim_phase"] == "early"
    assert out[4]["dim_phase"] == "late" and out[4]["dim_ts"] == _ts(20)


def test_asof_left_join_keeps_dimless_keys(spark):
    dims = _dims(spark, [("c1", _ts(10), "p")])
    facts = _facts(spark, [("c2", 1, _ts(50))])  # key with no dims at all
    out = asof_join(facts, dims).collect()
    assert len(out) == 1 and out[0]["dim_phase"] is None


def test_asof_null_dim_payload_does_not_reset_carry(spark):
    # A dim row whose payload column is null must still BE the match (the
    # carried struct is non-null even when its fields are null) — nulls in
    # payload must not fall through to an older dim.
    dims = _dims(spark, [("c1", _ts(10), "p"), ("c1", _ts(20), None)])
    facts = _facts(spark, [("c1", 1, _ts(30))])
    out = asof_join(facts, dims).collect()
    assert out[0]["dim_phase"] is None and out[0]["dim_ts"] == _ts(20)


def test_asof_single_shuffle(spark):
    dims = _dims(spark, [("c1", _ts(10), "p")])
    facts = _facts(spark, [("c1", 1, _ts(30))])
    plan = (
        asof_join(facts, dims)._jdf.queryExecution().executedPlan().toString()
    )
    # union-tag formulation: one Exchange per input side feeding ONE window
    # sort — crucially no Join operator (no nested-loop range join).
    assert "Join" not in plan
    assert plan.count("Exchange") <= 2


# ---------------------------------------------------------------- debezium


def test_debezium_round_trip_all_ops(spark):
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", 'sa"y\n\\x', "t"),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("D", 3, _ts(3), "c1", 0, None, None, None),
        ],
    )
    back = parse_debezium(to_debezium_json(ch)).orderBy("lsn").collect()
    orig = ch.orderBy("lsn").collect()
    assert [tuple(r) for r in back] == [tuple(r) for r in orig]


def test_debezium_tombstones_dropped_and_unknown_op_null(spark):
    raw = spark.createDataFrame(
        [
            (None,),  # Kafka tombstone: dropped entirely
            (
                '{"payload": {"op": "x", "ts_ms": 1000,'
                ' "after": {"conv_id": "c1", "turn_idx": 0},'
                ' "source": {"lsn": 7}}}',
            ),
        ],
        T.StructType([T.StructField("value", T.StringType(), True)]),
    )
    out = parse_debezium(raw).collect()
    assert len(out) == 1  # tombstone gone
    assert out[0]["op"] is None  # unknown op -> null, for dead-letter routing
    assert out[0]["lsn"] == 7 and out[0]["conv_id"] == "c1"


def test_debezium_ts_ms_fallback_and_ts_us_priority(spark):
    raw = spark.createDataFrame(
        [
            # no source.ts_us -> fall back to ts_ms (millisecond precision)
            (
                '{"payload": {"op": "c", "ts_ms": 1500,'
                ' "after": {"conv_id": "c1", "turn_idx": 0},'
                ' "source": {"lsn": 1}}}',
            ),
            # both present -> microseconds win
            (
                '{"payload": {"op": "c", "ts_ms": 1500,'
                ' "after": {"conv_id": "c1", "turn_idx": 1},'
                ' "source": {"lsn": 2, "ts_us": 1500123}}}',
            ),
        ],
        T.StructType([T.StructField("value", T.StringType(), True)]),
    )
    out = {r["lsn"]: r for r in parse_debezium(raw).collect()}
    epoch = datetime.timezone.utc
    assert out[1]["ts"] == datetime.datetime.fromtimestamp(1.5, tz=epoch).replace(
        tzinfo=None
    )
    assert out[2]["ts"].microsecond == 500123


def test_debezium_snapshot_read_is_insert(spark):
    raw = spark.createDataFrame(
        [
            (
                '{"payload": {"op": "r", "ts_ms": 1000,'
                ' "after": {"conv_id": "c1", "turn_idx": 0, "text": "snap"},'
                ' "source": {"lsn": 3}}}',
            )
        ],
        T.StructType([T.StructField("value", T.StringType(), True)]),
    )
    out = parse_debezium(raw).collect()
    assert out[0]["op"] == "I" and out[0]["text"] == "snap"


def test_debezium_delete_uses_before_image(spark):
    ch = _changes(spark, [("D", 9, _ts(9), "c7", 3, None, None, None)])
    js = to_debezium_json(ch).collect()[0]["value"]
    assert '"before"' in js and '"c7"' in js
    back = parse_debezium(to_debezium_json(ch)).collect()[0]
    assert back["op"] == "D" and back["conv_id"] == "c7" and back["turn_idx"] == 3


# ---------------------------------------------------------------- lag metrics


def test_lag_metrics_counts_and_depth(spark):
    # lsn order: ts 10, 30, 20(late by 10s), 40, 25(late by 15s)
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(10), "c1", 0, "u", "a", None),
            ("I", 2, _ts(30), "c1", 1, "u", "b", None),
            ("I", 3, _ts(20), "c1", 2, "u", "c", None),
            ("I", 4, _ts(40), "c1", 3, "u", "d", None),
            ("I", 5, _ts(25), "c1", 4, "u", "e", None),
        ],
    )
    m = lag_metrics(ch).collect()
    assert len(m) == 1
    r = m[0]
    assert r["n_events"] == 5
    assert r["n_late"] == 2
    assert r["max_lateness_us"] == 15_000_000
    assert abs(r["p_late"] - 0.4) < 1e-9


def test_lag_metrics_in_order_shard_is_clean(spark):
    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "u", "a", None),
            ("I", 2, _ts(2), "c1", 1, "u", "b", None),
        ],
    )
    r = lag_metrics(ch).collect()[0]
    assert r["n_late"] == 0 and r["max_lateness_us"] == 0 and r["p_late"] == 0.0


def test_lag_metrics_single_shuffle(spark):
    ch = _changes(spark, [("I", 1, _ts(1), "c1", 0, "u", "a", None)])
    plan = lag_metrics(ch)._jdf.queryExecution().executedPlan().toString()
    # window partitioning is reused by the groupBy: exactly one Exchange
    assert plan.count("Exchange") == 1


# ------------------------------------------------------- transcript assembly


def test_assembly_turn_order_not_arrival_order(spark):
    state = spark.createDataFrame(
        [
            ("c1", 2, "assistant", "third", None, _ts(3), 30),
            ("c1", 0, "user", "first", None, _ts(1), 10),
            ("c1", 1, "assistant", "second words", None, _ts(2), 20),
        ],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, lsn long",
    ).repartition(4)
    out = assemble_transcripts(state).collect()
    assert len(out) == 1
    r = out[0]
    assert r["doc"] == "user: first\nassistant: second words\nassistant: third"
    assert r["n_turns"] == 3
    assert r["n_tokens"] == 4
    assert r["last_lsn"] == 30


def test_assembly_single_shuffle_no_sort_exchange(spark):
    state = spark.createDataFrame(
        [("c1", 0, "user", "hi", None, _ts(1), 1)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp, lsn long",
    )
    plan = (
        assemble_transcripts(state)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1
    assert "Window" not in plan  # order restored inside the agg, not a window


def test_dedup_transcripts_collapses_identical_conversations(spark):
    """Two conversations with identical turn content (different conv_ids)
    collapse to one group keeping the smaller id; distinct ones survive."""
    from kettle_jena_plugins_spark.operators.transcripts import (
        dedup_transcripts,
    )

    rows = []
    for cid in ("a1", "a2"):  # identical twins
        rows += [
            (cid, 0, "user", "hello world", 1),
            (cid, 1, "assistant", "hi there", 2),
        ]
    rows += [("b9", 0, "user", "different text", 3)]
    st = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, lsn long"
    )
    out = {r["keep_id"]: r["n_dups"] for r in dedup_transcripts(st).collect()}
    assert out == {"a1": 2, "b9": 1}


def test_wal_profile_buckets_and_op_mix(spark):
    from kettle_jena_plugins_spark.operators.metrics import wal_profile

    rows = [
        ("I", 1, "2024-01-01 10:05:00", "a", 0),
        ("U", 2, "2024-01-01 10:55:00", "a", 0),
        ("D", 3, "2024-01-01 11:05:00", "b", 1),
    ]
    ch = spark.createDataFrame(
        rows, "op string, lsn long, ts string, conv_id string, turn_idx int"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {str(r["hour"]): r for r in wal_profile(ch).collect()}
    h10 = out["2024-01-01 10:00:00"]
    assert (h10["n_events"], h10["n_inserts"], h10["n_updates"],
            h10["n_deletes"], h10["n_convs"], h10["max_lsn"]) == (2, 1, 1, 0, 1, 2)
    h11 = out["2024-01-01 11:00:00"]
    assert (h11["n_events"], h11["n_deletes"], h11["n_convs"]) == (1, 1, 1)


def test_churn_and_update_deltas(spark):
    from kettle_jena_plugins_spark.operators.metrics import (
        churn_stats,
        update_delta_stats,
    )

    rows = [
        # conv a, turn 0: three versions; turn 1: one
        ("I", 1, "2024-01-01 00:00:01", "a", 0, "kitten"),
        ("U", 2, "2024-01-01 00:00:02", "a", 0, "sitting"),
        ("U", 3, "2024-01-01 00:00:03", "a", 0, "sitting!"),
        ("I", 4, "2024-01-01 00:00:04", "a", 1, "x"),
        # conv b: delete (NULL text) breaks the pair chain
        ("I", 5, "2024-01-01 00:00:05", "b", 0, "abc"),
        ("D", 6, "2024-01-01 00:00:06", "b", 0, None),
    ]
    ch = spark.createDataFrame(
        rows,
        "op string, lsn long, ts string, conv_id string, turn_idx int, text string",
    ).withColumn("ts", F.to_timestamp("ts"))
    churn = {r["conv_id"]: r for r in churn_stats(ch).collect()}
    assert (churn["a"]["n_events"], churn["a"]["n_keys"], churn["a"]["churn"]) == (4, 2, 2.0)
    assert churn["b"]["n_deletes"] == 1
    deltas = {r["conv_id"]: r for r in update_delta_stats(ch).collect()}
    # conv a: kitten->sitting (3) and sitting->sitting! (1); conv b: no
    # non-null pair -> filtered out entirely
    assert set(deltas) == {"a"}
    assert deltas["a"]["n_pairs"] == 2
    assert deltas["a"]["avg_delta"] == 2.0
    assert deltas["a"]["max_delta"] == 3


def test_event_sessions_gap_rule(spark):
    """Sessions split exactly at gaps > 30 min; boundaries and durations
    are integer-microsecond exact."""
    from kettle_jena_plugins_spark.operators.metrics import event_sessions

    rows = [
        (1, "2024-01-01 00:00:00", 7),
        (2, "2024-01-01 00:29:00", 7),   # 29 min -> same session
        (3, "2024-01-01 01:00:00", 7),   # 31 min -> NEW session
        (4, "2024-01-01 01:30:00", 7),   # exactly 30 min -> same (not >)
        (5, "2024-01-01 00:00:00", 8),   # other user: own numbering
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {(r["user_id"], r["session_idx"]): r
           for r in event_sessions(ev).collect()}
    assert set(out) == {(7, 1), (7, 2), (8, 1)}
    assert out[(7, 1)]["n_events"] == 2
    assert out[(7, 1)]["duration_us"] == 29 * 60 * 1_000_000
    assert out[(7, 2)]["n_events"] == 2
    assert out[(7, 2)]["duration_us"] == 30 * 60 * 1_000_000
    assert out[(8, 1)]["n_events"] == 1 and out[(8, 1)]["duration_us"] == 0


def test_incremental_rollup_edges(spark, tmp_path):
    """IVM edges: update retracts the old row, delete removes a turn,
    a brand-new conversation appears, a fully-deleted conversation drops
    out — incremental result equals recompute in every case."""
    from kettle_jena_plugins_spark.operators.rollup import (
        conv_rollup,
        incremental_conv_rollup,
    )
    from kettle_jena_plugins_spark.streaming.apply import CDCConfig, apply_batch
    from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

    cols = "op string, lsn long, ts timestamp, conv_id string, turn_idx int, role string, text string, tool string"

    def ev(rows):
        import datetime as dt

        base = dt.datetime(2024, 1, 1)
        return spark.createDataFrame(
            [
                (op, lsn, base + dt.timedelta(seconds=lsn), c, t, "user", x, None)
                for op, lsn, c, t, x in rows
            ],
            cols,
        )

    tgt = ParquetLakeTarget(spark, str(tmp_path / "tbl"), n_buckets=4)
    tgt.create()
    cfg = CDCConfig(normalize=False)
    apply_batch(tgt, ev([
        ("I", 1, "a", 0, "one two"),
        ("I", 2, "a", 1, "three"),
        ("I", 3, "b", 0, "gone soon"),
    ]), 0, cfg)
    v1 = tgt.snapshots()[-1]
    apply_batch(tgt, ev([
        ("U", 4, "a", 0, "one two three four"),  # update: retract 2, add 4
        ("D", 5, "b", 0, None),                   # conv b fully deleted
        ("I", 6, "c", 0, "brand new conv"),       # new conversation
    ]), 1, cfg)
    v2 = tgt.snapshots()[-1]
    got = {
        r["conv_id"]: (r["n_turns"], r["n_tokens"])
        for r in incremental_conv_rollup(
            conv_rollup(tgt.read(version=v1)),
            tgt.changes_between(v1, v2),
            tgt.read(version=v1),
        ).collect()
    }
    want = {
        r["conv_id"]: (r["n_turns"], r["n_tokens"])
        for r in conv_rollup(tgt.read(version=v2)).collect()
    }
    assert got == want == {"a": (2, 5), "c": (1, 3)}  # b dropped out


def test_promote_json_payload_types_and_nulls(spark):
    """Typed promotion with malformed JSON / missing keys -> null, and the
    projection stays narrow (no Exchange before the agg)."""
    from kettle_jena_plugins_spark.sources.changes import promote_json_payload

    df = spark.createDataFrame(
        [
            (1, '{"k": 42, "s": "x"}'),
            (2, '{"s": "only"}'),      # missing k -> null
            (3, "not json"),           # malformed -> null
            (4, None),                 # null blob -> null
        ],
        "event_id long, props string",
    )
    out = promote_json_payload(
        df, {"k": ("$.k", "int"), "s": ("$.s", "string")}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    got = {r["event_id"]: (r["k"], r["s"]) for r in out.collect()}
    assert got == {1: (42, "x"), 2: (None, "only"), 3: (None, None), 4: (None, None)}


def test_cli_profile_command(spark, tmp_path, capsys):
    """`run profile --wal DIR` prints hourly WAL buckets, churn and
    update-delta lines as JSON."""
    import json as _json

    from kettle_jena_plugins_spark.datagen import gen_change_events
    from kettle_jena_plugins_spark.run import main

    gen_change_events(spark, 2000, n_convs=50).write.mode("overwrite").parquet(
        str(tmp_path / "wal")
    )
    rc = main(["profile", "--wal", str(tmp_path / "wal"), "--limit", "3"])
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    kinds = {next(iter(d)) for d in lines}
    assert kinds == {"wal_hour", "churn", "update_delta"}
    hour_rows = [d["wal_hour"] for d in lines if "wal_hour" in d]
    assert all(r["n_events"] >= 1 for r in hour_rows)


# ---------------------------------------------------------------- maxwell


def test_maxwell_round_trip_all_ops_coarsens_ts_only(spark):
    """insert/update/delete round-trip bit-identically except ts, which
    Maxwell carries at second granularity (floor) — the documented
    coarsening; lsn survives exactly through the file:offset position."""
    from kettle_jena_plugins_spark.sources.maxwell import (
        parse_maxwell,
        to_maxwell_json,
    )

    ch = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", 'sa"y\n\\x', "t"),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("D", 3, _ts(3), "c1", 0, None, None, None),
            # lsn beyond one binlog file: composite must survive
            ("U", (7 << 40) + 12345, _ts(4), "c2", 1, "bot", "far", None),
        ],
    )
    back = parse_maxwell(to_maxwell_json(ch)).orderBy("lsn").collect()
    orig = ch.orderBy("lsn").collect()
    for b, o in zip(back, orig):
        assert (b["op"], b["lsn"], b["conv_id"], b["turn_idx"], b["role"],
                b["text"], b["tool"]) == (
            o["op"], o["lsn"], o["conv_id"], o["turn_idx"], o["role"],
            o["text"], o["tool"])
        assert b["ts"] == o["ts"].replace(microsecond=0)


def test_maxwell_table_filter_and_unknown_type(spark):
    from kettle_jena_plugins_spark.sources.maxwell import parse_maxwell

    raw = spark.createDataFrame(
        [
            ('{"database":"app","table":"transcripts","type":"insert",'
             '"ts":100,"position":"master.000001:10",'
             '"data":{"conv_id":"c1","turn_idx":0,"role":"u","text":"x",'
             '"tool":null}}',),
            # other table on the same topic: must be filtered out
            ('{"database":"app","table":"users","type":"insert","ts":100,'
             '"position":"master.000001:20",'
             '"data":{"conv_id":"zz","turn_idx":9,"role":"u","text":"y",'
             '"tool":null}}',),
            # bootstrap snapshot rows map to I
            ('{"database":"app","table":"transcripts",'
             '"type":"bootstrap-insert","ts":101,'
             '"position":"master.000001:30",'
             '"data":{"conv_id":"c2","turn_idx":1,"role":"u","text":"b",'
             '"tool":null}}',),
            # unknown type -> null op for the dead-letter split
            ('{"database":"app","table":"transcripts","type":"table-alter",'
             '"ts":102,"position":"master.000001:40",'
             '"data":{"conv_id":"c3","turn_idx":2,"role":"u","text":"z",'
             '"tool":null}}',),
            (None,),  # null value dropped
        ],
        "value string",
    )
    out = parse_maxwell(raw, table="transcripts").orderBy("lsn").collect()
    assert [r["conv_id"] for r in out] == ["c1", "c2", "c3"]
    assert [r["op"] for r in out] == ["I", "I", None]
    assert out[0]["lsn"] == (1 << 40) + 10


# ---------------------------------------------------------------- wal2json


def test_wal2json_round_trip_exact(spark):
    """insert/update/delete round-trip BIT-identically — microsecond ts
    (unlike Maxwell) and the full 64-bit XLogRecPtr both survive; delete
    carries its image through `identity` (REPLICA IDENTITY FULL)."""
    from kettle_jena_plugins_spark.sources.wal2json import (
        parse_wal2json,
        to_wal2json,
    )

    us = datetime.datetime(2026, 1, 1, 0, 0, 1, 123456)
    ch = _changes(
        spark,
        [
            ("I", 1, us, "c1", 0, "user", 'sa"y\n\\x', "t"),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("D", 3, _ts(3), "c1", 0, "user", "gone", None),
            # lsn above 2^32: hi/lo hex halves must recompose exactly
            ("U", (0xAB << 32) + 0x16B2D88, _ts(4), "c2", 1, "bot", "far",
             None),
        ],
    )
    back = parse_wal2json(to_wal2json(ch)).orderBy("lsn").collect()
    orig = ch.orderBy("lsn").collect()
    for b, o in zip(back, orig):
        assert tuple(b) == tuple(o)


def test_wal2json_framing_filter_and_unknown_action(spark):
    """B/C transaction framing is dropped; other tables filter out;
    native JSON number values parse; T (truncate) → null op for the
    dead-letter split; lsn hex halves parse."""
    from kettle_jena_plugins_spark.sources.wal2json import parse_wal2json

    raw = spark.createDataFrame(
        [
            ('{"action":"B","lsn":"0/1"}',),
            ('{"action":"I","schema":"public","table":"transcripts",'
             '"columns":[{"name":"conv_id","type":"text","value":"c1"},'
             '{"name":"turn_idx","type":"integer","value":3},'
             '{"name":"role","type":"text","value":"u"},'
             '{"name":"text","type":"text","value":"x"},'
             '{"name":"tool","type":"text","value":null}],'
             '"lsn":"0/16B2D88",'
             '"timestamp":"2026-01-01 00:00:01.000002+00"}',),
            # other table on the same slot: must be filtered out
            ('{"action":"I","schema":"public","table":"users",'
             '"columns":[{"name":"conv_id","type":"text","value":"zz"}],'
             '"lsn":"0/2","timestamp":"2026-01-01 00:00:01+00"}',),
            # delete image arrives via identity
            ('{"action":"D","schema":"public","table":"transcripts",'
             '"identity":[{"name":"conv_id","type":"text","value":"c1"},'
             '{"name":"turn_idx","type":"integer","value":3}],'
             '"lsn":"AB/0",'
             '"timestamp":"2026-01-01 00:00:02.000000+00"}',),
            # truncate -> null op for the dead-letter split
            ('{"action":"T","schema":"public","table":"transcripts",'
             '"lsn":"AB/1","timestamp":"2026-01-01 00:00:03.000000+00"}',),
            ('{"action":"C","lsn":"AB/2"}',),
            (None,),
        ],
        "value string",
    )
    out = parse_wal2json(raw, table="transcripts").orderBy("lsn").collect()
    assert [r["op"] for r in out] == ["I", "D", None]
    ins = out[0]
    assert (ins["conv_id"], ins["turn_idx"], ins["role"], ins["text"],
            ins["tool"]) == ("c1", 3, "u", "x", None)
    assert ins["lsn"] == 0x16B2D88
    assert ins["ts"] == datetime.datetime(2026, 1, 1, 0, 0, 1, 2)
    assert out[1]["lsn"] == 0xAB << 32
    assert out[1]["conv_id"] == "c1" and out[1]["turn_idx"] == 3


def test_canal_round_trip_all_ops_coarsens_ts_to_ms(spark):
    """INSERT/UPDATE/DELETE round-trip bit-identically except ts, which
    Canal carries at millisecond granularity (``es``); the fixture
    renderer's id = lsn makes the derived (id, pos) composite exactly
    invertible. Stringified values (turn_idx) cast back; NULL columns
    survive the map image."""
    from kettle_jena_plugins_spark.sources.canal import (
        parse_canal,
        to_canal_json,
    )

    us = datetime.datetime(2026, 1, 1, 0, 0, 1, 123456)
    ch = _changes(
        spark,
        [
            ("I", 1, us, "c1", 0, "user", 'sa"y\n\\x', "t"),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("D", 3, _ts(3), "c1", 0, None, None, None),
            # lsn above 2^32: id is a long, composite must survive
            ("U", (7 << 40) + 12345, _ts(4), "c2", 1, "bot", "far", None),
        ],
    )
    back = parse_canal(to_canal_json(ch)).orderBy("lsn").collect()
    orig = ch.orderBy("lsn").collect()
    for b, o in zip(back, orig):
        assert (b["op"], b["conv_id"], b["turn_idx"], b["role"],
                b["text"], b["tool"]) == (
            o["op"], o["conv_id"], o["turn_idx"], o["role"],
            o["text"], o["tool"])
        assert b["lsn"] == o["lsn"] * (1 << 20)  # id·2²⁰ + pos, pos=0
        ms = o["ts"].replace(microsecond=o["ts"].microsecond // 1000 * 1000)
        assert b["ts"] == ms


def test_canal_multirow_batch_ddl_filter_and_unknown_type(spark):
    """A 3-row ``data`` array flattens to consecutive (id·2²⁰ + pos)
    events in statement order; isDdl messages drop; other tables filter
    out; unknown DML types become null ops for the dead-letter split;
    stringified/NULL values decode."""
    from kettle_jena_plugins_spark.sources.canal import parse_canal

    raw = spark.createDataFrame(
        [
            # one binlog statement touching three rows
            ('{"id":5,"database":"app","table":"transcripts",'
             '"pkNames":["conv_id","turn_idx"],"isDdl":false,'
             '"type":"INSERT","es":1767225601000,"ts":1767225601002,'
             '"data":[{"conv_id":"c1","turn_idx":"0","role":"u",'
             '"text":"a","tool":null},'
             '{"conv_id":"c1","turn_idx":"1","role":"b","text":"bb",'
             '"tool":"calc"},'
             '{"conv_id":"c1","turn_idx":"2","role":"u","text":"c",'
             '"tool":null}]}',),
            # DDL: no row image, must drop at the scan
            ('{"id":6,"database":"app","table":"transcripts",'
             '"isDdl":true,"type":"ALTER","es":1767225602000,'
             '"sql":"ALTER TABLE transcripts ADD COLUMN x INT"}',),
            # other table on the same topic: must be filtered out
            ('{"id":7,"database":"app","table":"users","isDdl":false,'
             '"type":"INSERT","es":1767225603000,'
             '"data":[{"conv_id":"zz","turn_idx":"9","role":"u",'
             '"text":"y","tool":null}]}',),
            # unknown non-DDL type -> null op for the dead-letter split
            ('{"id":8,"database":"app","table":"transcripts",'
             '"isDdl":false,"type":"QUERY","es":1767225604000,'
             '"data":[{"conv_id":"c3","turn_idx":"2","role":"u",'
             '"text":"z","tool":null}]}',),
            (None,),  # null value dropped
        ],
        "value string",
    )
    out = parse_canal(raw, table="transcripts").orderBy("lsn").collect()
    assert [r["op"] for r in out] == ["I", "I", "I", None]
    assert [r["lsn"] for r in out] == [
        5 * (1 << 20), 5 * (1 << 20) + 1, 5 * (1 << 20) + 2, 8 * (1 << 20)
    ]
    assert [r["turn_idx"] for r in out] == [0, 1, 2, 2]
    assert out[1]["tool"] == "calc" and out[0]["tool"] is None
    assert out[0]["ts"] == datetime.datetime(2026, 1, 1, 0, 0, 1)


def test_dms_round_trip_exact(spark):
    """insert/update/delete round-trip BIT-identically through the DMS
    data/metadata envelope — the microsecond ISO-8601 Z timestamp and
    the transaction-id-carried lsn both survive exactly."""
    from kettle_jena_plugins_spark.sources.dms import parse_dms, to_dms_json

    us = datetime.datetime(2026, 1, 1, 0, 0, 1, 123456)
    ch = _changes(
        spark,
        [
            ("I", 1, us, "c1", 0, "user", 'sa"y\n\\x', "t"),
            ("U", 2, _ts(2), "c1", 0, "user", "v2", None),
            ("D", 3, _ts(3), "c1", 0, "user", "gone", None),
            # lsn beyond 2^53: transaction-id is a JSON number parsed as
            # long — no double math anywhere in the trip
            ("U", (1 << 60) + 7, _ts(4), "c2", 1, "bot", "far", None),
        ],
    )
    back = parse_dms(to_dms_json(ch)).orderBy("lsn").collect()
    orig = ch.orderBy("lsn").collect()
    for b, o in zip(back, orig):
        assert tuple(b) == tuple(o)


def test_dms_control_records_load_op_and_table_filter(spark):
    """record-type "control" (DDL notifications) → null op for the
    dead-letter split (visible, never silently dropped); full-load
    "load" records are inserts (the Debezium op-r analogue); other
    tables on the task filter out; unknown operations → null op."""
    from kettle_jena_plugins_spark.sources.dms import parse_dms

    def env(op, rtype, table, lsn, conv="c1"):
        return (
            '{"data":{"conv_id":"%s","turn_idx":1,"role":"u","text":"x",'
            '"tool":null},"metadata":{"timestamp":'
            '"2026-01-01T00:00:01.000002Z","record-type":"%s",'
            '"operation":"%s","partition-key-type":"schema-table",'
            '"schema-name":"app","table-name":"%s",'
            '"transaction-id":%d}}' % (conv, rtype, op, table, lsn)
        )

    raw = spark.createDataFrame(
        [
            (env("load", "data", "transcripts", 1),),
            (env("insert", "data", "transcripts", 2),),
            # control record: a create-table DDL notification
            (env("create-table", "control", "transcripts", 3),),
            # another table on the same task: filtered out
            (env("insert", "data", "users", 4, conv="zz"),),
            # unknown operation on a data record
            (env("upsert", "data", "transcripts", 5),),
        ],
        "value string",
    )
    out = parse_dms(raw, table="transcripts").orderBy("lsn").collect()
    assert [r["op"] for r in out] == ["I", "I", None, None]
    assert [r["lsn"] for r in out] == [1, 2, 3, 5]
    assert out[0]["conv_id"] == "c1" and out[0]["turn_idx"] == 1
    assert out[0]["ts"] == datetime.datetime(2026, 1, 1, 0, 0, 1, 2)


def test_dms_timestamp_fraction_width(spark):
    """DMS timestamps with a millisecond or no fraction are well-formed and
    parse exactly; a malformed one is a null ts for the dead-letter split."""
    from kettle_jena_plugins_spark.sources.dms import parse_dms

    def env(ts, lsn):
        return (
            '{"data":{"conv_id":"c1","turn_idx":1,"role":"u","text":"x",'
            '"tool":null},"metadata":{"timestamp":"%s","record-type":"data",'
            '"operation":"insert","table-name":"transcripts",'
            '"transaction-id":%d}}' % (ts, lsn)
        )

    raw = spark.createDataFrame(
        [
            (env("2026-01-01T00:00:01.175Z", 1),),
            (env("2026-01-01T00:00:02Z", 2),),
            (env("2026-01-01 bad", 3),),
        ],
        "value string",
    )
    out = parse_dms(raw).orderBy("lsn").collect()
    assert [r["ts"] for r in out] == [
        datetime.datetime(2026, 1, 1, 0, 0, 1, 175000),
        datetime.datetime(2026, 1, 1, 0, 0, 2),
        None,
    ]


def test_mongo_oplog_patch_semantics_and_filters(spark):
    """$set/$unset patches parse with the set-columns mask; a
    replacement-document update (no operators) is a full image; n/c ops
    (noop, command — the DDL analogue) → null op for the dead-letter
    split; other collections on the oplog filter out."""
    from kettle_jena_plugins_spark.sources.mongo import parse_mongo_oplog

    def entry(op, o, lsn, ns="app.transcripts", o2=None):
        base = ('{"ts":{"$timestamp":{"t":1767225601,"i":%d}},'
                '"op":"%s","ns":"%s","o":%s' % (lsn, op, ns, o))
        if o2:
            base += ',"o2":%s' % o2
        return base + "}"

    keys = '{"conv_id":"c1","turn_idx":0}'
    raw = spark.createDataFrame(
        [
            (entry("i", '{"conv_id":"c1","turn_idx":0,"role":"user",'
                        '"text":"hi","tool":"calc"}', 1),),
            # sparse patch: set text, unset tool
            (entry("u", '{"$set":{"text":"edited"},"$unset":{"tool":true}}',
                   2, o2=keys),),
            # replacement update: full image, no operators
            (entry("u", '{"conv_id":"c1","turn_idx":0,"role":"bot",'
                        '"text":"replaced"}', 3, o2=keys),),
            (entry("n", '{"msg":"periodic noop"}', 4),),
            (entry("c", '{"create":"transcripts"}', 5),),
            # another collection on the same oplog
            (entry("i", '{"conv_id":"zz","turn_idx":9}', 6,
                   ns="app.users"),),
            (entry("d", keys, 7),),
        ],
        "value string",
    )
    out = parse_mongo_oplog(raw, table="transcripts").orderBy("lsn").collect()
    assert [r["op"] for r in out] == ["I", "U", "U", None, None, "D"]
    assert [r["lsn"] % (1 << 32) for r in out] == [1, 2, 3, 4, 5, 7]
    patch = out[1]
    assert patch["set_cols"] == ["text", "tool"]
    assert patch["text"] == "edited" and patch["tool"] is None
    assert patch["conv_id"] == "c1" and patch["turn_idx"] == 0
    repl = out[2]
    assert repl["set_cols"] == ["role", "text", "tool"]
    assert (repl["role"], repl["text"], repl["tool"]) == ("bot", "replaced", None)


def test_mongo_oplog_lsn_overflow_is_a_dead_letter_not_a_failed_batch(spark):
    """t·2³² + i overflows a long for t ≥ 2³¹ (after 2038) or i ≥ 2³²:
    such an entry parses to a null op (the dead-letter route) instead of
    raising ARITHMETIC_OVERFLOW for the whole batch; the last in-range
    second keeps its exact lsn and ts."""
    from kettle_jena_plugins_spark.sources.mongo import parse_mongo_oplog

    def entry(t, i, conv):
        return ('{"ts":{"$timestamp":{"t":%d,"i":%d}},"op":"i",'
                '"ns":"app.transcripts","o":{"conv_id":"%s","turn_idx":0}}'
                % (t, i, conv))

    top = (1 << 31) - 1
    raw = spark.createDataFrame(
        [(entry(top, 7, "ok"),), (entry(1 << 31, 1, "late_t"),),
         (entry(1, 1 << 32, "big_i"),),
         # far outside uint32: its ts would overflow timestamp_seconds too
         (entry(10**13, 1, "huge_t"),)],
        "value string",
    )
    out = {r["conv_id"]: r for r in parse_mongo_oplog(raw).collect()}
    assert out["ok"]["op"] == "I"
    assert out["ok"]["lsn"] == top * (1 << 32) + 7
    assert out["ok"]["ts"] == datetime.datetime(2038, 1, 19, 3, 14, 7)
    assert [out[c]["op"] for c in ("late_t", "big_i", "huge_t")] == [None] * 3


def test_mongo_oplog_seconds_exact_past_2_53_micros(spark):
    """The rendered oplog ``t`` is the event's unix second by exact
    integer division: at 2300-01-01T00:00:00.999999Z the unix micros
    (10413792000999999) exceed 2^53, where double division rounds up to
    the next second."""
    import json as _json

    from kettle_jena_plugins_spark.sources.mongo import to_mongo_oplog

    ts = datetime.datetime(2300, 1, 1, 0, 0, 0, 999999)
    ch = _changes(spark, [("I", 7, ts, "c1", 0, "user", "hi", None)])
    env = to_mongo_oplog(ch).collect()[0]["value"]
    assert _json.loads(env)["ts"]["$timestamp"] == {"t": 10413792000, "i": 7}


def test_mongo_oplog_refuses_lsn_outside_ordinal_range(spark):
    """The BSON ordinal is an unsigned 32-bit int: an lsn of 2^32 fails the
    render instead of wrapping to i=0, which would sort it before a
    same-second lsn 2^32-1. In-range lsns still round-trip unchanged."""
    import json as _json

    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from kettle_jena_plugins_spark.sources.mongo import (
        parse_mongo_oplog,
        to_mongo_oplog,
    )

    top = (1 << 32) - 1
    ok = _changes(spark, [
        ("I", 0, _ts(1), "c1", 0, "user", "lo", None),
        ("U", top, _ts(1), "c1", 0, "user", "hi", None),
    ])
    rendered = to_mongo_oplog(ok)
    ords = sorted(
        _json.loads(r["value"])["ts"]["$timestamp"]["i"]
        for r in rendered.collect()
    )
    assert ords == [0, top]
    back = parse_mongo_oplog(rendered).orderBy("lsn").collect()
    assert [r["lsn"] % (1 << 32) for r in back] == [0, top]
    assert [r["text"] for r in back] == ["lo", "hi"]

    for lsn in (1 << 32, -1):
        bad = _changes(spark, [("U", lsn, _ts(1), "c1", 0, "user", "x", None)])
        with _pytest.raises(SparkRuntimeException, match="BSON ordinal"):
            to_mongo_oplog(bad).collect()


def test_mongo_ingest_forces_cell_merge(spark, tmp_path, capsys):
    """CLI ingest --dialect mongo auto-enables the cell-level merge (the
    oplog is inherently sparse — whole-row LWW would null untouched
    cells); streaming without partial_set_col is rejected."""
    import json as _json

    import pytest as _pytest

    from kettle_jena_plugins_spark.run import main
    from kettle_jena_plugins_spark.streaming.apply import (
        CDCConfig,
        run_stream,
    )
    from kettle_jena_plugins_spark.targets.parquet_lake import (
        ParquetLakeTarget,
    )

    ins = ('{"ts":{"$timestamp":{"t":1767225601,"i":1}},"op":"i",'
           '"ns":"app.transcripts","o":{"conv_id":"c1","turn_idx":0,'
           '"role":"user","text":"hi","tool":"calc"}}')
    patch = ('{"ts":{"$timestamp":{"t":1767225602,"i":2}},"op":"u",'
             '"ns":"app.transcripts","o":{"$set":{"text":"edited"}},'
             '"o2":{"conv_id":"c1","turn_idx":0}}')
    (tmp_path / "b0.jsonl").write_text(ins + "\n")
    (tmp_path / "b1.jsonl").write_text(patch + "\n")
    tbl = str(tmp_path / "tbl")
    assert main(["create", "--table", tbl]) == 0
    for i in range(2):
        assert main([
            "ingest", "--envelopes", str(tmp_path / f"b{i}.jsonl"),
            "--dialect", "mongo", "--table", tbl, "--batch-id", str(i),
            "--source-table", "transcripts",
        ]) == 0
    capsys.readouterr()
    assert main(["state", "--table", tbl, "--limit", "5"]) == 0
    out = [_json.loads(x) for x in
           capsys.readouterr().out.strip().splitlines()]
    # untouched cells survive the sparse update: the cell merge ran
    assert (out[0]["role"], out[0]["text"], out[0]["tool"]) == (
        "user", "edited", "calc")
    t2 = ParquetLakeTarget(spark, str(tmp_path / "tbl2"))
    t2.create()
    with _pytest.raises(ValueError, match="sparse"):
        run_stream(spark, str(tmp_path), t2, str(tmp_path / "ck"),
                   cfg=CDCConfig(), envelope_dialect="mongo")
    t2.drop()


def test_cli_ingest_envelopes_any_dialect(spark, tmp_path, capsys):
    """`run ingest`: raw wire-format JSON lines → parse → exactly-once
    MERGE, end-to-end through the CLI. Batch 0 arrives as Canal flat
    messages, batch 1 (an update + a delete) as Maxwell — the final
    state proves the dispatcher (sources/envelopes.py) feeds the same
    dialect-agnostic apply path (ts leads the LWW order, so the
    cross-dialect lsn spaces never decide a winner here)."""
    import json as _json

    from kettle_jena_plugins_spark.run import main
    from kettle_jena_plugins_spark.sources.canal import to_canal_json
    from kettle_jena_plugins_spark.sources.maxwell import to_maxwell_json
    from kettle_jena_plugins_spark.targets.parquet_lake import (
        ParquetLakeTarget,
    )

    ch1 = _changes(
        spark,
        [
            ("I", 1, _ts(1), "c1", 0, "user", "hello", None),
            ("I", 2, _ts(2), "c1", 1, "bot", "hi", "calc"),
            ("I", 3, _ts(3), "c2", 0, "user", "bye", None),
        ],
    )
    to_canal_json(ch1).coalesce(1).write.text(str(tmp_path / "env0"))
    ch2 = _changes(
        spark,
        [
            ("U", 4, _ts(4), "c1", 1, "bot", "edited", "calc"),
            ("D", 5, _ts(5), "c2", 0, None, None, None),
        ],
    )
    to_maxwell_json(ch2).coalesce(1).write.text(str(tmp_path / "env1"))

    tbl = str(tmp_path / "lake")
    assert main(["create", "--table", tbl]) == 0
    for i, dialect in enumerate(("canal", "maxwell")):
        assert main(
            ["ingest", "--envelopes", str(tmp_path / f"env{i}"),
             "--dialect", dialect, "--table", tbl,
             "--batch-id", str(i), "--source-table", "transcripts"]
        ) == 0
    out_lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    assert out_lines[-1].get("batch_id") == 1

    state = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in ParquetLakeTarget(spark, tbl, mode=None).read().collect()
    }
    assert state == {("c1", 0): "hello", ("c1", 1): "edited"}


def test_parse_envelope_dispatch_errors(spark):
    """Unknown dialects and debezium+table both raise with actionable
    messages (debezium envelopes carry no table name)."""
    import pytest

    from kettle_jena_plugins_spark.sources.envelopes import parse_envelope

    raw = spark.createDataFrame([("{}",)], "value string")
    with pytest.raises(ValueError, match="unknown dialect"):
        parse_envelope(raw, "og2log")
    with pytest.raises(ValueError, match="topic-per-table"):
        parse_envelope(raw, "debezium", table="transcripts")


def test_envelope_roundtrip_adversarial_strings(spark):
    """Escaping torture for all four dialect renderers/parsers in one
    pass: quotes, backslashes, control chars, JSON-in-JSON, non-BMP
    unicode, NUL, bidi text and long payloads must survive the
    render→parse trip byte-identically (the renderers lean on to_json
    for authentic escaping — this pins that property corpus-wide)."""
    from kettle_jena_plugins_spark.sources.envelopes import (
        DIALECTS,
        parse_envelope,
        render_envelope,
    )

    nasty = [
        "plain", "", " ", '"quoted"', "back\\slash", "new\nline",
        "tab\there", "cr\rreturn", "uni ✓ ☃ 漢字 🚀", "ctrl\x01\x1f",
        'json {"k": [1, 2], "s": "v"}', "</script><b>",
        "'; DROP TABLE t;--", "a" * 500, "\\u0041 not an escape",
        "trailing space ", "zażółć gęślą jaźń", "עברית והערבية معًا",
        "line1\nline2\nline3", 'mix "q\\b"\n\tend', "nul\x00byte",
    ]
    rows = [
        ("I", i + 1, _ts(1), f"c{i}", i, "u", t, None)
        for i, t in enumerate(nasty)
    ]
    ch = _changes(spark, rows)
    for dialect in DIALECTS:
        back = (
            parse_envelope(render_envelope(ch, dialect), dialect)
            .orderBy("turn_idx")
            .collect()
        )
        assert len(back) == len(rows), dialect
        for r, row in zip(back, rows):
            assert r["text"] == row[6], (dialect, repr(row[6]))
            assert r["conv_id"] == row[3] and r["op"] == "I", dialect


def test_malformed_envelopes_reach_dead_letter_not_dropped(spark):
    """A corrupted JSON line must surface as a null-op row for the
    dead-letter split in EVERY dialect — even with a table filter set
    (a malformed envelope has a null table, which must pass the filter,
    not vanish in it) and through Canal's exploded form
    (posexplode_outer emits a null-image row for null/empty data)."""
    from kettle_jena_plugins_spark.sources.envelopes import parse_envelope

    garbage = '{"truncated": '
    for dialect in ("maxwell", "wal2json", "canal", "dms", "mongo"):
        raw = spark.createDataFrame([(garbage,)], "value string")
        out = parse_envelope(raw, dialect, table="transcripts").collect()
        assert len(out) == 1 and out[0]["op"] is None, dialect
    raw = spark.createDataFrame([(garbage,)], "value string")
    out = parse_envelope(raw, "debezium").collect()
    assert len(out) == 1 and out[0]["op"] is None
    # canal: a non-DDL message with EMPTY data also surfaces (null keys
    # route to dead-letter) instead of disappearing in the explode
    raw = spark.createDataFrame(
        [('{"id":9,"database":"app","table":"transcripts","isDdl":false,'
          '"type":"INSERT","es":1767225601000,"data":[]}',)],
        "value string",
    )
    out = parse_envelope(raw, "canal", table="transcripts").collect()
    assert len(out) == 1 and out[0]["op"] == "I"
    assert out[0]["conv_id"] is None and out[0]["lsn"] is None


def test_envelope_schema_evolution_all_dialects(spark):
    """An evolved producer's added column (tool_meta) and widened
    turn_idx (int32→int64, the FIXTURES.md §2 evolution) survive every
    wire dialect: renderers infer the row image from the input's
    columns; parsers project the extension through payload_schema —
    without it, from_json would silently drop the new column."""
    from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA_V2
    from kettle_jena_plugins_spark.sources.envelopes import (
        parse_envelope,
        render_envelope,
    )

    ps = T.StructType(list(CHANGE_EVENT_SCHEMA_V2.fields[3:]))
    ch = spark.createDataFrame(
        [
            ("I", 1, _ts(1), "c1", 0, "user", "x", "t", '{"k":"m1"}'),
            ("U", 2, _ts(2), "c1", 1, "bot", "y", None, None),
        ],
        CHANGE_EVENT_SCHEMA_V2,
    )
    for dialect in ("debezium", "maxwell", "wal2json", "canal", "dms",
                    "mongo"):
        env = render_envelope(ch, dialect)
        back = (
            parse_envelope(env, dialect, payload_schema=ps)
            .orderBy("lsn")
            .collect()
        )
        assert [r["tool_meta"] for r in back] == ['{"k":"m1"}', None], dialect
        assert [r["turn_idx"] for r in back] == [0, 1], dialect
        assert back[0]["text"] == "x" and back[1]["role"] == "bot", dialect
        # without the extended schema the column silently drops — the
        # documented reason payload_schema exists
        legacy = parse_envelope(env, dialect).columns
        assert "tool_meta" not in legacy, dialect


def test_extended_payload_schema_spec():
    """'name:type,...' spec builder: appends to the transcripts base
    shape; rejects unknown types and duplicate names."""
    import pytest

    from kettle_jena_plugins_spark.sources.envelopes import (
        extended_payload_schema,
    )

    ps = extended_payload_schema("tool_meta:string, score:double")
    assert [f.name for f in ps.fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "tool_meta", "score"
    ]
    assert ps["score"].dataType.simpleString() == "double"
    with pytest.raises(ValueError, match="unsupported type"):
        extended_payload_schema("x:decimal")
    with pytest.raises(ValueError, match="already in the base"):
        extended_payload_schema("tool:string")


def test_cli_ingest_payload_cols_evolves_lake(spark, tmp_path, capsys):
    """`run ingest --payload-cols`: a second batch of envelopes carrying
    a NEW column evolves the lake (ALTER on first sight) and lands the
    values; rows from the pre-evolution batch read back null there."""
    import json as _json

    from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA
    from kettle_jena_plugins_spark.run import main
    from kettle_jena_plugins_spark.sources.debezium import to_debezium_json
    from kettle_jena_plugins_spark.targets.parquet_lake import (
        ParquetLakeTarget,
    )

    ch1 = _changes(
        spark, [("I", 1, _ts(1), "c1", 0, "user", "hello", None)]
    )
    to_debezium_json(ch1).coalesce(1).write.text(str(tmp_path / "env0"))
    v2 = T.StructType(
        list(CHANGE_EVENT_SCHEMA.fields)
        + [T.StructField("tool_meta", T.StringType(), True)]
    )
    ch2 = spark.createDataFrame(
        [("I", 2, _ts(2), "c2", 1, "bot", "tooled", "calc", '{"v":9}')],
        v2,
    )
    to_debezium_json(ch2).coalesce(1).write.text(str(tmp_path / "env1"))

    tbl = str(tmp_path / "lake")
    assert main(["create", "--table", tbl]) == 0
    assert main(
        ["ingest", "--envelopes", str(tmp_path / "env0"), "--dialect",
         "debezium", "--table", tbl, "--batch-id", "0"]
    ) == 0
    assert main(
        ["ingest", "--envelopes", str(tmp_path / "env1"), "--dialect",
         "debezium", "--table", tbl, "--batch-id", "1",
         "--payload-cols", "tool_meta:string"]
    ) == 0
    capsys.readouterr()

    state = {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["tool_meta"])
        for r in ParquetLakeTarget(spark, tbl, mode=None).read().collect()
    }
    assert state == {
        ("c1", 0): ("hello", None),
        ("c2", 1): ("tooled", '{"v":9}'),
    }


def test_cli_index_probe_max_bucket(spark, tmp_path, capsys):
    """`run index probe --max-bucket N`: the hot-bucket guard is operator-
    tunable from the CLI (0 disables; default = MAX_BUCKET_DEFAULT)."""
    import json as _json

    from kettle_jena_plugins_spark.run import main

    boiler = "all rights reserved contact us privacy policy terms of use"
    spark.createDataFrame(
        [(i, boiler) for i in range(30)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "idx_docs"))
    spark.createDataFrame(
        [(900, boiler)], "doc_id long, text string"
    ).write.parquet(str(tmp_path / "batch"))
    assert main(
        ["index", "build", "--docs", str(tmp_path / "idx_docs"),
         "--index", str(tmp_path / "idx")]
    ) == 0
    capsys.readouterr()

    def probe(*extra):
        rc = main(
            ["index", "probe", "--docs", str(tmp_path / "batch"),
             "--index", str(tmp_path / "idx"), *extra]
        )
        assert rc == 0
        lines = [
            _json.loads(ln)
            for ln in capsys.readouterr().out.strip().splitlines()
            if ln.startswith("{")
        ]
        return lines[-1]["duplicates"]

    # 30 index + 1 batch > 20: guard drops the boilerplate bucket
    assert probe("--max-bucket", "20") == 0
    # guard disabled: all 30 copies match
    assert probe("--max-bucket", "0") == 30
