"""Partial-image ingest end-to-end: sparse change events (set-columns
mask) through apply_batch → ParquetLakeTarget.merge_batch's cell-level
merge. Partial images need the old row, so every mode reads the touched
keys' committed rows into the cell reduce; cell resolution is exact
within a batch and ROW-granular across batches (the lake stores row
versions, not cell versions) — both contracts are pinned here.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import types as T

from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA
from kettle_jena_plugins_spark.streaming.apply import CDCConfig, apply_batch
from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

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


CFG = CDCConfig(normalize=False, partial_set_col="set_cols")


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


def test_sparse_updates_coalesce_against_table_state(spark, target):
    """A partial update inherits every untouched cell from the committed
    row; a later partial update layers on top; explicit null writes
    null the cell."""
    apply_batch(target, make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="hello", tool="calc",
           set_cols=("role", "text", "tool")),
        ev("I", 2, 2, "b", 0, role="bot", text="x",
           set_cols=("role", "text", "tool")),
    ]), 0, cfg=CFG)
    apply_batch(target, make(spark, [
        ev("U", 3, 3, "a", 0, text="edited", set_cols=("text",)),
    ]), 1, cfg=CFG)
    apply_batch(target, make(spark, [
        ev("U", 4, 4, "a", 0, tool=None, set_cols=("tool",)),  # $unset
        ev("U", 5, 5, "b", 0, role="human", set_cols=("role",)),
    ]), 2, cfg=CFG)
    assert state(target) == {
        ("a", 0): ("user", "edited", None),
        ("b", 0): ("human", "x", None),
    }


def test_delete_then_sparse_revival(spark, target):
    """A tombstone shadows the committed cells; a later partial update
    revives the row with ONLY its own cells."""
    apply_batch(target, make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="old", tool="calc",
           set_cols=("role", "text", "tool")),
    ]), 0, cfg=CFG)
    apply_batch(target, make(spark, [ev("D", 2, 2, "a", 0)]), 1, cfg=CFG)
    assert state(target) == {}
    apply_batch(target, make(spark, [
        ev("U", 3, 3, "a", 0, text="revived", set_cols=("text",)),
    ]), 2, cfg=CFG)
    assert state(target) == {("a", 0): (None, "revived", None)}


def test_within_batch_cell_order_out_of_order_delivery(spark, target):
    """Inside one batch, cells resolve at CELL granularity under the
    (ts, lsn) order regardless of delivery order."""
    apply_batch(target, make(spark, [
        ev("U", 5, 5, "a", 0, role="late-role", set_cols=("role",)),
        ev("I", 1, 1, "a", 0, role="user", text="base", tool="t",
           set_cols=("role", "text", "tool")),
        ev("U", 3, 3, "a", 0, role="mid", text="mid", set_cols=("role", "text")),
    ]), 0, cfg=CFG)
    assert state(target) == {("a", 0): ("late-role", "mid", "t")}


def test_cross_batch_late_cell_resolves_at_row_granularity(spark, target):
    """The documented across-batch contract: a late cell write older
    than the row's committed version loses ENTIRELY (row granularity —
    the lake stores one (ts, lsn) per row) and is counted late."""
    apply_batch(target, make(spark, [
        ev("I", 1, 1, "a", 0, role="user", text="base",
           set_cols=("role", "text", "tool")),
        ev("U", 5, 5, "a", 0, text="newer", set_cols=("text",)),
    ]), 0, cfg=CFG)
    # lsn 3 < committed row version 5: within-batch cell semantics would
    # apply role='late' (role last written at lsn 1); across batches the
    # committed row's version guards the whole row.
    res = apply_batch(target, make(spark, [
        ev("U", 3, 3, "a", 0, role="late", set_cols=("role",)),
    ]), 1, cfg=CFG)
    assert state(target) == {("a", 0): ("user", "newer", None)}
    assert res.late_events >= 1


def test_partial_replay_is_idempotent_and_convergent(spark, target):
    """Same-lineage replay of a committed batch id is a no-op; a NEW
    lineage re-applying the same events converges to identical state."""
    b0 = [ev("I", 1, 1, "a", 0, role="u", text="x",
             set_cols=("role", "text", "tool"))]
    b1 = [ev("U", 2, 2, "a", 0, text="y", set_cols=("text",))]
    apply_batch(target, make(spark, b0), 0, cfg=CFG)
    apply_batch(target, make(spark, b1), 1, cfg=CFG)
    want = state(target)
    res = apply_batch(target, make(spark, b1), 1, cfg=CFG)  # replay
    assert res.applied is False and state(target) == want
    res2 = apply_batch(target, make(spark, b1), 0, cfg=CFG,
                       stream_id="lineage-2")
    assert res2.applied is True and state(target) == want


def test_set_cols_mask_never_evolves_target_schema(spark, target):
    """The mask column is envelope metadata: the evolution step must not
    ALTER it into the table."""
    apply_batch(target, make(spark, [
        ev("I", 1, 1, "a", 0, role="u", text="x",
           set_cols=("role", "text", "tool")),
    ]), 0, cfg=CFG)
    assert "set_cols" not in [f.name for f in target.schema().fields]


def test_wal2json_sparse_columns_to_cell_merge(spark, target):
    """The real partial-image source: wal2json WITHOUT replica identity
    full omits unchanged/TOASTed columns from the update's column array.
    set_cols_col surfaces the array's names as the mask; the cell merge
    inherits the omitted columns from the committed row."""
    from kettle_jena_plugins_spark.sources.wal2json import parse_wal2json

    full = (
        '{"action":"I","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"role","type":"text","value":"user"},'
        '{"name":"text","type":"text","value":"hello"},'
        '{"name":"tool","type":"text","value":"calc"}],'
        '"lsn":"0/10","timestamp":"2026-01-01 00:00:01.000000+00"}'
    )
    # sparse update: only keys + text in the column array
    sparse = (
        '{"action":"U","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"text","type":"text","value":"edited"}],'
        '"lsn":"0/20","timestamp":"2026-01-01 00:00:02.000000+00"}'
    )
    raw0 = spark.createDataFrame([(full,)], "value string")
    raw1 = spark.createDataFrame([(sparse,)], "value string")
    ev0 = parse_wal2json(raw0, table="transcripts", set_cols_col="set_cols")
    ev1 = parse_wal2json(raw1, table="transcripts", set_cols_col="set_cols")
    apply_batch(target, ev0, 0, cfg=CFG)
    apply_batch(target, ev1, 1, cfg=CFG)
    assert state(target) == {("c1", 0): ("user", "edited", "calc")}


def test_streaming_partial_ingest_with_resume(spark, tmp_path):
    """run_stream over sparse wal2json drop files: drain, land another
    sparse file, resume from the checkpoint — cells coalesce across
    micro-batches and restarts; non-wal2json dialects are rejected."""
    from kettle_jena_plugins_spark.streaming.apply import run_stream

    full = (
        '{"action":"I","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"role","type":"text","value":"user"},'
        '{"name":"text","type":"text","value":"hello"},'
        '{"name":"tool","type":"text","value":"calc"}],'
        '"lsn":"0/10","timestamp":"2026-01-01 00:00:01.000000+00"}'
    )
    sparse1 = (
        '{"action":"U","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"text","type":"text","value":"edited"}],'
        '"lsn":"0/20","timestamp":"2026-01-01 00:00:02.000000+00"}'
    )
    sparse2 = (
        '{"action":"U","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"role","type":"text","value":"human"}],'
        '"lsn":"0/30","timestamp":"2026-01-01 00:00:03.000000+00"}'
    )
    wal = tmp_path / "wal"
    wal.mkdir()
    (wal / "seg0.jsonl").write_text(full + "\n" + sparse1 + "\n")
    tbl = ParquetLakeTarget(spark, str(tmp_path / "tbl"), n_buckets=2)
    tbl.create()
    ckpt = str(tmp_path / "ckpt")
    run_stream(spark, str(wal), tbl, ckpt, cfg=CFG,
               envelope_dialect="wal2json", source_table="transcripts")
    assert state(tbl) == {("c1", 0): ("user", "edited", "calc")}
    # land a new segment; resume from the same checkpoint
    (wal / "seg1.jsonl").write_text(sparse2 + "\n")
    run_stream(spark, str(wal), tbl, ckpt, cfg=CFG,
               envelope_dialect="wal2json", source_table="transcripts")
    assert state(tbl) == {("c1", 0): ("human", "edited", "calc")}
    with pytest.raises(ValueError, match="wal2json"):
        run_stream(spark, str(wal), tbl, str(tmp_path / "ck2"), cfg=CFG,
                   envelope_dialect="maxwell")
    tbl.drop()


def test_cli_ingest_partial_images(spark, tmp_path, capsys):
    """`run ingest --partial-images`: sparse wal2json lines through the
    CLI front door land as cell-coalesced rows; the flag is rejected for
    full-image dialects."""
    import json as _json

    from kettle_jena_plugins_spark.run import main

    full = (
        '{"action":"I","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"role","type":"text","value":"user"},'
        '{"name":"text","type":"text","value":"hello"},'
        '{"name":"tool","type":"text","value":"calc"}],'
        '"lsn":"0/10","timestamp":"2026-01-01 00:00:01.000000+00"}'
    )
    sparse = (
        '{"action":"U","schema":"public","table":"transcripts","columns":['
        '{"name":"conv_id","type":"text","value":"c1"},'
        '{"name":"turn_idx","type":"integer","value":0},'
        '{"name":"text","type":"text","value":"edited"}],'
        '"lsn":"0/20","timestamp":"2026-01-01 00:00:02.000000+00"}'
    )
    tbl = str(tmp_path / "tbl")
    for i, line in enumerate((full, sparse)):
        (tmp_path / f"b{i}.jsonl").write_text(line + "\n")
    assert main(["create", "--table", tbl]) == 0
    for i in range(2):
        assert main([
            "ingest", "--envelopes", str(tmp_path / f"b{i}.jsonl"),
            "--dialect", "wal2json", "--table", tbl,
            "--batch-id", str(i), "--source-table", "transcripts",
            "--partial-images",
        ]) == 0
    capsys.readouterr()
    assert main(["state", "--table", tbl, "--limit", "5"]) == 0
    out = [_json.loads(x) for x in
           capsys.readouterr().out.strip().splitlines()]
    assert out[0]["text"] == "edited" and out[0]["tool"] == "calc"
    assert out[0]["role"] == "user"
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["ingest", "--envelopes", str(tmp_path / "b0.jsonl"),
              "--dialect", "debezium", "--table", tbl,
              "--batch-id", "9", "--partial-images"])


def test_cli_stream_partial_images_needs_sparse_dialect(tmp_path, capsys):
    """`run stream --partial-images` is a usage error without a dialect or
    with a whole-row one; the check runs before the stream starts."""
    from kettle_jena_plugins_spark.run import main

    base = ["stream", "--wal", str(tmp_path), "--table", str(tmp_path / "t"),
            "--checkpoint", str(tmp_path / "ck"), "--partial-images"]
    with pytest.raises(SystemExit):
        main(base)
    assert "require --dialect" in capsys.readouterr().err
    with pytest.raises(SystemExit):
        main([*base, "--dialect", "debezium"])
    assert "sparse-capable dialect" in capsys.readouterr().err
    assert not (tmp_path / "ck").exists()
