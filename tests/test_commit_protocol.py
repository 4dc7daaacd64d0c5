"""The lake's commit protocol: a commit is the exclusive creation of
``_snapshots/v{N}.json``. Two writers that build on the same snapshot
cannot both commit (the loser raises ``CommitConflict`` and the table keeps
the winner's state), and a commit that crashes before its manifest is
linked into place leaves no snapshot behind. A batch that lost either way
replays exactly once through the batch-id gate."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.datagen import gen_change_events
from kettle_jena_plugins_spark.operators.lww import lww_state
from kettle_jena_plugins_spark.streaming.apply import CDCConfig, apply_batch
from kettle_jena_plugins_spark.targets import parquet_lake
from kettle_jena_plugins_spark.targets.parquet_lake import (
    CommitConflict,
    ParquetLakeTarget,
)

CFG = CDCConfig(normalize=False)
COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


@pytest.fixture(scope="module")
def batches(spark):
    """Four batches of 100 events over 80 keys, split by lsn so that later
    batches update and delete earlier batches' rows."""
    ev = gen_change_events(spark, 400, n_convs=20, turns_per_conv=4, seed=11)
    ev = ev.cache()
    yield [ev.filter(F.col("lsn") % 4 == i) for i in range(4)], ev
    ev.unpersist()


def rows(df):
    return sorted(tuple(r) for r in df.select(*COLS).collect())


def table(spark, tmp_path, batches, n_applied):
    tgt = ParquetLakeTarget(spark, str(tmp_path / "tbl"), n_buckets=4, mode="mor")
    tgt.create()
    for i in range(n_applied):
        assert apply_batch(tgt, batches[i], i, CFG).applied
    return tgt


def test_merge_during_compaction_wins_and_compaction_conflicts(
    spark, tmp_path, batches, monkeypatch
):
    """A second writer commits batch 3 while compact() sits between its
    read and its commit: the compactor's commit must fail, not overwrite
    the merge's snapshot and lose batch 3."""
    parts, all_events = batches
    tgt = table(spark, tmp_path, parts, 3)
    writer = ParquetLakeTarget(spark, tgt.root)
    compact_layers = tgt._compact_layers

    def racing(*args, **kwargs):
        out = compact_layers(*args, **kwargs)
        assert apply_batch(writer, parts[3], 3, CFG).applied
        return out

    monkeypatch.setattr(tgt, "_compact_layers", racing)
    with pytest.raises(CommitConflict):
        tgt.compact()
    assert rows(tgt.read()) == rows(lww_state(all_events))
    assert tgt.last_committed_batch() == 3


def test_merge_after_compaction_conflicts_then_replays_once(
    spark, tmp_path, batches, monkeypatch
):
    """A compactor commits first while a merge of batch 3 is writing its
    delta: the merge raises CommitConflict, and re-running the batch with
    the same id applies it once."""
    parts, all_events = batches
    tgt = table(spark, tmp_path, parts, 3)
    compactor = ParquetLakeTarget(spark, tgt.root)
    write_file_group = tgt._write_file_group

    def racing(*args, **kwargs):
        out = write_file_group(*args, **kwargs)
        assert compactor.compact() > 0
        return out

    monkeypatch.setattr(tgt, "_write_file_group", racing)
    with pytest.raises(CommitConflict):
        apply_batch(tgt, parts[3], 3, CFG)
    monkeypatch.undo()
    assert tgt.last_committed_batch() == 2  # the compaction's snapshot
    assert apply_batch(tgt, parts[3], 3, CFG).applied
    assert not apply_batch(tgt, parts[3], 3, CFG).applied
    assert tgt.snapshots() == list(range(6))  # create, 3 batches, compact, 3
    assert rows(tgt.read()) == rows(lww_state(all_events))


def test_crash_after_manifest_write_commits_nothing(
    spark, tmp_path, batches, monkeypatch
):
    """A commit that dies after writing the manifest's bytes but before
    linking it into place leaves the table as it was, and the replayed
    batch commits once; expiry reclaims the crashed commit's temp file."""
    parts, all_events = batches
    tgt = table(spark, tmp_path, parts, 3)
    before = (tgt.snapshots(), tgt.manifest(), rows(tgt.read()))
    dump = parquet_lake.json.dump

    def crashing(obj, f, **kwargs):
        dump(obj, f, **kwargs)
        raise OSError("crash after the manifest write")

    monkeypatch.setattr(parquet_lake.json, "dump", crashing)
    with pytest.raises(OSError, match="crash"):
        apply_batch(tgt, parts[3], 3, CFG)
    monkeypatch.undo()
    assert (tgt.snapshots(), tgt.manifest(), rows(tgt.read())) == before

    res = apply_batch(tgt, parts[3], 3, CFG)
    assert res.applied and res.snapshot_version == before[0][-1] + 1
    assert not apply_batch(tgt, parts[3], 3, CFG).applied
    assert rows(tgt.read()) == rows(lww_state(all_events))
    snap_dir = os.path.join(tgt.root, "_snapshots")
    assert any(f.startswith(".v") for f in os.listdir(snap_dir))
    tgt.expire_snapshots(keep_last=10)
    assert sorted(os.listdir(snap_dir)) == sorted(
        f"v{v}.json" for v in tgt.snapshots()
    )
