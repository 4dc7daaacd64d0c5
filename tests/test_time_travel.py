"""Snapshot time travel, net changelog between snapshots, and snapshot
expiry on the parquet lake target — the Iceberg history/incremental-read
analogues over the versioned-manifest layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget


def ev(spark, rows):
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string, op string, lsn long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


B0 = [
    ("c1", 0, "user", "hello", None, "2026-01-01 00:00:00", "I", 1),
    ("c1", 1, "assistant", "hi", None, "2026-01-01 00:00:01", "I", 2),
    ("c2", 0, "user", "x", None, "2026-01-01 00:00:02", "I", 3),
]
B1 = [
    ("c1", 1, "assistant", "hi there", None, "2026-01-01 00:01:00", "U", 4),
    ("c2", 0, None, None, None, "2026-01-01 00:01:01", "D", 5),
    ("c3", 0, "user", "new", None, "2026-01-01 00:01:02", "I", 6),
]
B2 = [
    ("c2", 0, "user", "back", None, "2026-01-01 00:02:00", "I", 7),
]


def make(spark, tmp_path, mode="mor"):
    tgt = ParquetLakeTarget(spark, str(tmp_path / "tbl"), n_buckets=4, mode=mode)
    tgt.create()
    versions = []
    for i, b in enumerate((B0, B1, B2)):
        tgt.merge_batch(ev(spark, b), i)
        versions.append(tgt.manifest()["version"])
    return tgt, versions


def state(df):
    return {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in df.select("conv_id", "turn_idx", "text").collect()
    }


def test_time_travel_reads_each_snapshot(spark, tmp_path):
    tgt, versions = make(spark, tmp_path)
    v0, v1, v2 = versions
    assert state(tgt.read(version=v0)) == {
        ("c1", 0): "hello", ("c1", 1): "hi", ("c2", 0): "x",
    }
    assert state(tgt.read(version=v1)) == {
        ("c1", 0): "hello", ("c1", 1): "hi there", ("c3", 0): "new",
    }
    assert state(tgt.read(version=v2)) == state(tgt.read())
    assert state(tgt.read())[("c2", 0)] == "back"
    assert tgt.snapshots()[0] == 0  # create() commit retained too


def test_changes_between_classifies_net_ops(spark, tmp_path):
    tgt, versions = make(spark, tmp_path)
    v0, v1, v2 = versions
    ch = {
        (r["conv_id"], r["turn_idx"]): (r["_change_op"], r["text"])
        for r in tgt.changes_between(v0, v1).collect()
    }
    assert ch == {
        ("c1", 1): ("U", "hi there"),
        ("c2", 0): ("D", None),
        ("c3", 0): ("I", "new"),
    }
    # delete-then-reinsert across the whole range nets to an update-or-insert
    ch2 = {
        (r["conv_id"], r["turn_idx"]): r["_change_op"]
        for r in tgt.changes_between(v0, v2).collect()
    }
    assert ch2[("c2", 0)] == "U"  # was live at v0, live again at v2
    ch3 = {
        (r["conv_id"], r["turn_idx"]): r["_change_op"]
        for r in tgt.changes_between(v1, v2).collect()
    }
    assert ch3 == {("c2", 0): "I"}  # tombstoned at v1 → re-inserted


def test_changes_between_empty_when_same(spark, tmp_path):
    tgt, versions = make(spark, tmp_path)
    assert tgt.changes_between(versions[2], versions[2]).count() == 0


def test_expire_snapshots_keeps_current_readable(spark, tmp_path):
    tgt, versions = make(spark, tmp_path, mode="cow")  # cow leaves old groups
    before = state(tgt.read())
    res = tgt.expire_snapshots(keep_last=1)
    assert res["removed_manifests"] > 0
    # cow rewrote buckets each batch → expiry reclaims old file groups
    assert res["removed_files"] > 0
    assert state(tgt.read()) == before
    with pytest.raises(ValueError, match="does not exist"):
        tgt.read(version=versions[0]).collect()
    # a further merge after expiry still works
    tgt.merge_batch(
        ev(spark, [("c9", 0, "user", "post-expire", None,
                    "2026-01-01 00:03:00", "I", 9)]),
        3,
    )
    assert state(tgt.read())[("c9", 0)] == "post-expire"


def test_expire_keep_last_zero_keeps_only_current(spark, tmp_path):
    """keep_last=0 keeps the current snapshot alone (not every manifest);
    a negative count is refused, by the CLI before any work."""
    from kettle_jena_plugins_spark.run import main

    tgt, versions = make(spark, tmp_path)
    before = state(tgt.read())
    assert len(tgt.snapshots()) == 4
    with pytest.raises(ValueError, match="keep_last"):
        tgt.expire_snapshots(keep_last=-1)
    with pytest.raises(SystemExit) as e:
        main(["maintain", "--table", tgt.root, "--keep-last", "-1"])
    assert e.value.code == 2
    assert tgt.expire_snapshots(keep_last=0)["removed_manifests"] == 3
    assert tgt.snapshots() == [versions[-1]]
    assert state(tgt.read()) == before


def test_snapshot_dir_holds_only_manifests_and_ignores_a_stale_pointer(
    spark, tmp_path
):
    """The manifests are the only commit record: _snapshots/ holds nothing
    else, and a pointer file left by an older format version naming an
    older snapshot does not change which snapshot is current."""
    tgt, versions = make(spark, tmp_path)
    snap_dir = os.path.join(tgt.root, "_snapshots")
    assert sorted(os.listdir(snap_dir)) == sorted(f"v{v}.json" for v in versions + [0])
    before = state(tgt.read())
    with open(os.path.join(snap_dir, "CURRENT"), "w") as f:
        f.write(str(versions[0]))
    reopened = ParquetLakeTarget(spark, tgt.root)
    assert reopened.manifest()["version"] == versions[-1]
    assert state(reopened.read()) == before


def test_expire_snapshots_path_spelling_safe(spark, tmp_path):
    """A differently-spelled (but same) table root must not make live files
    look unreferenced; a genuinely moved table must refuse to delete."""
    import os

    tgt, _versions = make(spark, tmp_path, mode="cow")
    before = state(tgt.read())
    os.makedirs(str(tmp_path / "x"))
    respelled = ParquetLakeTarget(
        spark, str(tmp_path / "x" / ".." / "tbl"), n_buckets=4, mode="cow"
    )
    respelled.expire_snapshots(keep_last=1)
    assert state(tgt.read()) == before

    # moved table: manifests reference the old location → refuse
    import shutil

    moved_root = str(tmp_path / "moved")
    shutil.copytree(str(tmp_path / "tbl"), moved_root)
    moved = ParquetLakeTarget(spark, moved_root, n_buckets=4, mode="cow")
    with pytest.raises(RuntimeError, match="refusing to delete"):
        moved.expire_snapshots(keep_last=1)


def test_mode_adopted_from_manifest(spark, tmp_path):
    t1 = ParquetLakeTarget(
        spark, str(tmp_path / "m"), n_buckets=2, mode="mor", compact_threshold=5
    )
    t1.create()
    reopened = ParquetLakeTarget(spark, str(tmp_path / "m"), mode=None)
    assert reopened.mode == "mor"
    assert (reopened.n_buckets, reopened.compact_threshold) == (2, 5)
    fresh = ParquetLakeTarget(spark, str(tmp_path / "nope"), mode=None)
    assert fresh.mode == "cow"
    assert (fresh.n_buckets, fresh.compact_threshold) == (16, 8)
    # a manifest that predates the layout record: the given value or the
    # default, as before the record existed
    m = t1.manifest()
    del m["n_buckets"], m["compact_threshold"]
    m["version"] += 1
    t1._commit(m)
    legacy = ParquetLakeTarget(spark, str(tmp_path / "m"), n_buckets=3)
    assert (legacy.mode, legacy.n_buckets, legacy.compact_threshold) == (
        "mor", 3, 8
    )


def test_expiry_keeps_an_uncommitted_file_group(spark, tmp_path):
    """A merge's file group written after the current commit is not yet
    referenced by any manifest; expiry must not delete it."""
    tgt, _versions = make(spark, tmp_path, mode="cow")
    group = tgt._write_file_group(
        ev(spark, [("c7", 0, "user", "pending", None,
                    "2026-01-01 00:04:00", "I", 8)])
        .withColumn("_lsn", F.col("lsn")).withColumn("_deleted", F.lit(False))
        .drop("op", "lsn")
    )
    files = [f for fs in group.values() for f in fs]
    assert files
    res = tgt.expire_snapshots(keep_last=1)
    assert res["removed_files"] > 0  # cow's compacted-away groups still go
    assert all(os.path.exists(f) for f in files)


def test_cli_needs_a_table_and_create_needs_none(spark, tmp_path, capsys):
    """Commands on a path with no table, and create on an existing one,
    are usage errors (exit 2), not tracebacks."""
    from kettle_jena_plugins_spark.run import main

    tbl = str(tmp_path / "none")
    for argv in (
        ["apply", "--events", str(tmp_path), "--batch-id", "0"],
        ["ingest", "--envelopes", str(tmp_path), "--dialect", "debezium",
         "--batch-id", "0"],
        ["stream", "--wal", str(tmp_path), "--checkpoint", str(tmp_path / "ck")],
        ["state"],
        ["changes", "--from-version", "0", "--to-version", "1"],
        ["maintain", "--compact"],
    ):
        with pytest.raises(SystemExit) as e:
            main([*argv, "--table", tbl])
        assert e.value.code == 2, argv
        assert "run create first" in capsys.readouterr().err
    assert not os.path.exists(tbl) and not (tmp_path / "ck").exists()
    assert main(["create", "--table", tbl, "--n-buckets", "4"]) == 0
    with pytest.raises(SystemExit) as e:
        main(["create", "--table", tbl])
    assert e.value.code == 2
    assert "already exists" in capsys.readouterr().err
    assert ParquetLakeTarget(spark, tbl).n_buckets == 4
