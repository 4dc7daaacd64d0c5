"""ParquetLakeTarget — a minimal lake-table format with the commit semantics
the north rule requires, built from scratch on parquet + exclusively created
snapshot manifests.

Why it exists: the sandbox ships no Iceberg runtime jar, so `MERGE INTO`
cannot be issued as SQL here. This target implements the same contract —
key-partitioned upsert, snapshot isolation, idempotent batch sequencing,
per-partition LSN high-watermarks, schema evolution, copy-on-write AND
merge-on-read write modes — so the engine's semantics are fully exercised
locally; `IcebergTarget` (targets/iceberg.py) is the drop-in for a real
cluster.

Reference analogue: the Serialize-Jena-Model sink folds all rows into one
model and flushes once at end-of-input (JenaSerializerStep.java:131,243-338);
here "flush once" becomes "one atomic snapshot commit per micro-batch", and
the partition-number-decorated filename (JenaSerializerStep.java:257-264)
becomes hash-bucket layout on conv_id.

Layout (table root):
    data/v{uuid}/_bucket={k}/part-*.parquet       file groups (base or delta)
    _snapshots/v{N}.json                          manifest: layout, per-
                                                  bucket LAYER list (ordered
                                                  file groups + schema id),
                                                  batch id, watermarks, metrics

A commit IS the exclusive creation of v{N}.json: the manifest is written
to a dot-named temp file and hard-linked into place (os.link fails if
v{N}.json exists), so of two writers building on v{N-1} one commits and the
other gets CommitConflict. The current snapshot is the newest v{N}.json;
there is no pointer file.

The layout (n_buckets, mode, compact_threshold) is chosen once, at create,
and every commit carries it forward. Opening an existing table reads it
from the manifest: rows hashed under another bucket count would be lost.

Write modes — one merge path; the mode only sets the compaction threshold.
Every merge appends a batch-local LWW-reduced DELTA layer to the affected
buckets (write cost O(batch), independent of table size), compacts each
bucket whose layer stack then exceeds the threshold, and commits once;
reads resolve LWW across layers. The batch's counts and per-bucket LSN
watermarks are observed on its own delta write, so no written file is
re-opened.
    cow — threshold 1: every touched bucket that had a prior layer is
          compacted back to one base layer in the same commit
          (read-optimal, write-amplified).
    mor — threshold compact_threshold: layers accumulate and compact
          amortized (O(1) rewrites per layer). This is the high-throughput
          CDC path — the analogue of Iceberg's merge-on-read MERGE mode.

Correctness under both modes rests on the same invariant: the visible row
set equals LWW over (ts, lsn, op) of everything ever written, with deletes
as tombstones so late updates older than an applied delete lose.

Scale notes: merges touch only affected buckets; the LWW is the agg-based
reduce with map-side partial aggregation; tombstones bound late-data
correctness without unbounded streaming state; MOR bounds write
amplification at high batch rates.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..model import LWW_ORDER, MERGE_KEYS, TRANSCRIPTS_SCHEMA
from ..operators.lww import lww_reduce, lww_reduce_partial

INTERNAL_COLS = ("_lsn", "_deleted")
LAYOUT_DEFAULTS = {"n_buckets": 16, "mode": "cow", "compact_threshold": 8}


class CommitConflict(RuntimeError):
    """Another writer committed the snapshot version this commit was built
    on top of; the table is left as that writer left it."""


@dataclass
class MergeResult:
    batch_id: int
    applied: bool  # False = idempotent replay skip
    events_in: int = 0
    keys_upserted: int = 0
    keys_deleted: int = 0
    late_events: int = 0
    buckets_rewritten: int = 0
    buckets_compacted: int = 0
    snapshot_version: int = -1
    extra: dict = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        """The batch's six counts, as the manifest ``metrics`` and the
        apply metrics jsonl both record them."""
        return {
            "events_in": self.events_in,
            "keys_upserted": self.keys_upserted,
            "keys_deleted": self.keys_deleted,
            "late_events": self.late_events,
            "buckets_rewritten": self.buckets_rewritten,
            "buckets_compacted": self.buckets_compacted,
        }


class ParquetLakeTarget:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int | None = None,
        mode: str | None = None,
        compact_threshold: int | None = None,
    ):
        """The layout (n_buckets, mode, compact_threshold) is chosen once, at
        create, and recorded in the manifest. An existing table takes it
        from there: None adopts it, and a value that contradicts it raises
        ValueError. A table not created yet — or one whose manifest predates
        the record — uses the given value or the default (16, "cow", 8).
        compact_threshold applies to mor only; cow compacts every commit."""
        self.spark = spark
        self.root = root.rstrip("/")
        self._snap_dir = os.path.join(self.root, "_snapshots")
        recorded = self.manifest() if self.exists() else {}
        given = {"n_buckets": n_buckets, "mode": mode,
                 "compact_threshold": compact_threshold}
        for key, value in given.items():
            have = recorded.get(key)
            if have is None:
                have = LAYOUT_DEFAULTS[key] if value is None else value
            elif value is not None and value != have:
                raise ValueError(
                    f"table at {self.root} was created with {key}={have!r}, "
                    f"not {value!r}"
                )
            setattr(self, key, have)
        if self.mode not in ("cow", "mor"):
            raise ValueError(f"mode must be cow or mor, not {self.mode!r}")

    # ---------------------------------------------------------------- meta

    def exists(self) -> bool:
        return bool(self.snapshots())

    def manifest(self, version: int | None = None) -> dict:
        """Current (newest) manifest, or a historical one (time travel) —
        every commit keeps its v{N}.json until expire_snapshots removes it."""
        if version is None:
            versions = self.snapshots()
            if not versions:
                raise ValueError(f"no table at {self.root}")
            version = versions[-1]
        try:
            with open(os.path.join(self._snap_dir, f"v{version}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot v{version} does not exist (expired or never "
                f"committed); available: {self.snapshots()}"
            ) from None

    def snapshots(self) -> list[int]:
        """Committed snapshot versions still on disk, oldest first."""
        if not os.path.isdir(self._snap_dir):
            return []
        out = []
        for f in os.listdir(self._snap_dir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    out.append(int(f[1:-5]))
                except ValueError:
                    pass
        return sorted(out)

    def last_committed_batch(self) -> int:
        return self.manifest()["batch_id"] if self.exists() else -1

    def watermarks(self) -> dict[str, int]:
        """Per-bucket high-watermark LSN (the 'cdc.watermark.lsn.<partition>'
        snapshot property from FIXTURES.md §1)."""
        return {k: int(v) for k, v in self.manifest().get("watermarks", {}).items()}

    @staticmethod
    def _current_schema(m: dict) -> T.StructType:
        return T.StructType.fromJson(m["schemas"][str(m["current_schema_id"])])

    def schema(self) -> T.StructType:
        return self._current_schema(self.manifest())

    def _commit(self, manifest: dict) -> int:
        """Commit by creating v{N}.json exclusively: write it aside, then
        hard-link it into place. A crash before the link commits nothing."""
        os.makedirs(self._snap_dir, exist_ok=True)
        version = manifest["version"]
        tmp = os.path.join(self._snap_dir, f".v{version}.tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, default=str)
        try:
            os.link(tmp, os.path.join(self._snap_dir, f"v{version}.json"))
        except FileExistsError:
            raise CommitConflict(
                f"snapshot v{version} of {self.root} was committed by another "
                "writer; this commit's files are orphans that expiry reclaims"
            ) from None
        finally:
            os.remove(tmp)
        return version

    # ---------------------------------------------------------------- init

    def create(self, schema: T.StructType | None = None) -> None:
        """Create the empty table, recording its layout in the manifest;
        every later commit carries it forward."""
        if self.exists():
            raise ValueError(f"target already exists at {self.root}")
        logical = T.StructType((schema or TRANSCRIPTS_SCHEMA).fields)
        self._commit({
            "version": 0,
            "mode": self.mode,
            "n_buckets": self.n_buckets,
            "compact_threshold": self.compact_threshold,
            "batch_id": -1,
            "current_schema_id": 0,
            "schemas": {"0": logical.jsonValue()},
            "buckets": {},
            "watermarks": {},
            "metrics": {},
        })

    # ---------------------------------------------------------------- read

    def _bucket_col(self, col: str = "conv_id") -> F.Column:
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_buckets)).cast("int")

    def _align(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project/cast a file-group DataFrame to the current schema: missing
        columns → null, narrower types → cast (the schema-evolution read
        path; the reference analogue is ActionIfNoSuchField=IGNORE)."""
        cols = []
        have = {f.name: f for f in df.schema.fields}
        for f_ in schema.fields:
            if f_.name in have:
                cols.append(F.col(f_.name).cast(f_.dataType).alias(f_.name))
            else:
                cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
        for ic in INTERNAL_COLS:
            cols.append(F.col(ic))
        return df.select(*cols)

    def _internal_schema(self, cur_schema: T.StructType) -> T.StructType:
        return T.StructType(
            cur_schema.fields
            + [
                T.StructField("_lsn", T.LongType()),
                T.StructField("_deleted", T.BooleanType()),
            ]
        )

    def _resolve(self, df: DataFrame) -> DataFrame:
        """LWW-resolve multi-layer rows to the newest version per key."""
        payload = [c for c in df.columns if c not in MERGE_KEYS]
        as_ev = df.select(
            F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col("_lsn").alias("lsn"),
            *MERGE_KEYS,
            *[F.col(c) for c in payload if c not in INTERNAL_COLS],
        )
        red = lww_reduce(as_ev, keys=MERGE_KEYS, order=LWW_ORDER)
        return red.select(
            *MERGE_KEYS,
            *[F.col(c) for c in payload if c not in INTERNAL_COLS],
            F.col("lsn").alias("_lsn"),
            (F.col("op") == "D").alias("_deleted"),
        ).select(*df.columns)

    def read_internal(
        self,
        buckets: list[int] | None = None,
        resolve: bool | None = None,
        version: int | None = None,
    ) -> DataFrame:
        """Rows incl. tombstones + internal cols, optionally bucket-pruned.
        resolve=None → auto: LWW-resolve iff any selected bucket has more
        than one layer (merge-on-read). version → time travel to that
        committed snapshot."""
        m = self.manifest(version)
        cur_schema = self._current_schema(m)
        entries = [
            e for b, e in m["buckets"].items()
            if buckets is None or int(b) in buckets
        ]
        out = self._read_layers(entries, cur_schema)
        if resolve is None:
            resolve = any(len(e["layers"]) > 1 for e in entries)
        return self._resolve(out) if resolve else out

    def _read_layers(self, entries: list[dict], cur_schema: T.StructType) -> DataFrame:
        """Every layer of the given bucket entries, unresolved, aligned to
        cur_schema — one parquet scan per schema version."""
        groups: dict[int, list[str]] = {}
        for entry in entries:
            for layer in entry["layers"]:
                groups.setdefault(layer["schema_id"], []).extend(layer["files"])
        if not groups:
            return self.spark.createDataFrame([], self._internal_schema(cur_schema))
        parts = [
            self._align(self.spark.read.parquet(*files), cur_schema)
            for files in groups.values()
        ]
        return functools.reduce(DataFrame.unionByName, parts)

    def read(self, version: int | None = None) -> DataFrame:
        """The logical table: live rows only, internal columns hidden.
        version → time-travel read of that committed snapshot."""
        df = self.read_internal(version=version)
        return df.filter(~F.col("_deleted")).drop(*INTERNAL_COLS)

    def changes_between(
        self, v_from: int, v_to: int, keep_old_payload: bool = False
    ) -> DataFrame:
        """Key-level NET changelog between two committed snapshots — the
        incremental-consumption read (Iceberg changelog-scan analogue): one
        row per key whose visible state differs, with `_change_op` ∈
        I (newly live, incl. re-insert after delete), U (live, newer
        writer), D (was live, now tombstoned). Intermediate flips inside the
        range collapse to the net effect (snapshot diff, not event replay —
        the WAL itself is the event-level log).

        Scale shape: two bucket-pruned snapshot reads, each LWW-resolved to
        one row per key, then ONE full-outer key join; cost is O(keys
        touched by the layers involved), never O(events).

        ``keep_old_payload``: also carry the OLD snapshot's payload values
        as ``__old_<col>`` columns — what the sparse changelog fan-out
        (changelog_as_events sparse_col) diffs against to emit minimal
        cell patches."""
        old_snap = self.read_internal(resolve=True, version=v_from)
        old_extra = (
            [
                F.col(c).alias(f"__old_{c}")
                for c in old_snap.columns
                if c not in (*MERGE_KEYS, *INTERNAL_COLS)
            ]
            if keep_old_payload
            else []
        )
        old = old_snap.select(
            *MERGE_KEYS,
            F.col("_lsn").alias("_lsn_old"),
            F.col("_deleted").alias("_del_old"),
            *old_extra,
        )
        new = self.read_internal(resolve=True, version=v_to)
        j = new.join(old, list(MERGE_KEYS), "full_outer")
        live_new = F.col("_deleted").isNotNull() & ~F.col("_deleted")
        live_old = F.col("_del_old").isNotNull() & ~F.col("_del_old")
        op = (
            F.when(live_new & ~live_old, F.lit("I"))
            .when(~live_new & live_old, F.lit("D"))
            .when(
                live_new & live_old & (F.col("_lsn") != F.col("_lsn_old")),
                F.lit("U"),
            )
        )
        return (
            j.withColumn("_change_op", op)
            .filter(F.col("_change_op").isNotNull())
            .drop("_lsn_old", "_del_old")
        )

    def changelog_as_events(
        self, v_from: int, v_to: int, sparse_col: str | None = None
    ) -> DataFrame:
        """``changes_between`` re-shaped as canonical change events
        (op/lsn/ts + payload) — the changelog fan-OUT read: render with
        sources/envelopes.render_envelope to feed a downstream consumer
        that speaks Debezium/Maxwell/wal2json/Canal/DMS/Mongo, so the
        lake can be the SOURCE of a CDC chain as well as its sink.
        Net-effect semantics are inherited: intermediate flips inside
        the range collapse, so a consumer applying this stream under
        the same (ts, lsn) LWW order converges to this table's v_to
        state.

        ``sparse_col``: also emit a set-columns mask holding ONLY the
        cells whose value changed between the snapshots (U rows; I =
        every cell, D = none) — minimal patches for sparse-capable
        downstream consumers: rendered through the mongo dialect they
        become $set/$unset operations, and a consumer applying them
        through its own cell-level merge converges identically
        (tests/test_changelog_cascade.py). Only the mongo renderer
        consumes the mask — other dialect renderers would treat it as a
        payload column, so the CLI gates --sparse to --emit-dialect
        mongo."""
        cl = self.changes_between(
            v_from, v_to, keep_old_payload=sparse_col is not None
        )
        payload = [
            c
            for c in cl.columns
            if c not in ("_lsn", "_deleted", "_change_op")
            and not c.startswith("__old_")
        ]
        extra = []
        if sparse_col is not None:
            cells = [c for c in payload if c not in (*MERGE_KEYS, "ts")]
            changed = [
                F.when(
                    ~F.col(c).eqNullSafe(F.col(f"__old_{c}")), F.lit(c)
                ).otherwise(F.lit(None).cast("string"))
                for c in cells
            ]
            all_cells = F.array(*[F.lit(c) for c in cells])
            mask = (
                F.when(F.col("_change_op") == "I", all_cells)
                .when(
                    F.col("_change_op") == "D",
                    F.array().cast("array<string>"),
                )
                .otherwise(
                    F.filter(F.array(*changed), lambda x: x.isNotNull())
                )
            )
            extra = [mask.alias(sparse_col)]
        return cl.select(
            F.col("_change_op").alias("op"),
            F.col("_lsn").alias("lsn"),
            *[F.col(c) for c in payload],
            *extra,
        )

    def expire_snapshots(self, keep_last: int = 2) -> dict:
        """Maintenance: drop manifests older than the newest `keep_last`
        (the current, newest one is always kept, so 0 keeps only it) and
        delete data files no kept manifest references (compaction/COW and
        commits that lost a CommitConflict leave unreferenced file groups
        behind — commits never delete, so readers of older snapshots are
        never broken until expiry) and manifest temp files a crashed commit
        left. Only files older than the current manifest are deleted: an
        orphan is always older than the commit that orphaned it, while a
        file written after it is not yet committed. Returns removal counts."""
        if keep_last < 0:
            raise ValueError(f"keep_last must be >= 0, not {keep_last}")
        versions = self.snapshots()
        keep = set(versions[-max(keep_last, 1):])
        cutoff = os.path.getmtime(os.path.join(self._snap_dir, f"v{versions[-1]}.json"))
        # liveness by REALPATH: manifests store paths as spelled at write
        # time; a different root spelling (relative vs absolute, moved
        # table) must not make live files look unreferenced
        referenced: set[str] = set()
        for v in keep:
            m = self.manifest(v)
            for entry in m.get("buckets", {}).values():
                for layer in entry["layers"]:
                    referenced.update(os.path.realpath(f) for f in layer["files"])
        data_dir = os.path.join(self.root, "data")
        walked = {
            os.path.realpath(os.path.join(dp, f))
            for dp, _dn, fns in os.walk(data_dir)
            for f in fns
            if f.endswith(".parquet")
        }
        if referenced and not (referenced & walked):
            # a moved/renamed table (manifest paths point elsewhere): deleting
            # "unreferenced" files here would destroy every live file
            raise RuntimeError(
                "expire_snapshots: no manifest-referenced file found under "
                f"{data_dir} — table moved or manifests stale; refusing to "
                "delete anything"
            )
        removed_files = 0
        for dirpath, _dirnames, filenames in os.walk(data_dir, topdown=False):
            for fname in filenames:
                p = os.path.join(dirpath, fname)
                if os.path.getmtime(p) >= cutoff:
                    continue  # written after the current commit
                if fname.endswith(".parquet") and os.path.realpath(p) not in referenced:
                    os.remove(p)
                    removed_files += 1
                elif fname in ("_SUCCESS",) or fname.endswith(".crc"):
                    os.remove(p)
            if not os.listdir(dirpath):
                os.rmdir(dirpath)
        removed_manifests = 0
        for v in versions:
            if v not in keep:
                os.remove(os.path.join(self._snap_dir, f"v{v}.json"))
                removed_manifests += 1
        for tmp in glob.glob(os.path.join(self._snap_dir, ".v*.tmp-*")):
            if os.path.getmtime(tmp) < cutoff:
                os.remove(tmp)
        return {
            "kept": sorted(keep),
            "removed_manifests": removed_manifests,
            "removed_files": removed_files,
        }

    # ---------------------------------------------------------------- write

    def _write_file_group(
        self, data: DataFrame, obs: Observation | None = None
    ) -> dict[str, list[str]]:
        """Write one file group partitioned by bucket → {bucket: [files]}.
        ``obs`` observes the written rows: ``rows`` (their count) and, per
        bucket ``b``, ``str(b)`` (its max ``_lsn``, null if none written)."""
        out_dir = os.path.join(self.root, f"data/v{uuid.uuid4().hex[:12]}")
        data = data.withColumn("_bucket", self._bucket_col())
        if obs is not None:
            data = data.observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                *[
                    F.max(F.when(F.col("_bucket") == b, F.col("_lsn"))).alias(str(b))
                    for b in range(self.n_buckets)
                ],
            )
        (
            data.repartition(F.col("_bucket"))
            .sortWithinPartitions(*MERGE_KEYS)
            .write.partitionBy("_bucket")
            .parquet(out_dir)
        )
        files_by_bucket: dict[str, list[str]] = {}
        for entry in sorted(os.listdir(out_dir)):
            if not entry.startswith("_bucket="):
                continue
            b = entry.split("=", 1)[1]
            bdir = os.path.join(out_dir, entry)
            files = [
                os.path.join(bdir, f)
                for f in sorted(os.listdir(bdir))
                if f.endswith(".parquet")
            ]
            if files:
                files_by_bucket[b] = files
        return files_by_bucket

    # ---------------------------------------------------------------- DDL

    def evolve_schema(self, new_schema: T.StructType) -> bool:
        """ALTER TABLE analogue: register a new current schema (added nullable
        columns / widened types). Old file groups are aligned lazily on read.
        Returns True if a new schema version was committed."""
        m = self.manifest()
        if self._current_schema(m).jsonValue() == new_schema.jsonValue():
            return False
        sid = max(int(k) for k in m["schemas"]) + 1
        m["schemas"][str(sid)] = new_schema.jsonValue()
        m["current_schema_id"] = sid
        m["version"] += 1
        self._commit(m)
        return True

    # ---------------------------------------------------------------- merge

    def merge_batch(
        self,
        events: DataFrame,
        batch_id: int,
        stream_id: str = "default",
        partial_set_col: str | None = None,
    ) -> MergeResult:
        """Apply one micro-batch of raw change events.

        Idempotent: replaying an already-committed batch_id OF THE SAME STREAM
        LINEAGE is a no-op. Spark's foreachBatch batch ids are monotone only
        per checkpoint; a new lineage (lost checkpoint) restarts at 0, so the
        gate is scoped by stream_id — a new lineage re-applies its batches and
        the (ts, lsn) LWW guard makes that replay convergent, not corrupting.

        One path for both modes: the batch is LWW-reduced to one row per
        key and written as ONE delta file group, appended as a layer to the
        touched buckets; every bucket whose layer stack then exceeds the
        mode's threshold (1 for cow, compact_threshold for mor) is
        compacted, and the whole result lands in ONE snapshot commit.
        Batch metrics ride the delta write via DataFrame.observe: events,
        delete events and late events on the raw batch; touched keys (the
        written row count) and each bucket's LSN watermark (its max written
        ``_lsn``) on the written rows. A whole-row batch that compacts
        nothing is therefore one Spark action with no target read.

        ``partial_set_col``: the batch's events carry PARTIAL row images —
        the named array column lists the payload columns each event wrote
        (operators/lww.py lww_reduce_partial's contract). The merge then
        coalesces cells against the current table state: existing rows enter
        the reduce as full-image writes at their committed (ts, lsn), so a
        sparse update inherits every untouched cell. Consequences, by design:
        - there is no no-read fast path — partial images NEED the old row,
          so the affected buckets are read, semi-joined to the batch's keys;
          the delta layer holds ONLY the touched keys' resolved rows. The
          read-side whole-row resolution (_resolve) layers them correctly
          because a resolved row's (ts, _lsn) is >= every older version's
          (a batch of purely-stale events resolves to a byte-identical copy
          of the committed row, so even that tie is harmless);
        - cell resolution is exact within a batch; ACROSS batches a late
          cell write resolves against the row's committed version at ROW
          granularity (the lake stores row versions, not per-cell versions —
          the Cassandra alternative would double storage), and such events
          are flagged in late_events.
        """
        m = self.manifest()
        if stream_id == m.get("stream_id") and batch_id <= m["batch_id"]:
            return MergeResult(batch_id=batch_id, applied=False,
                               snapshot_version=m["version"])

        cur_sid = m["current_schema_id"]
        cur_schema = self._current_schema(m)
        cell_cols = [
            f.name for f in cur_schema.fields if f.name not in (*MERGE_KEYS, "ts")
        ]
        wm = {k: int(v) for k, v in m.get("watermarks", {}).items()}

        batch = events.withColumn("_b", self._bucket_col())
        # late events = lsn at-or-below the bucket's committed high-watermark
        # (duplicate/out-of-order replays)
        if wm:
            wm_map = F.create_map(
                *[F.lit(x) for b, l in wm.items() for x in (int(b), l)]
            )
            late = F.col("lsn") <= F.coalesce(wm_map[F.col("_b")], F.lit(-(2**62)))
        else:
            late = F.lit(False)
        obs = Observation(f"cdc-batch-{batch_id}")
        observed = batch.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("op") == "D", 1).otherwise(0)).alias("n_del"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
        )
        ev_cols = ["op", "lsn", "ts", *MERGE_KEYS, *cell_cols]
        if partial_set_col is None:
            merged = lww_reduce(
                observed.select(*ev_cols), keys=MERGE_KEYS, order=LWW_ORDER
            )
        else:
            batch.cache()  # read again for its buckets and keys
            affected = [r["_b"] for r in batch.select("_b").distinct().collect()]
            committed = self.read_internal(buckets=affected, resolve=False).join(
                batch.select(*MERGE_KEYS).distinct(), list(MERGE_KEYS), "left_semi"
            )
            # committed rows are RESOLVED states: they enter the cell reduce
            # as full-image writes at their committed (ts, lsn) (tombstones'
            # set list is never consulted for op='D')
            as_events = committed.select(
                F.when(F.col("_deleted"), F.lit("D")).otherwise(F.lit("U")).alias("op"),
                F.col("_lsn").alias("lsn"),
                "ts", *MERGE_KEYS, *cell_cols,
                F.array(*[F.lit(c) for c in cell_cols]).alias(partial_set_col),
            )
            events = observed.select(*ev_cols, partial_set_col)
            # batch on the LEFT: a union runs in its left side's session,
            # and a foreachBatch micro-batch (with its observation) lives in
            # the stream's cloned session, not self.spark
            merged = lww_reduce_partial(
                events.unionByName(as_events), keys=MERGE_KEYS, order=LWW_ORDER,
                set_col=partial_set_col, payload=cell_cols,
            )
        write_obs = Observation(f"cdc-write-{batch_id}")
        files_by_bucket = self._write_file_group(
            merged.select(
                *[F.col(f.name) for f in cur_schema.fields],
                F.col("lsn").alias("_lsn"),
                (F.col("op") == "D").alias("_deleted"),
            ),
            write_obs,
        )
        batch.unpersist()  # a no-op unless the partial branch cached it
        stats, written = obs.get, write_obs.get
        n_keys = written["rows"]
        for b in files_by_bucket:
            wm[b] = max(wm.get(b, -1), written[b] if written[b] is not None else -1)

        buckets = dict(m["buckets"])
        for b, fs in files_by_bucket.items():
            prior = buckets[b]["layers"] if b in buckets else []
            buckets[b] = {"layers": [*prior, {"files": fs, "schema_id": cur_sid}]}
        # cow is mor with threshold 1: every touched bucket that had a prior
        # layer is compacted back to one base layer in this same commit
        threshold = 1 if self.mode == "cow" else self.compact_threshold
        over = [b for b, e in buckets.items() if len(e["layers"]) > threshold]
        if over:
            buckets.update(self._compact_layers(buckets, over, cur_schema, cur_sid))

        events_in = int(stats["n"] or 0)
        n_del = int(stats["n_del"] or 0)
        res = MergeResult(
            batch_id=batch_id,
            applied=True,
            events_in=events_in,
            # events_in == n_keys: no key carries two events in this batch, so
            # every event is its key's winner and the counts are exact per
            # key; otherwise they are touched-keys / delete-event counts
            keys_upserted=n_keys - n_del if events_in == n_keys else n_keys,
            keys_deleted=n_del,
            late_events=int(stats["n_late"] or 0),
            buckets_rewritten=len(files_by_bucket),
            buckets_compacted=len(over),
        )
        m["version"] += 1
        m["batch_id"] = batch_id
        m["stream_id"] = stream_id
        m["buckets"] = buckets
        m["watermarks"] = wm
        m["metrics"] = res.counts()
        res.snapshot_version = self._commit(m)
        return res

    def _compact_layers(
        self,
        buckets: dict,
        which: list[str],
        cur_schema: T.StructType,
        cur_sid: int,
    ) -> dict:
        """Rewrite the given buckets' layer stacks into single LWW-resolved
        base layers (tombstones retained for late-event correctness)."""
        layers = self._read_layers([buckets[b] for b in which], cur_schema)
        files_by_bucket = self._write_file_group(self._resolve(layers))
        return {
            b: {"layers": [{"files": fs, "schema_id": cur_sid}]}
            for b, fs in files_by_bucket.items()
        }

    def compact(self, buckets: list[int] | None = None) -> int:
        """Explicit compaction API (maintenance job): resolve layer stacks.
        Returns number of buckets compacted."""
        m = self.manifest()
        which = [
            b
            for b, e in m["buckets"].items()
            if (buckets is None or int(b) in buckets) and len(e["layers"]) > 1
        ]
        if not which:
            return 0
        new_entries = self._compact_layers(
            m["buckets"], which, self._current_schema(m), m["current_schema_id"]
        )
        m["buckets"].update(new_entries)
        m["version"] += 1
        self._commit(m)
        return len(which)

    # ------------------------------------------------------------- cleanup

    def drop(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
