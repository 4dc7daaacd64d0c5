"""Storage accounting for a ParquetLakeTarget, from its public manifest
API plus a walk of the table directory and the parquet footers.

Commits never delete data files (only ``expire_snapshots`` does), so every
compaction leaves its inputs behind: they show up here as orphaned bytes.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq


def referenced_files(manifest: dict, buckets=None) -> list[str]:
    out = []
    for b, entry in manifest.get("buckets", {}).items():
        if buckets is not None and int(b) not in buckets:
            continue
        for layer in entry["layers"]:
            out.extend(layer["files"])
    return out


def parquet_rows(files) -> int:
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def tree_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _dn, fns in os.walk(root)
        for f in fns
    )


def storage_report(target, live_rows: int, input_bytes: int) -> dict:
    """Table bytes, referenced vs orphaned data files, layers per bucket,
    read amplification (rows in referenced files ÷ live rows) and write
    amplification (data bytes written ÷ change-log bytes applied)."""
    m = target.manifest()
    referenced = {os.path.realpath(f) for f in referenced_files(m)}
    ref_bytes = orphan_bytes = orphan_files = 0
    for dp, _dn, fns in os.walk(os.path.join(target.root, "data")):
        for f in fns:
            if not f.endswith(".parquet"):
                continue
            p = os.path.realpath(os.path.join(dp, f))
            size = os.path.getsize(p)
            if p in referenced:
                ref_bytes += size
            else:
                orphan_bytes += size
                orphan_files += 1
    layers = [len(e["layers"]) for e in m["buckets"].values()]
    rows_ref = parquet_rows(referenced)
    table_bytes = tree_bytes(target.root)
    return {
        "table_bytes": table_bytes,
        "snapshots": len(target.snapshots()),
        "referenced_files": len(referenced),
        "referenced_bytes": ref_bytes,
        "orphan_files": orphan_files,
        "orphan_bytes": orphan_bytes,
        "layers_per_bucket": sum(layers) / len(layers) if layers else 0.0,
        "rows_referenced": rows_ref,
        "live_rows": live_rows,
        "bytes_per_row": table_bytes / max(live_rows, 1),
        "read_amp": rows_ref / max(live_rows, 1),
        "write_amp": (ref_bytes + orphan_bytes) / max(input_bytes, 1),
    }
