"""One front door for every supported CDC wire dialect.

The six envelope parsers (sources/debezium.py, sources/maxwell.py,
sources/wal2json.py, sources/canal.py, sources/dms.py,
sources/mongo.py) all produce the same canonical
change-event schema (model.CHANGE_EVENT_SCHEMA), so the rest of the
engine — validation split, LWW reduce, schema evolution, exactly-once
MERGE (streaming/apply.py) — is dialect-agnostic. ``parse_envelope``
is the dispatcher that makes that pluggability a one-argument choice,
used by the CLI's ``ingest``/``stream``/``pipeline`` commands (run.py)
and by ``run_stream`` (streaming/apply.py). It also owns the sparse-mask
decision: which dialects may or must carry a set-columns mask.

Reference analogue: the plugin family exposes one Kettle step per
input shape while sharing the row-level machinery underneath
(JenaModelStepMeta.java:165-182's value-source dispatch); here the
shared machinery is the canonical event schema and the dialect is the
dispatched axis.

Every parser is a narrow scan-stage projection (``from_json`` with an
explicit schema, plus one ``posexplode`` for Canal's multi-row
messages) — adding a dialect never adds a shuffle.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..model import PAYLOAD_SCHEMA
from .canal import parse_canal, to_canal_json
from .debezium import parse_debezium, to_debezium_json
from .dms import parse_dms, to_dms_json
from .maxwell import parse_maxwell, to_maxwell_json
from .mongo import parse_mongo_oplog, to_mongo_oplog
from .wal2json import parse_wal2json, to_wal2json

#: dialect name → (parser, supports in-stream table filtering, sparseness
#: of its row images: "never" — whole rows, no mask; "optional" — wal2json's
#: column array is sparse without REPLICA IDENTITY FULL, so the mask is
#: opt-in; "always" — mongo's $set/$unset patches are sparse by nature)
_DIALECTS = {
    "debezium": (parse_debezium, False, "never"),
    "dms": (parse_dms, True, "never"),
    "maxwell": (parse_maxwell, True, "never"),
    "mongo": (parse_mongo_oplog, True, "always"),
    "wal2json": (parse_wal2json, True, "optional"),
    "canal": (parse_canal, True, "never"),
}

#: dialects whose wire format is inherently SPARSE: consumers must ask
#: ``parse_envelope`` for the set-columns mask and apply through the
#: cell-level merge (CDCConfig.partial_set_col) — whole-row LWW would null
#: untouched cells. ``parse_envelope(set_cols_col=...)`` is the one way to
#: get a mask; it refuses a mask from a whole-row dialect and a missing
#: one from these.
PARTIAL_DIALECTS = tuple(
    d for d, (_, _, sparse) in _DIALECTS.items() if sparse == "always"
)

DIALECTS = tuple(sorted(_DIALECTS))

#: ``set_cols_col`` default: each dialect's natural output — the mask under
#: its parser's default name for the always-sparse dialects, none otherwise
_NATURAL = object()


def parse_envelope(
    raw: DataFrame,
    dialect: str,
    value_col: str = "value",
    table: str | None = None,
    payload_schema=None,
    set_cols_col=_NATURAL,
) -> DataFrame:
    """Raw envelope JSON strings → canonical change events, by dialect.

    ``table`` keeps only the named source table's rows for the dialects
    that multiplex tables onto one stream (Maxwell, wal2json, Canal).
    Debezium is topic-per-table — its envelope carries no table name —
    so passing ``table`` with ``dialect="debezium"`` raises instead of
    silently not filtering.

    ``set_cols_col`` names the set-columns mask column (partial row
    images, operators/lww.py lww_reduce_partial's contract). A name asks
    for the mask and raises for a whole-row dialect; ``None`` asks for
    whole rows and raises for an always-sparse dialect (PARTIAL_DIALECTS)
    — whole-row LWW over its patches would null untouched cells. Left
    out, each dialect gives its natural output (mongo: the mask as
    ``set_cols``).

    Unknown ops in any dialect surface as null-op rows, which the apply
    path's validation split routes to the dead letter
    (streaming/apply.py step 1) — a malformed envelope never reaches
    the merge.

    Mixing dialects against ONE target table works because ts leads the
    LWW total order (ts, lsn) — but the dialects' lsn spaces are not
    mutually comparable (Canal's is an engine-derived composite), so the
    lsn tiebreak is only meaningful within a single dialect's stream.
    Real deployments run one dialect per stream; the cross-dialect case
    is for migrations, where the cutover point is a ts boundary.

    ``payload_schema`` (a StructType, e.g. from
    ``extended_payload_schema``) extends the projected row shape for
    mid-stream schema evolution: from_json drops fields its schema does
    not name, so an evolved producer's new column needs the extended
    schema here to reach the lake's ALTER path (plans/evolution.py).
    """
    return envelope_parser(
        dialect, value_col, table, payload_schema, set_cols_col
    )(raw)


def envelope_parser(
    dialect: str,
    value_col: str = "value",
    table: str | None = None,
    payload_schema=None,
    set_cols_col=_NATURAL,
) -> Callable[[DataFrame], DataFrame]:
    """``parse_envelope`` without the frame: its dialect, table and mask
    checks run here and raise ``ValueError`` before the caller builds its
    input — a streaming file source lists its directory when created —
    and the returned function parses a raw frame."""
    try:
        parser, filterable, sparse = _DIALECTS[dialect]
    except KeyError:
        raise ValueError(
            f"unknown dialect {dialect!r}; expected one of {DIALECTS}"
        ) from None
    kw = {"value_col": value_col}
    if payload_schema is not None:
        kw["payload_schema"] = payload_schema
    if table is not None:
        if not filterable:
            raise ValueError(
                "debezium envelopes carry no table name (topic-per-table); "
                "route tables upstream instead of passing table="
            )
        kw["table"] = table
    if set_cols_col is None and sparse == "always":
        raise ValueError(
            f"dialect {dialect!r} emits sparse row images (a set-columns "
            "mask): request it with set_cols_col and apply through the "
            "cell-level merge — whole rows would null untouched cells"
        )
    if set_cols_col is not _NATURAL and set_cols_col is not None:
        if sparse == "never":
            capable = [d for d in DIALECTS if _DIALECTS[d][2] != "never"]
            raise ValueError(
                f"dialect {dialect!r} carries whole row images; a set-columns "
                f"mask needs a sparse-capable dialect ({', '.join(capable)})"
            )
        kw["set_cols_col"] = set_cols_col
    return functools.partial(parser, **kw)


#: type names accepted by extended_payload_schema's "name:type" specs
_DDL_TYPES = {
    "string": T.StringType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "boolean": T.BooleanType(),
    "timestamp": T.TimestampType(),
}


def extended_payload_schema(spec: str) -> T.StructType:
    """``"tool_meta:string,score:double"`` → the default transcripts row
    shape extended with the named columns (for ``parse_envelope``'s
    ``payload_schema`` / the CLI's ``--payload-cols``). Mid-stream
    schema evolution: the producer added columns; the consumer names
    them here; the lake ALTERs on first sight (plans/evolution.py)."""
    base = list(PAYLOAD_SCHEMA.fields)
    names = {f.name for f in base}
    for part in filter(None, (p.strip() for p in spec.split(","))):
        name, _, typ = part.partition(":")
        typ = (typ or "string").strip().lower()
        if typ not in _DDL_TYPES:
            raise ValueError(
                f"unsupported type {typ!r} in payload spec {part!r}; "
                f"expected one of {sorted(_DDL_TYPES)}"
            )
        if name in names:
            raise ValueError(f"column {name!r} already in the base schema")
        names.add(name)
        base.append(T.StructField(name, _DDL_TYPES[typ], True))
    return T.StructType(base)


_RENDERERS = {
    "canal": to_canal_json,
    "debezium": to_debezium_json,
    "dms": to_dms_json,
    "maxwell": to_maxwell_json,
    "mongo": to_mongo_oplog,
    "wal2json": to_wal2json,
}


def render_envelope(
    changes: DataFrame, dialect: str, value_col: str = "value"
) -> DataFrame:
    """Canonical change events → wire-format JSON strings, by dialect —
    the inverse of ``parse_envelope`` (up to each dialect's documented
    ts granularity). This is the changelog fan-OUT path: the lake's net
    changelog (targets/parquet_lake.changelog_as_events) rendered in
    whatever dialect a downstream consumer already speaks, so this
    engine can sit in the middle of a CDC chain, not only at its end
    (CLI: ``run changes --emit-dialect D --out DIR``).

    One ``to_json`` projection per row — narrow, no shuffle."""
    try:
        renderer = _RENDERERS[dialect]
    except KeyError:
        raise ValueError(
            f"unknown dialect {dialect!r}; expected one of {DIALECTS}"
        ) from None
    return renderer(changes, value_col=value_col)
