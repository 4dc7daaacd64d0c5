"""Declarative pipeline lifecycle — the reference's entry points A (run a
.ktr: EndToEndIT.java:60-92) and C (repository round-trip:
JenaModelStepMeta.java:586-602) re-expressed as JSON spec → validate →
persist round-trip → compose → execute."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.plans.pipeline import (
    PipelineConfigError,
    from_json,
    parse,
    run_pipeline,
    to_json,
)

SPEC = {
    "steps": [
        {"type": "filter", "condition": "op <> 'D'"},
        {
            "type": "construct",
            "uri_prefix": "${ns}/conv/",
            "uri_fields": ["conv_id", "turn_idx"],
            "mappings": [
                {"field": "role", "property": "t:role"},
                {"field": "text", "property": "t:text"},
                {"field": "op", "property": "t:op", "skip": True},
            ],
            "namespaces": {"t": "http://example.org/transcript#"},
        },
        {
            "type": "group_merge",
            "group_keys": ["conv_id"],
            "merge_cols": ["doc_canon"],
            "other_actions": {"role": "USE_FIRST", "tool": "NULL_IF_DIFFERENT"},
        },
    ]
}


def events(spark):
    from kettle_jena_plugins_spark.sources.changes import change_events

    return change_events(spark, "/root/testdata/sf0.001")


def test_parse_validate_roundtrip():
    steps = parse(SPEC, variables={"ns": "http://example.org"})
    assert [s.type for s in steps] == ["filter", "construct", "group_merge"]
    # ${ns} resolved at parse time (environmentSubstitute analogue)
    assert steps[1].conf["uri_prefix"] == "http://example.org/conv/"
    # persist → reload reproduces the plan (readRep/saveRep analogue)
    again = from_json(to_json(steps))
    assert [s.type for s in again] == [s.type for s in steps]
    assert again[1].conf == steps[1].conf


@pytest.mark.parametrize(
    "bad",
    [
        {"steps": []},
        {"steps": [{"type": "nope"}]},
        {"steps": [{"type": "construct"}]},  # no mappings
        {"steps": [{"type": "combine", "sources": ["a"]}]},  # no target
        {"steps": [{"type": "group_merge"}]},  # no keys
        {"steps": [{"type": "serialize", "fmt": "xml"}]},  # bad fmt
    ],
)
def test_config_errors_surface_before_execution(bad):
    with pytest.raises(PipelineConfigError):
        parse(bad)


def test_run_pipeline_end_to_end(spark, tmp_path):
    """Golden: composed pipeline result equals hand-composed operators
    (the EndToEndIT isomorphism check, with canonical-doc equality
    replacing graph isomorphism)."""
    steps = parse(SPEC, variables={"ns": "http://example.org"})
    got = run_pipeline(events(spark), steps)
    assert got.count() > 0
    cols = set(got.columns)
    assert "conv_id" in cols and "doc_canon_merged" in cols
    assert "role" in cols and "tool" in cols

    row = got.filter(F.col("conv_id") == "c0").collect()[0]
    # group_merge set-union: merged docs are distinct + sorted (model-union
    # dedup semantics, JenaGroupMergeStep.java:323)
    docs = row["doc_canon_merged"]
    assert docs == sorted(set(docs))

    # serialize step writes once at the end (JenaSerializerStep flush)
    ser_steps = parse(
        {
            "steps": [
                {"type": "filter", "condition": "op <> 'D'"},
                {
                    "type": "construct",
                    "uri_prefix": "ex:conv/",
                    "uri_fields": ["conv_id", "turn_idx"],
                    "mappings": [{"field": "text", "property": "t:text"}],
                    "namespaces": {"t": "http://example.org/transcript#"},
                },
                {"type": "serialize", "fmt": "canon", "subject_col": "doc_canon"},
            ]
        }
    )
    out_dir = str(tmp_path / "out")
    run_pipeline(events(spark), ser_steps, sink_path=out_dir)
    written = spark.read.text(out_dir)
    assert written.count() == events(spark).filter("op <> 'D'").count()


def test_pipeline_cli_envelope_input(spark, tmp_path, capsys):
    """`run pipeline --input envelopes:DIALECT:PATH`: the .ktr lifecycle
    over a raw topic dump — wire-format JSON lines parse to canonical
    events before the spec's steps run."""
    import json as _json

    from kettle_jena_plugins_spark.run import main
    from kettle_jena_plugins_spark.sources.canal import to_canal_json

    ch = events(spark).limit(40).cache()
    to_canal_json(ch).coalesce(1).write.text(str(tmp_path / "env"))
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(
        _json.dumps(
            {"steps": [{"type": "filter", "condition": "op <> 'D'"}]}
        )
    )
    rc = main(
        ["pipeline", "--spec", str(spec_path),
         "--input", f"envelopes:canal:{tmp_path / 'env'}", "--show", "0"]
    )
    assert rc == 0
    lines = [
        _json.loads(ln)
        for ln in capsys.readouterr().out.strip().splitlines()
        if ln.startswith("{")
    ]
    want = ch.filter("op <> 'D'").count()
    assert lines[-1]["rows_out"] == want
    ch.unpersist()


def test_pipeline_cli_refuses_sparse_envelope_input(spark, tmp_path, capsys):
    """Mongo oplog patches are partial row images: the pipeline's whole-row
    steps would read their untouched cells as nulls, so the envelope input
    refuses the dialect like stream/ingest refuse a whole-row merge."""
    from kettle_jena_plugins_spark.run import main
    from kettle_jena_plugins_spark.sources.mongo import to_mongo_oplog

    ch = events(spark).limit(10).withColumn(
        "set_cols", F.array(F.lit("role"), F.lit("text"), F.lit("tool"))
    )
    to_mongo_oplog(ch).coalesce(1).write.text(str(tmp_path / "env"))
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(
        json.dumps({"steps": [{"type": "filter", "condition": "op <> 'D'"}]})
    )
    with pytest.raises(SystemExit):
        main(["pipeline", "--spec", str(spec_path),
              "--input", f"envelopes:mongo:{tmp_path / 'env'}", "--show", "0"])
    assert "sparse row images" in capsys.readouterr().err


@pytest.mark.parametrize("cmd", ["pipeline_stream", "index_probe"])
def test_cli_missing_required_option_is_usage_error(tmp_path, capsys, cmd):
    """`pipeline --stream` without --checkpoint and `index probe` without
    --docs are usage errors: argparse exit code 2 and a message, not an
    assert traceback (which `python -O` would skip) or a bare exit."""
    from kettle_jena_plugins_spark.run import main

    spec_path = tmp_path / "spec.json"
    spec_path.write_text(
        json.dumps({"steps": [{"type": "filter", "condition": "op <> 'D'"}]})
    )
    argv = {
        "pipeline_stream": ["pipeline", "--spec", str(spec_path),
                            "--input", str(tmp_path / "wal"), "--stream"],
        "index_probe": ["index", "probe", "--index", str(tmp_path / "idx")],
    }[cmd]
    with pytest.raises(SystemExit) as exc:
        main(argv)
    assert exc.value.code == 2
    assert "requires --" in capsys.readouterr().err


def test_pipeline_json_string_input(spark):
    steps = parse(json.dumps(SPEC), variables={"ns": "http://x"})
    assert steps[1].conf["uri_prefix"] == "http://x/conv/"


NESTED_SPEC = {
    "steps": [
        {
            "type": "validate_split",
            "require_keys": ["conv_id"],
            "constraints": [["neg_turn", "turn_idx < 0"]],
        },
        {
            "type": "construct",
            "uri_prefix": "ex:conv/",
            "uri_fields": ["conv_id", "turn_idx"],
            "mappings": [
                {"field": "text", "property": "t:text"},
                {
                    "property": "t:meta",
                    "children": [
                        {"field": "role", "property": "t:role"},
                        {"field": "tool", "property": "t:tool",
                         "if_null": "WARN"},
                    ],
                },
            ],
            "namespaces": {"t": "http://example.org/transcript#"},
        },
        {
            "type": "combine",
            "sources": [
                {"name": "tool", "if_null": "WARN"},
                "role",
                {"name": "missing_col", "if_missing": "IGNORE"},
            ],
            "target": "effective_tool",
            "remove_sources": False,
        },
    ]
}


def test_round2_spec_surfaces_round_trip_and_execute(spark):
    """Nested blank-node mappings, per-column combine policies, and custom
    validation constraints all parse, persist round-trip, and execute."""
    steps = parse(NESTED_SPEC)
    assert parse(to_json(steps)) == steps  # persist round-trip
    got = run_pipeline(events(spark), steps)
    row = got.filter("turn_idx >= 0").first()
    assert "t_meta" in [f.name for f in got.schema["doc"].dataType.fields]
    assert row["effective_tool"] is not None
    # custom constraint filtered negative turns through validate_split
    assert got.filter("turn_idx < 0").count() == 0


def test_nested_mapping_validation_errors():
    with pytest.raises(PipelineConfigError, match="both"):
        parse(
            {
                "steps": [
                    {
                        "type": "construct",
                        "mappings": [
                            {
                                "field": "x",
                                "property": "t:m",
                                "children": [
                                    {"field": "y", "property": "t:y"}
                                ],
                            }
                        ],
                    }
                ]
            }
        )
    with pytest.raises(PipelineConfigError, match="requires a field"):
        parse(
            {
                "steps": [
                    {"type": "construct", "mappings": [{"property": "t:m"}]}
                ]
            }
        )


def test_typed_construct_mapping_from_spec(spark, tmp_path):
    """datatype/lang on construct mappings plumb through the JSON spec
    (rdfType/language on DbToJenaMapping), survive the persist round-trip,
    and render typed terms through a full construct → serialize chain
    (prerendered statements)."""
    ns_t = "http://example.org/transcript#"
    spec = {
        "steps": [
            {
                "type": "construct",
                "uri_prefix": "ex:conv/",
                "uri_fields": ["conv_id", "turn_idx"],
                "mappings": [
                    {"field": "role", "property": "t:role", "lang": "en"},
                    {
                        "field": "turn_idx",
                        "property": "t:turn",
                        "datatype": "integer",
                    },
                ],
                "namespaces": {"t": ns_t},
            },
            {
                "type": "select",
                "columns": ["doc.subject", "doc.t_role", "doc.t_turn"],
            },
            {
                "type": "serialize",
                "fmt": "ntriples",
                "subject_col": "subject",
                "statements": {
                    f"{ns_t}role": {"column": "t_role", "prerendered": True},
                    f"{ns_t}turn": {"column": "t_turn", "prerendered": True},
                },
            },
        ]
    }
    steps = parse(spec)
    assert parse(to_json(steps)) == steps
    out_dir = str(tmp_path / "nt")
    run_pipeline(events(spark), steps, sink_path=out_dir)
    lines = [r["value"] for r in spark.read.text(out_dir).collect()]
    xsd = "http://www.w3.org/2001/XMLSchema#"
    assert any(f'"@en' in line and f"<{ns_t}role>" in line for line in lines)
    assert any(f'^^<{xsd}integer> .' in line for line in lines)


def test_shape_validation_from_spec(spark):
    """PathShape/any_of structural constraints plumb through the
    validate_split step config: rows failing a nested-path shape are
    filtered out of the surviving stream."""
    spec = {
        "steps": [
            {
                "type": "construct",
                "uri_prefix": "ex:conv/",
                "uri_fields": ["conv_id", "turn_idx"],
                "mappings": [
                    {"field": "text", "property": "t:text"},
                    {
                        "property": "t:meta",
                        "children": [{"field": "tool", "property": "t:tool"}],
                    },
                ],
                "namespaces": {"t": "http://example.org/transcript#"},
            },
            {
                "type": "validate_split",
                "shapes": [{"path": "doc.t_text", "min_count": 1}],
                "any_of": [["doc.t_text", "doc.t_meta.t_tool"]],
            },
        ]
    }
    steps = parse(spec)
    assert parse(to_json(steps)) == steps
    got = run_pipeline(events(spark), steps)
    # deletes carry null text → dropped by the doc.t_text shape
    assert got.filter("doc.t_text IS NULL").count() == 0
    assert got.count() > 0


def test_typed_mapping_spec_validation_errors():
    base = {
        "type": "construct",
        "mappings": [
            {"field": "x", "property": "t:x", "datatype": "integer", "lang": "en"}
        ],
    }
    with pytest.raises(PipelineConfigError, match="both"):
        parse({"steps": [base]})
    with pytest.raises(PipelineConfigError, match="unknown"):
        parse(
            {
                "steps": [
                    {
                        "type": "construct",
                        "mappings": [
                            {
                                "field": "x",
                                "property": "t:x",
                                "datatype": "notatype",
                            }
                        ],
                    }
                ]
            }
        )
    with pytest.raises(PipelineConfigError, match="substructure"):
        parse(
            {
                "steps": [
                    {
                        "type": "construct",
                        "mappings": [
                            {
                                "property": "t:m",
                                "datatype": "integer",
                                "children": [
                                    {"field": "y", "property": "t:y"}
                                ],
                            }
                        ],
                    }
                ]
            }
        )


def test_serialize_turtle_from_spec(spark, tmp_path):
    steps = parse(
        {
            "steps": [
                {
                    "type": "construct",
                    "uri_prefix": "ex:conv/",
                    "uri_fields": ["conv_id", "turn_idx"],
                    "mappings": [{"field": "text", "property": "t:text"}],
                    "namespaces": {"t": "http://example.org/transcript#"},
                },
                {
                    "type": "serialize",
                    "fmt": "turtle",
                    "subject_col": "doc_canon",
                    "statements": {
                        "http://example.org/transcript#role": "role",
                        "http://example.org/transcript#turn": {
                            "column": "turn_idx",
                            "datatype": "integer",
                        },
                    },
                    "namespaces": {"t": "http://example.org/transcript#"},
                    "single_file": True,
                },
            ]
        }
    )
    out_dir = str(tmp_path / "ttl")
    run_pipeline(events(spark), steps, sink_path=out_dir)
    txt = spark.read.text(out_dir).collect()
    lines = [r["value"] for r in txt]
    assert any(line.startswith("@prefix t:") for line in lines)
    assert any(" t:turn " in line and "^^<" in line for line in lines)


def test_bad_serialize_fmt_rejected():
    with pytest.raises(PipelineConfigError, match="bad serialize fmt"):
        parse({"steps": [{"type": "serialize", "fmt": "n3x"}]})


def test_bad_decorate_key_rejected_at_parse():
    with pytest.raises(PipelineConfigError, match="unknown decorate key"):
        parse(
            {
                "steps": [
                    {
                        "type": "serialize",
                        "decorate": {"base": "o", "include_partnr": True},
                    }
                ]
            }
        )


def test_streaming_pipeline_per_batch_outputs(spark, tmp_path):
    """The same declarative spec runs per micro-batch over a WAL stream,
    writing one serialize output per batch; rerunning with the same
    checkpoint is a no-op (offsets committed)."""
    import glob

    from kettle_jena_plugins_spark.datagen import gen_change_events
    from kettle_jena_plugins_spark.plans.pipeline import run_pipeline_stream

    wal = str(tmp_path / "wal")
    gen_change_events(spark, 600, n_convs=20).repartitionByRange(
        3, "lsn"
    ).write.parquet(wal)
    steps = parse(
        {
            "steps": [
                {"type": "filter", "condition": "op <> 'D'"},
                {
                    "type": "construct",
                    "uri_prefix": "ex:conv/",
                    "uri_fields": ["conv_id", "turn_idx"],
                    "mappings": [{"field": "text", "property": "t:text"}],
                    "namespaces": {"t": "http://example.org/transcript#"},
                },
                {"type": "serialize", "fmt": "canon", "subject_col": "doc_canon"},
            ]
        }
    )
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    run_pipeline_stream(
        spark, wal, steps, ckpt, sink_path=sink, max_files_per_trigger=1
    )
    batch_dirs = sorted(glob.glob(f"{sink}/batch=*"))
    assert len(batch_dirs) == 3
    total = sum(spark.read.text(b).count() for b in batch_dirs)
    assert total == spark.read.parquet(wal).filter("op <> 'D'").count()
    # resume: nothing new to process → no new batch dirs
    run_pipeline_stream(spark, wal, steps, ckpt, sink_path=sink)
    assert sorted(glob.glob(f"{sink}/batch=*")) == batch_dirs
