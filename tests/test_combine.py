"""Combine operator per-column policy matrix — mirrors the reference's
getModels policy handling (JenaCombineStep.java:217-277): every combined
column resolves actionIfNoSuchField and actionIfNull independently as
IGNORE / WARN / ERROR, with WARN hits surfaced through an Observation."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation

from kettle_jena_plugins_spark.operators.combine import (
    CombineField,
    MissingColumnError,
    combine_columns,
)
from kettle_jena_plugins_spark.operators.validate import Policy


def df(spark):
    return spark.createDataFrame(
        [("a", None, "x1"), (None, "b2", "x2"), (None, None, "x3")],
        "c1 string, c2 string, keep string",
    )


def test_coalesce_order_and_null_ignore(spark):
    out = combine_columns(
        df(spark), ["c1", "c2"], "m", remove_sources=False
    )
    got = {r["keep"]: r["m"] for r in out.collect()}
    assert got == {"x1": "a", "x2": "b2", "x3": None}


@pytest.mark.parametrize(
    "policy,ok",
    [(Policy.IGNORE, True), (Policy.WARN, True), (Policy.ERROR, False)],
)
def test_missing_column_per_field_policy(spark, policy, ok):
    fields = [CombineField("nope", if_missing=policy), CombineField("c1")]
    if not ok:
        with pytest.raises(MissingColumnError):
            combine_columns(df(spark), fields, "m")
        return
    out = combine_columns(df(spark), fields, "m", remove_sources=False)
    assert {r["m"] for r in out.collect()} == {"a", None}


def test_missing_column_warn_counts_per_row(spark):
    obs = Observation()
    out = combine_columns(
        df(spark),
        [CombineField("nope", if_missing=Policy.WARN), CombineField("c1")],
        "m",
        remove_sources=False,
        observe_warnings=obs,
    )
    out.collect()
    # the reference logs the absent column once per processed row (:241)
    assert obs.get["n_warn"] == 3


def test_null_value_warn_counts(spark):
    obs = Observation()
    out = combine_columns(
        df(spark),
        [
            CombineField("c1", if_null=Policy.WARN),
            CombineField("c2", if_null=Policy.WARN),
        ],
        "m",
        remove_sources=False,
        observe_warnings=obs,
    )
    got = {r["keep"]: r["m"] for r in out.collect()}
    # WARN does not change the combine result, only counts
    assert got == {"x1": "a", "x2": "b2", "x3": None}
    # c1 null twice + c2 null twice
    assert obs.get["n_warn"] == 4


def test_null_value_error_raises(spark):
    out = combine_columns(
        df(spark),
        [CombineField("c1", if_null=Policy.ERROR), CombineField("c2")],
        "m",
        remove_sources=False,
    )
    with pytest.raises(Exception, match="value is null"):
        out.collect()


def test_remove_sources_with_fields(spark):
    out = combine_columns(df(spark), [CombineField("c1"), "c2"], "m")
    assert set(out.columns) == {"keep", "m"}


def test_null_value_error_fires_on_non_first_column(spark):
    """ERROR must fire even when coalesce short-circuits at an earlier
    non-null column (the reference throws for ANY ERROR-null column)."""
    out = combine_columns(
        df(spark),
        [CombineField("c1"), CombineField("c2", if_null=Policy.ERROR)],
        "m",
        remove_sources=False,
    )
    with pytest.raises(Exception, match="field: c2, value is null"):
        out.collect()


def test_observation_with_no_warn_columns_yields_zero(spark):
    """An Observation passed without any WARN policy must still resolve
    (to zero) instead of blocking forever."""
    obs = Observation()
    out = combine_columns(
        df(spark), ["c1", "c2"], "m", remove_sources=False,
        observe_warnings=obs,
    )
    out.collect()
    assert obs.get["n_warn"] == 0
