"""normalize_text is one JVM expression: it must equal the pure-Python
reference (``normalize_text_ref``) on every code point Python's Unicode
version assigns, and putting it in apply_batch's projection must keep the
apply plan Python-free with its map-side LWW combine intact."""

from __future__ import annotations

import datetime as dt
import sys
import unicodedata

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kettle_jena_plugins_spark.functions.textnorm import (
    normalize_text,
    normalize_text_ref,
)
from kettle_jena_plugins_spark.model import CHANGE_EVENT_SCHEMA
from kettle_jena_plugins_spark.streaming.apply import CDCConfig, apply_batch
from kettle_jena_plugins_spark.targets.parquet_lake import ParquetLakeTarget

# every code point assigned in unicodedata.unidata_version (ICU's newer
# Unicode may compose code points unassigned there); surrogates cannot be
# encoded as UTF-8
ASSIGNED = [
    chr(c)
    for c in range(sys.maxunicode + 1)
    if unicodedata.category(chr(c)) not in ("Cn", "Cs")
]
ADVERSARIAL = [
    " ", "\t", "\n", "\r", "\x00", "\x1c", "\x1f", "\x7f", "\x85",
    "\u3000", "\ufeff", "\u200b", "\u00a0", "\u2028",
    "e", "A", "\u0301", "\u0308", "\u0323", "\u0345",  # combining marks
    "\u1100", "\u1161", "\u11a8", "\uac00",  # Hangul jamo + a syllable
    "\U0001f600", "\U0001f44d", "\U0001f3fd", "\u200d",  # emoji + ZWJ
]
TEXT = st.text(
    alphabet=st.one_of(st.sampled_from(ASSIGNED), st.sampled_from(ADVERSARIAL)),
    max_size=30,
)


@settings(max_examples=20, deadline=None)
@given(st.lists(st.one_of(st.none(), TEXT), min_size=1, max_size=30))
def test_normalize_text_matches_python_reference(spark, values):
    df = spark.createDataFrame([(v,) for v in values], "s string")
    got = [r[0] for r in df.select(normalize_text(F.col("s"))).collect()]
    assert got == [normalize_text_ref(v) for v in values]


def test_apply_delta_write_plan_has_no_python_and_keeps_combiner(
    spark, tmp_path, monkeypatch
):
    """The executed plan of a normalize=True apply's delta write runs no
    Python (no EvalPython node), and the LWW reduce's partial aggregate
    still sits below the key Exchange: ``reflect`` is nondeterministic, so
    this pins that the new projection does not block the map-side
    combine."""
    t = ParquetLakeTarget(
        spark, str(tmp_path / "mor"), n_buckets=2, mode="mor", compact_threshold=3
    )
    t.create()
    plans = []
    write = t._write_file_group

    def capture(data, obs=None):
        plans.append(data._jdf.queryExecution().executedPlan().toString())
        return write(data, obs)

    monkeypatch.setattr(t, "_write_file_group", capture)
    t0 = dt.datetime(2026, 1, 1)
    rows = [
        ("U", i, t0 + dt.timedelta(seconds=i), f"c{i % 3}", i % 2, "user",
         f"  t{i}é ", None)
        for i in range(1, 30)
    ]
    apply_batch(
        t, spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA), 0,
        CDCConfig(normalize=True),
    )
    assert len(plans) == 1  # the delta write; nothing compacted
    plan = plans[0]
    assert "EvalPython" not in plan, plan[:2000]
    i_exchange = plan.index("Exchange hashpartitioning")
    assert "partial_max" in plan[i_exchange:], plan[:2000]
    texts = {r["text"] for r in t.read().collect()}
    assert texts == {f"t{i}\u00e9" for i in range(24, 30)}
    t.drop()
