"""Text normalization as one JVM expression (no Python worker).

Reference analogue: the per-row value conversion + UTF-8 decode inside the
Create-Jena-Model step (convertSqlValueToRdf, JenaModelStep.java:439-533) —
the engine's per-event payload normalization before merge. Purity matters:
byte-identical replay (north rule) requires these to be deterministic,
version-pinned functions of their input only.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

# C0 controls and DEL, except \t \n \r (whitespace, collapsed below);
# the same pattern in Python's re and Java's regex
CONTROL_CHARS = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text(col: Column) -> Column:
    """NFC-normalize (ICU's Normalizer, shipped with Spark), strip control
    chars, collapse Unicode whitespace runs, trim. Equals
    ``normalize_text_ref`` on the code points Python's Unicode assigns."""
    nfc = F.when(  # reflect raises an NPE on a null argument
        col.isNotNull(),
        F.reflect(F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), col,
                  F.lit(False)),
    )
    return F.trim(
        F.regexp_replace(F.regexp_replace(nfc, CONTROL_CHARS, ""), r"(?U)\s+", " ")
    )


def normalize_text_ref(v: str | None) -> str | None:
    """The specification ``normalize_text`` is tested against: pure Python,
    pinned by ``unicodedata.unidata_version``."""
    if v is None:
        return None
    v = re.sub(CONTROL_CHARS, "", unicodedata.normalize("NFC", v))
    return re.sub(r"\s+", " ", v).strip()
