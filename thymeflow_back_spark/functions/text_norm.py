"""Text normalization scalar functions.

Reference surface: diacritics-removal + lowercase normalization
(utilities/text/Normalization.scala, memoized at EntityResolution.scala:15)
and punctuation/space tokenization (EntityResolution.scala:39-40,123-125).
Common-Latin diacritics fold via translate, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_ACCENTED = "àáâãäåçèéêëìíîïñòóôõöùúûüýÿÀÁÂÃÄÅÇÈÉÊËÌÍÎÏÑÒÓÔÕÖÙÚÛÜÝ"
_PLAIN = "aaaaaaceeeeiiiinooooouuuuyyAAAAAACEEEEIIIINOOOOOUUUUY"


def normalize_text(col: Column) -> Column:
    """Lowercase + common-Latin diacritics fold (JVM-side, codegen-friendly)."""
    return F.lower(F.translate(col, _ACCENTED, _PLAIN))


def tokenize(col: Column) -> Column:
    """Split on punctuation/whitespace/bullets, drop empties (array<string>).

    Mirrors the reference tokenizer's character class (punct + space + •).
    """
    return F.filter(F.split(col, r"[\p{Punct}\s•]+"), lambda t: t != "")
