"""Sanskrit/IAST custom collation (SURVEY §2.6 O1 / §2.11 U1).

The reference sorts dropdown labels by a key built from alphabet
positions with greedy 2-char digraph matching (utils/utils.py:84-103),
applied at flask_app.py:72-73. ``sort_key_py`` is that key. The serving
dropdown (``serving.dropdown_options``) applies it on the driver, as the
reference does, to the rows it fetches. ``collate`` wraps it in the
engine's one pandas UDF (Arrow-batched, returning ARRAY<INT> sort keys
that Spark compares lexicographically — the same comparison Python
applies to lists); it now serves only the registry's
``o1_collation_sort`` window.

Quirk replicated exactly (utils.py:100-103): the digraph test runs at
EVERY character position and the index always advances by 1, so a
matched digraph's second character is re-scored on its own — e.g.
'kh' contributes [kh, h], not [kh]. Unknown characters (spaces,
digits, parens) score len(alphabet) = 49.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

# utils/utils.py:83-95 — order is the collation.
SANSKRIT_ALPHABET = [
    "a", "ā", "i", "ī", "u", "ū", "ṛ", "ṝ", "ḷ", "ḹ", "e", "ai", "o", "au",
    "k", "kh", "g", "gh", "ṅ",
    "c", "ch", "j", "jh", "ñ",
    "ṭ", "ṭh", "ḍ", "ḍh", "ṇ",
    "t", "th", "d", "dh", "n",
    "p", "ph", "b", "bh", "m",
    "y", "r", "l", "v",
    "ś", "ṣ", "s",
    "h",
    "ṃ", "ḥ",
]
CUSTOM_ORDER = {ch: i for i, ch in enumerate(SANSKRIT_ALPHABET)}
UNKNOWN = len(SANSKRIT_ALPHABET)


def sort_key_py(word: str) -> list[int]:
    """Reference implementation (utils.py:100-103): the dropdown's
    driver-side sort key, and the tests' oracle for ``collate``."""
    word = word.lower()
    return [
        CUSTOM_ORDER.get(word[i : i + 2], CUSTOM_ORDER.get(word[i], UNKNOWN))
        for i in range(len(word))
    ]


_UDF = None


def sanskrit_sort_key():
    """Vectorized collation-key pandas UDF (built lazily — parsing the
    return type needs an active SparkSession). The per-string loop is
    pure-Python but Arrow-batched; at 100 TB the column is
    dictionary-encoded short labels, and the key is computed once then
    reused by the sort."""
    global _UDF
    if _UDF is None:

        @pandas_udf("array<int>")
        def _key(labels: pd.Series) -> pd.Series:
            return labels.map(
                lambda w: sort_key_py(w) if isinstance(w, str) else None
            )

        _UDF = _key
    return _UDF


def collate(col: Column) -> Column:
    """Sort-key column: use as df.orderBy(collate(col('label')))."""
    return sanskrit_sort_key()(F.lower(col))
