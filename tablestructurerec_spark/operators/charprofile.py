"""Per-document Unicode script / charset profile — the routing signal a
multilingual corpus pipeline needs BEFORE language ID: which writing
system is a page even in?  N-gram langid (``textstats.q_lang_id_ngram``)
assumes Latin text; CJK / Cyrillic / Arabic pages must be routed to
per-script models, and a page whose script mix is incoherent (Latin prose
with stray Hangul) is a strong spam/injection signal.

Counts per script class come from ``size(regexp_extract_all(...))`` over
explicit code-point ranges — deliberately NOT ``\\p{Script=...}`` classes,
whose definitions differ between Java regex and RE2; explicit ranges make
Spark and DuckDB count identically, so the operator carries a full
value-exact oracle.  The dominant script is a fixed-priority CASE chain
over the class maxima (deterministic under ties in both engines).

Spark shape, audited for 100 TB: map-only, ZERO key shuffles
(presentation sort only) — one staged projection of nine codegen'd regexp
counts per document, fractions integer-divided and rounded to 6dp before
any comparison (the repo-wide hash-exactness discipline).
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "q_char_profile",
    "_CHARPROFILE_SQL",
    "SCRIPT_CLASSES",
    "script_count_cols",
    "dominant_script_col",
    "script_counts_sql",
    "dominant_sql",
]

# (name, regex char class) — explicit ranges only, identical in Java + RE2.
SCRIPT_CLASSES: List[Tuple[str, str]] = [
    ("latin", r"[A-Za-z\x{00C0}-\x{024F}]"),  # ASCII letters + Latin-1/Ext-A/B
    ("cyrillic", r"[\x{0400}-\x{04FF}]"),
    ("greek", r"[\x{0370}-\x{03FF}]"),
    ("arabic", r"[\x{0600}-\x{06FF}]"),
    ("han", r"[\x{4E00}-\x{9FFF}]"),
    ("kana", r"[\x{3040}-\x{30FF}]"),
    ("hangul", r"[\x{AC00}-\x{D7AF}]"),
]
_DIGIT = r"[0-9]"
_ASCII = r"[\x{0000}-\x{007F}]"
# explicit ws class: Java's \s includes \x0B, RE2's does not — pin the set
_WS = r"[ \t\n\r\f]"


def script_count_cols():
    """The staged per-script counter columns over ``text`` — shared with the
    lang-script consistency audit (`operators/langscript.py`)."""

    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    return [
        n(pat).cast("long").alias(f"n_{name}") for name, pat in SCRIPT_CLASSES
    ]


def dominant_script_col():
    """Fixed-priority dominant script over the staged counter columns."""
    top = F.greatest(*[F.col(f"n_{name}") for name, _ in SCRIPT_CLASSES])
    dominant = F.when(top == 0, F.lit("none"))
    for name, _ in SCRIPT_CLASSES:  # fixed priority order breaks ties
        dominant = dominant.when(F.col(f"n_{name}") == top, F.lit(name))
    return dominant


def script_counts_sql() -> str:
    """DuckDB twin of :func:`script_count_cols` (a SELECT-list fragment)."""
    return ",\n         ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS BIGINT) AS n_{name}"
        for name, pat in SCRIPT_CLASSES
    )


def dominant_sql() -> str:
    """DuckDB twin of :func:`dominant_script_col`."""
    top = "greatest(" + ", ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES) + ")"
    dom = "CASE WHEN " + top + " = 0 THEN 'none'\n"
    for name, _ in SCRIPT_CLASSES:
        dom += f"           WHEN n_{name} = {top} THEN '{name}'\n"
    dom += "      END"
    return dom


def q_char_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document script counts, non-ASCII fraction, dominant script."""
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents")

    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    staged = docs.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars"),
        *script_count_cols(),
        n(_DIGIT).cast("long").alias("n_digit"),
        n(_WS).cast("long").alias("n_ws"),
        n(_ASCII).cast("long").alias("n_ascii"),
    )
    dominant = dominant_script_col()
    non_ascii = F.when(
        F.col("n_chars") > 0,
        F.round(
            (F.col("n_chars") - F.col("n_ascii")) * 1.0 / F.col("n_chars"), 6
        ),
    ).otherwise(0.0)
    return staged.select(
        "doc_id",
        "n_chars",
        *[f"n_{name}" for name, _ in SCRIPT_CLASSES],
        "n_digit",
        "n_ws",
        non_ascii.alias("non_ascii_frac"),
        dominant.alias("dominant_script"),
    ).orderBy("doc_id")


def _sql() -> str:
    counts = script_counts_sql()
    dom = dominant_sql()
    return f"""
WITH staged AS (
  SELECT doc_id,
         CAST(length(text) AS BIGINT) AS n_chars,
         {counts},
         CAST(len(regexp_extract_all(text, '{_DIGIT}')) AS BIGINT) AS n_digit,
         CAST(len(regexp_extract_all(text, '{_WS}')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text, '{_ASCII}')) AS BIGINT) AS n_ascii
  FROM documents
)
SELECT doc_id, n_chars,
       {", ".join(f"n_{name}" for name, _ in SCRIPT_CLASSES)},
       n_digit, n_ws,
       CASE WHEN n_chars > 0
            THEN ROUND((n_chars - n_ascii) * 1.0 / n_chars, 6)
            ELSE 0.0 END AS non_ascii_frac,
       {dom} AS dominant_script
FROM staged
ORDER BY doc_id
"""


_CHARPROFILE_SQL = _sql()
