"""Language-label vs writing-system consistency audit — does the corpus's
``lang`` column agree with what the BYTES say?

Labels arrive from upstream (crawler headers, CLD runs, partner metadata)
and rot: a ``zh`` label on Latin prose means the label pipeline is broken
or the document was swapped — and every per-language decision downstream
(stratified sampling rates, CCNet perplexity LMs, per-script model routing)
silently inherits the error.  This audit cross-checks the label against the
dominant Unicode script (``charprofile``'s explicit-range counts — the
expressions are IMPORTED, so audit and profile cannot drift) and reports
the per-(lang, script) contingency table with a consistency verdict from a
literal expected-script map shared by both engines.

Spark shape, audited for 100 TB: ONE scan (staged script counters →
dominant CASE), ONE partial-agg shuffle on the bounded (lang, script) key
— the output is a ≤ |langs|×|scripts| contingency table.

The synthetic fixture deliberately exercises the audit: its text is
English word-soup with an INDEPENDENT lang label, so zh-labeled docs are
Latin-dominant and surface as inconsistent — the oracle's positive path is
covered by the shipped test data itself.

Returns ``(lang, dominant_script, n_docs, expected_script, is_consistent)``
ordered by (lang, dominant_script).  A component of the
``t_char_integrity`` driver row, not registered on its own, with a pytest
DuckDB-parity oracle.
"""

from __future__ import annotations

from typing import Dict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tablestructurerec_spark.operators.charprofile import (
    dominant_script_col,
    dominant_sql,
    script_count_cols,
    script_counts_sql,
)

__all__ = [
    "q_lang_script_consistency",
    "lang_script_consistency",
    "langscript_sql",
    "EXPECTED_SCRIPT",
]

# lang → expected dominant script; langs absent here get 'unknown' and are
# counted consistent only if... never (unknown never equals a script name),
# which is the safe default: an unmapped language is itself a finding.
EXPECTED_SCRIPT: Dict[str, str] = {
    "en": "latin",
    "es": "latin",
    "de": "latin",
    "fr": "latin",
    "pt": "latin",
    "it": "latin",
    "ru": "cyrillic",
    "el": "greek",
    "ar": "arabic",
    "zh": "han",
    "ja": "kana",
    "ko": "hangul",
}


def q_lang_script_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return lang_script_consistency(read_table(spark, sf_dir, "documents"))


def lang_script_consistency(docs: DataFrame) -> DataFrame:
    staged = docs.select("lang", *script_count_cols())
    expected = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in EXPECTED_SCRIPT.items() for x in kv]
        ),
        F.col("lang"),
    )
    tagged = staged.select(
        "lang", dominant_script_col().alias("dominant_script")
    )
    agg = tagged.groupBy("lang", "dominant_script").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return agg.select(
        "lang",
        "dominant_script",
        "n_docs",
        F.coalesce(expected, F.lit("unknown")).alias("expected_script"),
        (
            F.coalesce(expected, F.lit("unknown")) == F.col("dominant_script")
        ).alias("is_consistent"),
        # NULLS LAST to match DuckDB's ASC default (Spark defaults to NULLS
        # FIRST, breaking row-order parity on corpora with null lang labels
        # — ADVICE r3; element_at/CASE already agree on the 'unknown' value)
    ).orderBy(
        F.asc_nulls_last("lang"), F.asc_nulls_last("dominant_script")
    )


def langscript_sql() -> str:
    """DuckDB twin of :func:`q_lang_script_consistency` — value-exact."""
    cases = "\n           ".join(
        f"WHEN '{lang}' THEN '{script}'"
        for lang, script in EXPECTED_SCRIPT.items()
    )
    return f"""
WITH staged AS (
  SELECT lang,
         {script_counts_sql()}
  FROM documents
), tagged AS (
  SELECT lang, {dominant_sql()} AS dominant_script FROM staged
), agg AS (
  SELECT lang, dominant_script, count(*) AS n_docs
  FROM tagged GROUP BY lang, dominant_script
)
SELECT lang, dominant_script, n_docs,
       CASE lang
           {cases}
           ELSE 'unknown' END AS expected_script,
       (CASE lang
           {cases}
           ELSE 'unknown' END) = dominant_script AS is_consistent
FROM agg
ORDER BY lang, dominant_script
"""
