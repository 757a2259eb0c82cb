"""Encoding-damage (mojibake) detection — the audit sibling of
`operators/normalize.py`: normalization canonicalizes bytes that are
merely MESSY, but bytes that were mis-decoded upstream (a cp1252 page
read as latin-1, UTF-8 decoded twice, a lossy transcode inserting
U+FFFD) are unrecoverable without re-fetching, so the pipeline's job is
to DETECT and quarantine them before they poison dedup keys and training
text.  Three independent, cheap, high-precision signals:

* **replacement characters** (U+FFFD) — a decoder already gave up;
* **C1 controls** (U+0080–U+009F) — the classic cp1252-bytes-decoded-
  as-latin-1 signature (curly quotes, em-dashes land here);
* **double-encoded UTF-8** — ``Â``/``Ã`` followed by a character in
  U+0080–U+00BF (``é`` → ``Ã©``, NBSP → ``Â ``): the two-byte UTF-8
  sequence re-interpreted as latin-1 and re-encoded.

Counts come from ``size(regexp_extract_all(...))`` — identical builtin in
Spark and DuckDB, so the per-source health report (``operators/health.py``)
that consumes these columns carries a full value-exact oracle
(``_MOJIBAKE_SQL``, per document).

Spark shape, audited for 100 TB: map-only, zero shuffles — three regexp
scans per document inside whole-stage codegen, no Python anywhere.  The
score is integer-scaled per kilochar and rounded to 6dp BEFORE the flag
comparison, keeping both engines' floats identical
(the repo-wide hash-exactness discipline).
"""

from __future__ import annotations

from pyspark.sql import functions as F

__all__ = [
    "_MOJIBAKE_SQL",
    "DAMAGE_PER_KCHAR",
    "damage_count_cols",
    "damage_score_col",
    "is_damaged_col",
]

# flag threshold: >0.5 damage signals per 1000 chars, or ANY replacement char
DAMAGE_PER_KCHAR = 0.5

_REPL = "�"
_C1 = r"[\x{0080}-\x{009F}]"
_DOUBLE = r"[\x{00C2}\x{00C3}][\x{0080}-\x{00BF}]"


def damage_count_cols():
    """The staged per-doc damage counters over a ``text`` column — shared
    with the source-health report so audit and report cannot drift."""

    def n(pat):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pat), F.lit(0)))

    return [
        F.length("text").cast("long").alias("n_chars"),
        n(_REPL).cast("int").alias("n_replacement"),
        n(_C1).cast("int").alias("n_c1"),
        n(_DOUBLE).cast("int").alias("n_double"),
    ]


def damage_score_col():
    """damage_per_kchar over the staged counter columns."""
    return F.when(
        F.col("n_chars") > 0,
        F.round(
            (F.col("n_replacement") + F.col("n_c1") + F.col("n_double"))
            * 1000.0
            / F.col("n_chars"),
            6,
        ),
    ).otherwise(0.0)


def is_damaged_col(score):
    return (F.col("n_replacement") > 0) | (score > DAMAGE_PER_KCHAR)


_MOJIBAKE_SQL = f"""
WITH staged AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '\\x{{FFFD}}')) AS n_replacement,
         len(regexp_extract_all(text, '{_C1}')) AS n_c1,
         len(regexp_extract_all(text, '{_DOUBLE}')) AS n_double
  FROM documents
), scored AS (
  SELECT *,
         CASE WHEN n_chars > 0
              THEN ROUND((n_replacement + n_c1 + n_double) * 1000.0 / n_chars, 6)
              ELSE 0.0 END AS damage_per_kchar
  FROM staged
)
SELECT doc_id,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(n_replacement AS INT) AS n_replacement,
       CAST(n_c1 AS INT) AS n_c1,
       CAST(n_double AS INT) AS n_double,
       damage_per_kchar,
       (n_replacement > 0 OR damage_per_kchar > {DAMAGE_PER_KCHAR}) AS is_damaged
FROM scored
ORDER BY doc_id
"""
