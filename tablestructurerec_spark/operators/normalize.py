"""Unicode text normalization — the first stage of every real extraction
pipeline: crawl text arrives with C0 control bytes, zero-width characters,
BOM remnants, tab/space soup, and combining-mark (non-NFC) encodings of
the same glyphs, and every downstream operator that hashes text (exact
dedup, MinHash shingles, substring spans) silently fragments duplicates
unless the bytes are canonicalized first.

Two layers, deliberately separate:

* **cleanup** — strip controls (C0 except ``\\n``/``\\t``, DEL),
  zero-widths (U+200B–U+200D, U+FEFF), collapse space/tab runs, cap blank
  runs at one empty line, trim — is pure ``regexp_replace`` chain: JVM-
  side, whole-stage codegen, zero Python.  The character classes use
  ``\\x{...}`` hex escapes, which Java regex and RE2 parse identically,
  so the DuckDB oracle runs the very same pattern strings (DuckDB needs
  the explicit ``'g'`` flag — its ``regexp_replace`` is first-match by
  default where Spark's is always global);
* **NFC composition** — has no JVM builtin, so it is the one honest
  Python stage: an Arrow-batched ``pandas_udf`` over
  ``unicodedata.normalize``.  The oracle checks it value-exactly against
  DuckDB's ``nfc_normalize`` — two independent NFC implementations
  agreeing on every document, which is a stronger pin than either alone.

Spark shape, audited for 100 TB: map-only — zero shuffles (the trailing
``orderBy`` is presentation for the parity harness).  The cleaned column
is STAGED as its own projection so the regexp chain is evaluated once,
not re-inlined into every consumer (SCALING.md §4d), and the projection
feeding the Arrow stage carries only (doc_id, cleaned) — manual pruning
before a Python stage, as everywhere else in this repo.
"""

from __future__ import annotations


import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["q_normalize_text", "_NORMALIZE_SQL"]

# identical byte-for-byte in Java regex and RE2
_CTRL = r"[\x00-\x08\x0B-\x1F\x7F\x{200B}-\x{200D}\x{FEFF}]"
_WS_RUN = r"[ \t]+"
_EOL_WS = r" \n"  # space-before-newline left by the run collapse
_BLANK_RUN = r"\n{3,}"


def _cleaned(col: Column) -> Column:
    c = F.regexp_replace(col, _CTRL, "")
    c = F.regexp_replace(c, _WS_RUN, " ")
    c = F.regexp_replace(c, _EOL_WS, "\n")
    c = F.regexp_replace(c, _BLANK_RUN, "\n\n")
    return F.trim(c)


def _nfc(col) -> Column:
    """Arrow-batched NFC pass (lazy: ``pandas_udf`` registration needs an
    active session, so the udf is built at call time, not import time)."""

    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    return F.pandas_udf(nfc, "string")(col)


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document ``(doc_id, clean_text, nfc_changed, norm_md5)``:
    ``clean_text`` is the JVM cleanup layer's output, ``norm_md5`` hashes
    the fully-normalized (cleanup + NFC) text — the content key downstream
    dedup should use — and ``nfc_changed`` flags documents whose bytes the
    NFC pass actually rewrote (an audit column: a spike in it means an
    upstream source changed encoders)."""
    from tablestructurerec_spark.sources.read import read_table

    docs = read_table(spark, sf_dir, "documents")
    staged = docs.select("doc_id", _cleaned(F.col("text")).alias("clean_text"))
    nfc = staged.select("doc_id", "clean_text", _nfc("clean_text").alias("nfc_text"))
    return nfc.select(
        "doc_id",
        "clean_text",
        (F.col("nfc_text") != F.col("clean_text")).alias("nfc_changed"),
        F.md5("nfc_text").alias("norm_md5"),
    ).orderBy("doc_id")


_CLEAN_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    f"text, '{_CTRL}', '', 'g'), "
    f"'{_WS_RUN}', ' ', 'g'), "
    f"'{_EOL_WS}', chr(10), 'g'), "
    f"'{_BLANK_RUN}', chr(10) || chr(10), 'g'))"
)

_NORMALIZE_SQL = f"""
WITH staged AS (
  SELECT doc_id, {_CLEAN_SQL} AS clean_text FROM documents
)
SELECT doc_id,
       clean_text,
       nfc_normalize(clean_text) <> clean_text AS nfc_changed,
       md5(nfc_normalize(clean_text)) AS norm_md5
FROM staged
ORDER BY doc_id
"""
