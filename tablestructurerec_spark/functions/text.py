"""Native text-cleanup Column expressions (the JVM fast path).

Boilerplate stripping for turns *without* embedded tables stays entirely
inside whole-stage codegen — no Python round-trip.  The expressions mirror
:func:`tablestructurerec_spark.core.html_parse.strip_boilerplate` (parity is
pinned by tests/test_extract_plan.py); the graft analogue of the reference's
input normalization (ref lineless_table_rec/utils/utils.py:249-341).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "TABLE_PATTERN",
    "has_table_col",
    "n_tables_col",
    "strip_tables_col",
    "strip_boilerplate_col",
]

# Java-regex twins of core.html_parse's python patterns.  The DuckDB
# oracle (__spark_entry__._clean_turns_oracle) imports these same strings —
# one definition, three execution engines.
BOILERPLATE_TAGS = ("script", "style", "nav", "header", "footer", "aside", "noscript")
TABLE_PATTERN = r"(?is)<table\b[^>]*>.*?</table>"
COMMENT_PATTERN = r"(?s)<!--.*?-->"
_BLOCK_PATTERN = rf"(?is)<({'|'.join(BOILERPLATE_TAGS)})\b[^>]*>.*?</\1>"
TAG_PATTERN = r"<[^>]+>"
# \r included: CRLF/stray-CR text must clean identically to the python
# twin's line.strip() behavior (all three faces — python kernel, this
# chain, the DuckDB oracle — carry the same class)
_HSPACE_PATTERN = "[ \t\f\x0B\r]+"


def has_table_col(text: Column) -> Column:
    """Cheap pre-filter: does the turn plausibly embed a table?

    ``contains`` is a codegen'd substring scan — the regex stage only ever
    sees rows that pass it.
    """
    return F.lower(text).contains("<table")


def n_tables_col(text: Column) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(TABLE_PATTERN), F.lit(0)))


def strip_tables_col(text: Column) -> Column:
    return F.regexp_replace(text, TABLE_PATTERN, " ")


def strip_boilerplate_col(text: Column) -> Column:
    """Native twin of ``core.html_parse.strip_boilerplate``.

    Order matters and matches the python kernel: comments → boilerplate
    blocks → remaining tags → horizontal-whitespace collapse → per-line trim
    and empty-line drop.
    """
    t = F.regexp_replace(text, COMMENT_PATTERN, "")
    t = F.regexp_replace(t, _BLOCK_PATTERN, "")
    t = F.regexp_replace(t, TAG_PATTERN, " ")
    t = F.regexp_replace(t, _HSPACE_PATTERN, " ")
    # python: split('\n') → strip each line → drop empties → '\n'.join
    t = F.regexp_replace(t, r" *\n *", "\n")
    t = F.regexp_replace(t, r"\n{2,}", "\n")
    return F.regexp_replace(t, r"^[\n ]+|[\n ]+$", "")
