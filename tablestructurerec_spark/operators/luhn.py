"""Luhn-validated credit-card detection — the checksum the regex-only PII
scrub (``hygiene.q_pii_scrub``) cannot express.

A 13-16 digit run is usually NOT a card (ids, timestamps, hashes); shipping
a scrubber that redacts every digit run destroys data, shipping one that
redacts none leaks PAN data.  The industry rule is regex candidates +
Luhn mod-10 checksum.  Both stages here are pure Catalyst expressions —
no UDF:

* candidates: five ordered alternatives — 4-4-4-x(-y) and Amex 4-6-5
  groupings, each with a SINGLE consistent separator (all-space or
  all-hyphen), plus an UNBOUNDED contiguous run ``[0-9]{13,}``.  The
  grouped form carries an OPTIONAL fifth group of up to 7 digits
  (ADVICE r4): a 19-digit 4-4-4-4-3 grouped id (real: Visa/UnionPay PAN
  layouts) must extract WHOLE and be rejected by the 13-16 guard, not
  be truncated at the fourth group into a 16-digit prefix that passes
  Luhn by chance.  Because RE2 lacks the lookahead that could stop the
  merge at "junk" groups, the year/junk disambiguation happens in the
  CHECKSUM stage instead (see below): a merged trailing group of ≥4
  digits ("... 1111 2023 exp") is stripped back off before the length
  test — a 4+-digit trailing group cannot be the last group of a
  ≤19-digit 4-4-4-4-x PAN — so the ADVICE-r3 year false-negative stays
  fixed, while a trailing 1-3 digit group is indistinguishable from a
  17-19-digit PAN's last group and stays merged (extract-whole-and-
  reject, the documented residual-merge class).  The
  contiguous alternative stays unbounded, so a 20-digit account id is
  extracted whole and rejected by the 13-16 length guard rather than
  truncated to a 16-digit prefix that passes Luhn by chance (~10% of long
  ids would false-positive under a bounded pattern; found in review).
  Separators are only accepted at group boundaries with a consistent
  separator: an earlier fully unbounded ``[0-9](?:[ -]?[0-9]){12,}``
  merged a valid card with ANY adjacent space/hyphen-separated digit
  group ("4111111111111111 99", "...1111 exp 2023", "1234 4111-...")
  into one 18+-digit run the length guard then rejected — a false
  NEGATIVE that let real PANs past the audit (ADVICE r3).  Residual
  documented merges (all still extract-whole-and-reject, the original
  anti-truncation intent): digits glued with NO separator
  ("12344111111111111111"), digits glued to the LAST group of a grouped
  card ("4111 1111 1111 111199"), and a 4-digit junk group joined to a
  grouped card by the SAME separator ("2023 4111 1111 1111 1111" — the
  leftmost-first match consumes "2023 4111 1111 1111"); disambiguating
  that last case needs lookbehind, which RE2 (DuckDB) lacks.  Plain
  ordered alternation without backreferences is leftmost-first in BOTH
  Java regex (Spark) and RE2, and the adversarial parity test pins the
  agreement;
* checksum: strip separators; if the digit count is 13..16, run the Luhn
  fold; if it EXCEEDS 16 and the candidate's LAST separated group has ≥4
  digits and removing it lands in 13..16, Luhn the prefix (the merged
  year/junk-group strip — equivalent to the pre-r4 behavior, where the
  pattern itself stopped before a 4+-digit trailing group); otherwise
  reject.  The Luhn fold is a two-arg ``transform`` over the REVERSED
  digit array — the (elem, idx) binding of two-arg lambdas (the
  SCALING.md §2 footgun) is exactly what Luhn's every-second-digit
  doubling needs — summed and tested mod 10.  DuckDB mirrors with
  list_zip(range) + list_sum.

MAP-ONLY: one scan, nothing leaves the row.  The per-source health report
(``operators/health.py``) flags a document by its ``_SPARK_VALID`` verdicts;
:func:`cc_sql` is the DuckDB twin, per doc with at least one candidate:
``(doc_id, n_candidates, n_valid, has_valid_cc)``.
"""

from __future__ import annotations

__all__ = ["cc_sql", "CAND_RE"]

CAND_RE = (
    "[0-9]{4}(?: [0-9]{4}){2} [0-9]{1,7}(?: [0-9]{1,7})?"
    "|[0-9]{4}(?:-[0-9]{4}){2}-[0-9]{1,7}(?:-[0-9]{1,7})?"
    "|[0-9]{4} [0-9]{6} [0-9]{5}"
    "|[0-9]{4}-[0-9]{6}-[0-9]{5}"
    "|[0-9]{13,}"
)

# candidate-local pieces shared by the validity CASE in both engines:
# the separator-stripped digits and the LAST separated group ('' when the
# candidate is contiguous)
_DIGITS = "regexp_replace(m, '[ -]', '')"
_LASTG = "regexp_extract(m, '[ -]([0-9]+)$', 1)"
_PREFIX = f"substring({_DIGITS}, 1, length({_DIGITS}) - length({_LASTG}))"


def _luhn_spark(s: str) -> str:
    """1/0 Luhn verdict over a digit-string expression ``s`` — digits
    right-to-left, double every second, subtract 9 above 9, sum % 10 == 0."""
    return (
        f"IF(aggregate(transform(reverse(split({s}, '')), "
        "(d, i) -> IF(i % 2 = 1, "
        "IF(CAST(d AS INT) * 2 > 9, CAST(d AS INT) * 2 - 9, CAST(d AS INT) * 2), "
        "CAST(d AS INT))), 0, (acc, x) -> acc + x) % 10 = 0, 1, 0)"
    )


_SPARK_VALID = f"""
transform(
  regexp_extract_all(text, '{CAND_RE}', 0),
  m -> CASE
    WHEN length({_DIGITS}) BETWEEN 13 AND 16 THEN {_luhn_spark(_DIGITS)}
    WHEN length({_DIGITS}) > 16 AND length({_LASTG}) >= 4
         AND length({_DIGITS}) - length({_LASTG}) BETWEEN 13 AND 16
      THEN {_luhn_spark(_PREFIX)}
    ELSE 0 END)
"""


def _luhn_duck(s: str) -> str:
    """DuckDB 1/0 Luhn verdict over a digit-string expression ``s``."""
    return (
        "CASE WHEN list_sum(list_transform("
        f"list_zip(list_reverse(string_split_regex({s}, '')), "
        f"range(1, length({s}) + 1)), "
        "p -> CASE WHEN (p[2] - 1) % 2 = 1 "
        "THEN CASE WHEN p[1]::INT * 2 > 9 THEN p[1]::INT * 2 - 9 ELSE p[1]::INT * 2 END "
        "ELSE p[1]::INT END)) % 10 = 0 THEN 1 ELSE 0 END"
    )


def cc_sql() -> str:
    """DuckDB twin of the ``_SPARK_VALID`` verdicts — value-exact."""
    d = "regexp_replace(m, '[ -]', '', 'g')"
    lastg = "regexp_extract(m, '[ -]([0-9]+)$', 1)"
    prefix = f"substring({d}, 1, length({d}) - length({lastg}))"
    return f"""
WITH cands AS (
  SELECT doc_id,
         regexp_extract_all(text, '{CAND_RE}', 0) AS ms
  FROM documents
), flags AS (
  SELECT doc_id,
         list_transform(ms, m -> CASE
           WHEN length({d}) BETWEEN 13 AND 16 THEN {_luhn_duck(d)}
           WHEN length({d}) > 16 AND length({lastg}) >= 4
                AND length({d}) - length({lastg}) BETWEEN 13 AND 16
             THEN {_luhn_duck(prefix)}
           ELSE 0 END) AS valid_flags
  FROM cands
)
SELECT doc_id,
       CAST(len(valid_flags) AS BIGINT) AS n_candidates,
       CAST(coalesce(list_sum(valid_flags), 0) AS BIGINT) AS n_valid,
       coalesce(list_sum(valid_flags), 0) > 0 AS has_valid_cc
FROM flags
WHERE len(valid_flags) > 0
ORDER BY doc_id
"""
