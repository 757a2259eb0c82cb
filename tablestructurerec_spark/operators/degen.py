"""Degenerate-generation loop detection — the repetition pathology audit
for MODEL-GENERATED text (assistant turns): greedy/low-temperature decoding
failures show up as immediate token loops ("the the the ...") and period-2
cycles ("yes no yes no ..."), which the corpus-level repetition filters
(Gopher dup-sentence fractions, dup-span mining) are not shaped to catch —
those measure repeated CONTENT, this measures repeated STRUCTURE inside a
single sequence.

Spark shape, audited for 100 TB: the signal is MAP-ONLY — one scan,
two ``aggregate()`` higher-order functions over the token array computing
the longest identical-adjacent run and the longest period-2 cycle streak in
a single left fold each, no explode, no shuffle, nothing leaves the row.
(The interpreted-HOF cost is per-token but constant-state; the explode +
per-doc-window alternative would shuffle every token position on doc_id —
the SCALING.md §4d tradeoff, resolved the opposite way here because the
fold state is 4 scalars, not a map lookup.)  The HOFs are written as SQL
``aggregate(...)`` expressions, not Python lambdas (arity-detection gotcha,
SCALING.md §2).

All-integer outputs; the DuckDB twin computes the same runs the NAIVE way
(unnest + lag + gaps-and-islands windows), so parity proves the folds.

The twin returns one row per document: ``(doc_id, n_tok, max_run,
max_cycle2, is_degenerate)`` where ``max_run`` is the longest
immediate-repeat run (k identical adjacent tokens → k), ``max_cycle2`` the
longest streak of positions satisfying ``t[i] = t[i-2]``, and
``is_degenerate`` flags ``max_run >= 5 OR max_cycle2 >= 8``.  The folds
and the twin feed the per-source health report (``operators/health.py``).
"""

from __future__ import annotations

from tablestructurerec_spark.operators.textstats import tokens_sql

__all__ = ["degen_sql", "RUN_LIMIT", "CYCLE2_LIMIT"]

RUN_LIMIT = 5
CYCLE2_LIMIT = 8

# Longest identical-adjacent-token run: fold state (prev, cur, best).
_RUN1 = """
aggregate(
  toks,
  named_struct('prev', '', 'cur', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'prev', x,
    'cur',  IF(x = acc.prev, acc.cur + CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
    'best', GREATEST(acc.best, IF(x = acc.prev, acc.cur + CAST(1 AS BIGINT), CAST(1 AS BIGINT)))),
  acc -> acc.best)
"""

# Longest period-2 cycle streak: fold state (p2, p1, cur, best); a position
# scores when it equals the token two back (initial '' sentinels can never
# match a non-empty token).
_RUN2 = """
aggregate(
  toks,
  named_struct('p2', '', 'p1', '', 'cur', CAST(0 AS BIGINT), 'best', CAST(0 AS BIGINT)),
  (acc, x) -> named_struct(
    'p2', acc.p1,
    'p1', x,
    'cur',  IF(x = acc.p2, acc.cur + CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
    'best', GREATEST(acc.best, IF(x = acc.p2, acc.cur + CAST(1 AS BIGINT), CAST(0 AS BIGINT)))),
  acc -> acc.best)
"""


def degen_sql() -> str:
    """DuckDB twin of the ``_RUN1``/``_RUN2`` folds — the naive unnest +
    lag + gaps-and-islands computation, value-exact."""
    return f"""
WITH base AS (
  SELECT doc_id, {tokens_sql()} AS toks FROM documents
), pos AS (
  SELECT doc_id, unnest(toks) AS w, generate_subscripts(toks, 1) AS i FROM base
), f1 AS (
  SELECT doc_id, i,
         CASE WHEN w = lag(w) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 0 ELSE 1 END AS brk
  FROM pos
), isl1 AS (
  SELECT doc_id, sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM f1
), runs1 AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_run
  FROM (SELECT doc_id, grp, count(*) AS cnt FROM isl1 GROUP BY doc_id, grp)
  GROUP BY doc_id
), f2 AS (
  SELECT doc_id, i,
         CASE WHEN w = lag(w, 2) OVER (PARTITION BY doc_id ORDER BY i)
              THEN 1 ELSE 0 END AS s
  FROM pos
), g2 AS (
  SELECT doc_id, s, sum(1 - s) OVER (PARTITION BY doc_id ORDER BY i) AS grp FROM f2
), runs2 AS (
  SELECT doc_id, CAST(max(cnt) AS BIGINT) AS max_cycle2
  FROM (SELECT doc_id, grp, sum(s) AS cnt FROM g2 GROUP BY doc_id, grp)
  GROUP BY doc_id
)
SELECT b.doc_id,
       CAST(len(b.toks) AS BIGINT) AS n_tok,
       coalesce(r1.max_run, 0) AS max_run,
       coalesce(r2.max_cycle2, 0) AS max_cycle2,
       (coalesce(r1.max_run, 0) >= {RUN_LIMIT}
        OR coalesce(r2.max_cycle2, 0) >= {CYCLE2_LIMIT}) AS is_degenerate
FROM base b
LEFT JOIN runs1 r1 USING (doc_id)
LEFT JOIN runs2 r2 USING (doc_id)
ORDER BY doc_id
"""
