"""Agent-trace tool-use analytics — the transcript-native operators an
agent-data pipeline runs over the ``tool``/``ts`` columns of the
``(conv_id, turn_idx, role, text, tool, ts)`` transcript shape (the north
rule's input hint) that the role-sequence audit (``convschema``) does not
touch.

One fused per-conversation audit (``q_agent_trace_audit``) over a
transcript frame, covering three signals:

* **tool chains** — consecutive ``role='tool'`` turns sessionized into
  CHAINS (gaps-and-islands: a chain starts at a tool turn whose
  predecessor is not a tool turn): tool-turn count, chain count, longest
  chain, and the widest chain's distinct-tool count.  Long chains are the
  signature of multi-step agent work; a corpus whose chains are all
  length 1 trains no planning behavior.

* **call latency** — for every assistant→tool adjacent pair, the ``ts``
  delta in whole seconds, summed and maxed per conversation.  All-integer
  (``timestampdiff(SECOND)`` ↔ DuckDB ``date_diff('second')``), so the
  oracle is value-exact — no float drift (SCALING.md §2 discipline).

* **agent loops** — maximal runs of CONSECUTIVE tool turns invoking the
  SAME tool (null-safe ``<=>`` / ``IS NOT DISTINCT FROM`` comparison),
  flagging conversations with any run of ``LOOP_LIMIT``+ identical calls.
  The agent-trace analogue of ``degen``'s intra-document text loops: an
  assistant stuck re-issuing the same call is the most common agent-data
  pathology and must be filtered before training.

Shuffle shape (the ``convschema`` discipline, plan-pinned): the lag
window partitions by ``conv_id``; every downstream groupBy key set
CONTAINS ``conv_id``, and Spark's ``ClusteredDistribution`` is satisfied
by a hash partitioning on any subset of the grouping keys — so the audit
runs on a SINGLE hash exchange end-to-end.  At 10^12 turns the Zipf-hot
conversations cost one task's sort each (``skewaudit``'s salt_factor
measures exactly this frame).

The q_ wrapper derives a deterministic agent-trace view from
``documents`` (md5-projected roles/tools, arithmetic ``ts`` — the
``_transcripts_from_documents`` / ``convschema._conv_view`` precedent),
so it carries a full DuckDB value-exact oracle.
"""

from __future__ import annotations

from typing import Callable, Dict

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

__all__ = [
    "QUERIES",
    "ORACLE_SQL",
    "q_agent_trace_audit",
    "agent_trace_audit",
    "trace_audit_sql",
    "LOOP_LIMIT",
    "TOOLS",
]

LOOP_LIMIT = 3
TOOLS = ["search", "python", "browser"]
_TURNS_PER_CONV = 8
# tool-heavy mix so chains/loops actually occur at bench scale: 3/5 tool
_ROLE_MIX = ["user", "assistant", "tool", "tool", "tool"]


def _agent_view(docs: DataFrame) -> DataFrame:
    """Deterministic agent-trace projection of documents — identical in
    DuckDB (:data:`_AGENT_VIEW_SQL`).  ``ts`` steps 7s per turn plus an
    md5 jitter in [0, 4], so adjacent-turn deltas are positive and vary."""
    role_ix = F.expr(
        "CAST(conv('0' || substring(md5(concat('ar:', CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT) % 5"
    )
    tool_ix = F.expr(
        "CAST(conv('0' || substring(md5(concat('at:', CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT) % 3"
    )
    role = F.element_at(F.array(*[F.lit(r) for r in _ROLE_MIX]), role_ix + 1)
    return docs.select(
        F.expr(f"CAST(doc_id DIV {_TURNS_PER_CONV} AS BIGINT)").alias("conv_id"),
        F.expr(f"CAST(doc_id % {_TURNS_PER_CONV} AS INT)").alias("turn_idx"),
        role.alias("role"),
        F.when(
            role == "tool", F.element_at(F.array(*[F.lit(t) for t in TOOLS]), tool_ix + 1)
        ).alias("tool"),
        F.expr(
            "TIMESTAMP_NTZ '2025-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id * 7 + "
            "CAST(conv('0' || substring(md5(concat('aj:', CAST(doc_id AS STRING))), 1, 2), 16, 10) AS INT) % 5)"
        ).alias("ts"),
    )


_AGENT_VIEW_SQL = f"""
  SELECT CAST(doc_id // {_TURNS_PER_CONV} AS BIGINT) AS conv_id,
         CAST(doc_id % {_TURNS_PER_CONV} AS INT) AS turn_idx,
         (['user', 'assistant', 'tool', 'tool', 'tool'])[
             (('0x' || substr(md5('ar:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT % 5) + 1
         ] AS role,
         CASE WHEN (['user', 'assistant', 'tool', 'tool', 'tool'])[
                  (('0x' || substr(md5('ar:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT % 5) + 1
              ] = 'tool'
              THEN (['search', 'python', 'browser'])[
                  (('0x' || substr(md5('at:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT % 3) + 1
              ] END AS tool,
         TIMESTAMP '2025-01-01 00:00:00'
           + to_seconds(doc_id * 7
                        + ('0x' || substr(md5('aj:' || CAST(doc_id AS VARCHAR)), 1, 2))::INT % 5) AS ts
  FROM documents
"""


def _new_chain_col():
    """Chain-start flag over staged ``(role, prev_role)`` columns."""
    return (
        F.when(
            (F.col("role") == "tool")
            & (F.coalesce(F.col("prev_role"), F.lit("")) != "tool"),
            1,
        )
        .otherwise(0)
        .alias("new_chain")
    )


def _new_run_col():
    """Run-start flag over staged ``(role, tool, prev_role, prev_tool)``
    columns — null-safe tool comparison."""
    return (
        F.when(
            (F.col("role") == "tool")
            & ~(
                (F.coalesce(F.col("prev_role"), F.lit("")) == "tool")
                & F.expr("prev_tool <=> tool")
            ),
            1,
        )
        .otherwise(0)
        .alias("new_run")
    )


def _lat_col():
    """Assistant→tool latency over staged ``(role, prev_role, ts, prev_ts)``
    columns, whole seconds."""
    return (
        F.when(
            (F.col("role") == "tool") & (F.col("prev_role") == "assistant"),
            F.expr("timestampdiff(SECOND, prev_ts, ts)"),
        )
        .cast("long")
        .alias("lat_s")
    )


# ---------------------------------------------------------------------------
# fused agent-trace audit
# ---------------------------------------------------------------------------

def q_agent_trace_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tablestructurerec_spark.sources.read import read_table

    return agent_trace_audit(_agent_view(read_table(spark, sf_dir, "documents")))


def agent_trace_audit(turns: DataFrame) -> DataFrame:
    """All three tool-use signals fused into ONE per-conversation verdict
    (the ``t_text_profile`` / ``t_conv_audit`` pattern).

    Key structural fact: a chain boundary is also a run boundary (a new
    chain starts where the predecessor is not a tool turn, which also
    breaks any same-tool run), so runs NEST inside chains and the whole
    audit is a three-level rollup ``(conv_id, chain_id, run_id)`` →
    ``(conv_id, chain_id)`` → ``conv_id``.  Every level's grouping keys
    contain ``conv_id``, so all three aggregations reuse the lag window's
    hash partitioning — ONE exchange end-to-end (plan-pinned).  Latency
    sums ride the same rollup (pair rows are tool rows, level-1 partial
    sums upward)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    flagged = turns.select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        F.lag("role").over(w).alias("prev_role"),
        F.lag("tool").over(w).alias("prev_tool"),
        F.lag("ts").over(w).alias("prev_ts"),
        "ts",
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        "prev_role",
        _new_chain_col(),
        _new_run_col(),
        _lat_col(),
    )
    numbered = flagged.select(
        "*",
        F.sum("new_chain").over(w).alias("chain_id"),
        F.sum("new_run").over(w).alias("run_id"),
    ).where(F.col("role") == "tool")
    runs = numbered.groupBy("conv_id", "chain_id", "run_id").agg(
        F.count(F.lit(1)).alias("run_len"),
        # all rows in a run share one tool by construction; min == that tool
        # (and matches the DuckDB twin's MIN on all-NULL runs)
        F.min("tool").alias("run_tool"),
        F.count("lat_s").alias("n_timed"),
        F.sum("lat_s").alias("lat_total"),
        F.max("lat_s").alias("lat_max"),
    )
    chains = runs.groupBy("conv_id", "chain_id").agg(
        F.sum("run_len").alias("chain_len"),
        F.countDistinct("run_tool").alias("chain_tools"),
        F.max("run_len").alias("c_max_run"),
        F.count(F.when(F.col("run_len") >= LOOP_LIMIT, 1)).alias("c_loop_runs"),
        F.sum("n_timed").alias("c_timed"),
        F.sum("lat_total").alias("c_lat_total"),
        F.max("lat_max").alias("c_lat_max"),
    )
    return (
        chains.groupBy("conv_id")
        .agg(
            F.sum("chain_len").cast("long").alias("n_tool_turns"),
            F.count(F.lit(1)).cast("long").alias("n_chains"),
            F.max("chain_len").cast("long").alias("max_chain_len"),
            F.max("chain_tools").cast("long").alias("max_chain_tools"),
            F.max("c_max_run").cast("long").alias("max_run_len"),
            F.sum("c_loop_runs").cast("long").alias("n_loop_runs"),
            F.sum("c_timed").cast("long").alias("n_timed_calls"),
            F.coalesce(F.sum("c_lat_total"), F.lit(0)).cast("long").alias("total_latency_s"),
            # 0, not NULL, when a conv has no assistant→tool pair: a total
            # function keeps the frame hashable and the oracle NaN-free
            F.coalesce(F.max("c_lat_max"), F.lit(0)).cast("long").alias("max_latency_s"),
        )
        .withColumn("is_looping", F.col("n_loop_runs") > 0)
        .orderBy("conv_id")
    )


def trace_audit_sql() -> str:
    """DuckDB twin of :func:`q_agent_trace_audit` — value-exact."""
    return f"""
WITH turns AS ({_AGENT_VIEW_SQL}),
flagged AS (
  SELECT conv_id, turn_idx, role, tool,
         CASE WHEN role = 'tool'
                   AND COALESCE(lag(role) OVER w, '') <> 'tool'
              THEN 1 ELSE 0 END AS new_chain,
         CASE WHEN role = 'tool'
                   AND NOT (COALESCE(lag(role) OVER w, '') = 'tool'
                            AND lag(tool) OVER w IS NOT DISTINCT FROM tool)
              THEN 1 ELSE 0 END AS new_run,
         CASE WHEN role = 'tool' AND lag(role) OVER w = 'assistant'
              THEN date_diff('second', lag(ts) OVER w, ts)::BIGINT END AS lat_s
  FROM turns
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), numbered AS (
  SELECT *,
         SUM(new_chain) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS chain_id,
         SUM(new_run) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS run_id
  FROM flagged
), runs AS (
  SELECT conv_id, chain_id, run_id,
         COUNT(*) AS run_len,
         MIN(tool) AS run_tool,
         COUNT(lat_s) AS n_timed,
         SUM(lat_s) AS lat_total,
         MAX(lat_s) AS lat_max
  FROM numbered WHERE role = 'tool'
  GROUP BY conv_id, chain_id, run_id
), chains AS (
  SELECT conv_id, chain_id,
         SUM(run_len) AS chain_len,
         COUNT(DISTINCT run_tool) AS chain_tools,
         MAX(run_len) AS c_max_run,
         COUNT(*) FILTER (WHERE run_len >= {LOOP_LIMIT}) AS c_loop_runs,
         SUM(n_timed) AS c_timed,
         SUM(lat_total) AS c_lat_total,
         MAX(lat_max) AS c_lat_max
  FROM runs GROUP BY conv_id, chain_id
)
SELECT conv_id,
       SUM(chain_len)::BIGINT AS n_tool_turns,
       COUNT(*)::BIGINT AS n_chains,
       MAX(chain_len)::BIGINT AS max_chain_len,
       MAX(chain_tools)::BIGINT AS max_chain_tools,
       MAX(c_max_run)::BIGINT AS max_run_len,
       SUM(c_loop_runs)::BIGINT AS n_loop_runs,
       SUM(c_timed)::BIGINT AS n_timed_calls,
       COALESCE(SUM(c_lat_total), 0)::BIGINT AS total_latency_s,
       COALESCE(MAX(c_lat_max), 0)::BIGINT AS max_latency_s,
       SUM(c_loop_runs)::BIGINT > 0 AS is_looping
FROM chains GROUP BY conv_id ORDER BY conv_id
"""


QUERIES: Dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "t_agent_trace_audit": q_agent_trace_audit,
}

ORACLE_SQL: Dict[str, str] = {
    "t_agent_trace_audit": trace_audit_sql(),
}
