"""Streaming extraction: the same plan over a transcript stream.

The reference is batch-only (SURVEY.md §2: no streaming operators), but a
10^12-turn ingest is naturally incremental, so the engine exposes:

* ``stream_extract_tables``  — the identical narrow ``mapInPandas`` stage on
  a streaming DataFrame (mapInPandas is streaming-capable; the per-turn
  kernel is stateless, so exactly-once comes free from the sink+checkpoint).
* ``stream_turn_stats``      — a watermarked sliding-window aggregate of
  turn/table counts per conversation, for ingest monitoring (late turns up
  to 10 minutes).
* ``stream_conversation_sessions`` — a CUSTOM STATEFUL operator
  (``applyInPandasWithState`` + event-time timeout): gap-based session
  assembly per conversation, one row per closed session.

Both run with any source (kafka/files/rate); tests use a file source with
``trigger(availableNow=True)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import n_tables_col
from ..plans.extract import extract_tables

__all__ = [
    "stream_extract_tables",
    "stream_turn_stats",
    "stream_conversation_sessions",
    "stream_dedup_turns",
]


def stream_dedup_turns(stream_df: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup on turn content: the streaming twin of the
    batch hash-groupBy keep-first (``d1_dedup_exact``).

    ``dropDuplicatesWithinWatermark`` keeps state O(distinct hashes inside
    the watermark horizon) instead of O(all-time distinct) — the only
    stream-dedup shape that survives an unbounded 10^12-turn ingest.  The
    dedup key is the md5 of the content, not the content itself, so state
    rows stay ~32 bytes of key regardless of turn size.
    """
    keyed = stream_df.withColumn("content_hash", F.md5(F.col("text")))
    deduped = keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["content_hash"]
    )
    # emit the INPUT schema — the helper key is internal; every stream_*
    # twin matches its batch twin's columns exactly
    return deduped.drop("content_hash")


def stream_extract_tables(stream_df: DataFrame) -> DataFrame:
    """Streaming twin of :func:`plans.extract.extract_tables`: the same
    plan, since ``mapInPandas`` runs unchanged on a streaming DataFrame."""
    return extract_tables(stream_df)


def stream_turn_stats(stream_df: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Watermarked windowed ingest stats: turns + embedded tables per conv."""
    return (
        stream_df.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", window), F.col("conv_id"))
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(n_tables_col(F.col("text"))).alias("n_tables"),
        )
    )


def stream_conversation_sessions(
    stream_df: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Custom stateful operator: per-conversation session assembly with
    ``applyInPandasWithState`` (the A1 sessionization contract, streaming).

    Turns cluster into sessions separated by more than ``gap`` of event-time
    silence; each closed session emits ONE row
    ``(conv_id, session_start, session_end, n_turns, n_tables)``.

    Correctness discipline (append-mode rows are final, so emission must be
    irrevocable): a session is emitted only once the WATERMARK has passed
    ``session_end + gap`` — before that, an on-time row could still land
    inside or adjacent to it.  Until sealed, sessions live in state as a
    LIST of pending (count, tables, start, last) tuples; each batch folds
    its rows in (sorted, so gaps inside one batch split exactly like gaps
    across batches — replay/backfill in one batch is the normal case) and
    an event-time timeout at the earliest unsealed boundary flushes
    sessions the data flow alone wouldn't revisit.

    Scale shape: state is O(pending sessions per live conversation) — a
    handful of scalars, bounded by the watermark delay / gap ratio — and
    the per-turn table count is computed as a native column BEFORE the
    stateful stage so the Python side only sums.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ms = _duration_ms(gap)
    src = (
        stream_df.withWatermark("ts", watermark)
        .select(
            "conv_id",
            F.col("ts"),
            n_tables_col(F.col("text")).alias("n_tab"),
        )
    )

    out_schema = (
        "conv_id string, session_start timestamp, session_end timestamp, "
        "n_turns long, n_tables long"
    )
    state_schema = (
        "pending array<struct<n_turns:long,n_tables:long,start_ms:long,last_ms:long>>"
    )

    def fn(key, pdfs, state):
        import pandas as pd

        def frame(sessions):
            return pd.DataFrame(
                {
                    "conv_id": [conv_id] * len(sessions),
                    "session_start": [pd.Timestamp(s[2], unit="ms") for s in sessions],
                    "session_end": [pd.Timestamp(s[3], unit="ms") for s in sessions],
                    "n_turns": [s[0] for s in sessions],
                    "n_tables": [s[1] for s in sessions],
                }
            )

        (conv_id,) = key
        pending = (
            [list(s) for s in state.get[0]] if state.exists else []
        )  # [n_turns, n_tables, start_ms, last_ms], sorted by start_ms
        if not state.hasTimedOut:
            for pdf in pdfs:
                ms = pdf["ts"].astype("int64") // 1_000_000
                ntab = pdf["n_tab"].fillna(0)  # NULL text -> no tables
                pending.extend(
                    [1, int(t), int(m), int(m)] for m, t in zip(ms, ntab)
                )
            # fold: sort by start and merge runs whose silence <= gap.  This
            # handles in-batch gaps, out-of-order arrivals against state
            # (including rows OLDER than a pending session by more than gap,
            # which must stay separate), and sessions bridged by a late row.
            pending.sort(key=lambda s: (s[2], s[3]))
            folded = []
            for s in pending:
                if folded and s[2] - folded[-1][3] <= gap_ms:
                    f = folded[-1]
                    f[0] += s[0]
                    f[1] += s[1]
                    f[3] = max(f[3], s[3])
                else:
                    folded.append(s)
            pending = folded
        # seal: emit only sessions the watermark has passed (end + gap) —
        # no on-time row can extend or split them anymore
        wm = state.getCurrentWatermarkMs()
        closed = [s for s in pending if s[3] + gap_ms <= wm]
        pending = [s for s in pending if s[3] + gap_ms > wm]
        if pending:
            state.update(([tuple(s) for s in pending],))
            # wake at the earliest unsealed boundary (must be > watermark)
            state.setTimeoutTimestamp(max(min(s[3] for s in pending) + gap_ms, wm + 1))
        else:
            state.remove()
        if closed:
            yield frame(closed)

    return src.groupBy("conv_id").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_UNIT_MS = {
    "ms": 1, "millisecond": 1, "milliseconds": 1,
    "s": 1000, "sec": 1000, "secs": 1000, "second": 1000, "seconds": 1000,
    "m": 60_000, "min": 60_000, "mins": 60_000, "minute": 60_000, "minutes": 60_000,
    "h": 3_600_000, "hr": 3_600_000, "hrs": 3_600_000,
    "hour": 3_600_000, "hours": 3_600_000,
    "d": 86_400_000, "day": 86_400_000, "days": 86_400_000,
}


def _duration_ms(s: str) -> int:
    """Spark-style duration string → ms; accepts the same unit spellings as
    ``withWatermark`` (including multi-part: '1 hour 30 minutes')."""
    parts = s.split()
    if len(parts) % 2 or not parts:
        raise ValueError(
            f"bad duration {s!r}: expected '<n> <unit>' pairs, "
            f"units {sorted(set(_UNIT_MS))}"
        )
    total = 0
    for n, unit in zip(parts[::2], parts[1::2]):
        try:
            total += int(n) * _UNIT_MS[unit.lower()]
        except (KeyError, ValueError):
            raise ValueError(
                f"bad duration {s!r}: expected '<n> <unit>' pairs, "
                f"units {sorted(set(_UNIT_MS))}"
            ) from None
    return total
