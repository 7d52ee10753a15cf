"""Custom stateful streaming operators (SURVEY §2.9 north-star: the
reference has no sessionization — its "stream" is daily file CDC — but a
living-database engine at scale needs event-time state).

``sessionize_stream`` is gap-based session windowing as an
``applyInPandasWithState`` operator:

- group by user, event-time timeout;
- a session absorbs events while the gap to the previous event is ≤ the
  threshold; a larger gap closes the open session (emitted) and opens a
  new one;
- the open session is flushed when the WATERMARK passes its
  last-event-time + gap (event-time timeout), giving deterministic
  results for any arrival pattern within the watermark bound.

Scale shape: state is one small tuple per active user key, partitioned
by the groupBy hash — the same partitioning the shuffle already did, so
adding state costs no extra exchange. The batch analog (for replay /
backfill parity) is plans.relational.sessionize, which computes the same
sessions with a lag-window over a static table.

Each operator here has one implementation, and the parity replays in
``streaming.parity`` call these same functions: ``sessionize_stream``,
``dedup_stream`` (built-in ``dropDuplicatesWithinWatermark``),
``running_totals_stream`` and ``topk_stream`` (both
``applyInPandasWithState``).
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

SESSION_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", IntegerType()),
    ]
)

# (session_start_us, last_ts_us, n_events)
SESSION_STATE = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", IntegerType()),
    ]
)

_US = 1_000_000


def _session_fn(gap_us: int):
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int]] = []

        if state.hasTimedOut:
            if state.exists:
                closed.append(tuple(state.get))
                state.remove()
        else:
            if state.exists:
                start_us, last_us, n = state.get
            else:
                start_us = last_us = n = None
            ts_us = sorted(
                int(t.value // 1000)  # pandas ns → µs
                for pdf in pdfs
                for t in pd.to_datetime(pdf["ts"])
            )
            for t in ts_us:
                if start_us is None:
                    start_us, last_us, n = t, t, 1
                elif t - last_us <= gap_us:
                    last_us, n = max(last_us, t), n + 1
                else:
                    closed.append((start_us, last_us, n))
                    start_us, last_us, n = t, t, 1
            if start_us is not None:
                state.update((start_us, last_us, n))
                state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return fn


def sessionize_stream(
    events: DataFrame, gap_minutes: int = 30, watermark: str = "1 hour"
) -> DataFrame:
    """events(user_id, ts, ...) stream → closed sessions. Emits a session
    when a larger-than-gap event arrives for the user (in-batch close) or
    when the watermark passes the open session's expiry (timeout close).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_minutes * 60 * _US),
            SESSION_OUTPUT,
            SESSION_STATE,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark_col: str = "ts",
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup (the streaming analog of the keep-last
    batch dedupe F14, and the ingestion guard a continuous training-data
    feed needs): drop re-deliveries of the same key arriving within the
    watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps state only until the
    watermark passes each key's last-seen time + delay, so state is
    bounded by (arrival rate x delay) — a plain ``dropDuplicates`` on a
    stream would grow state forever. Keys default to the natural event
    id. State co-partitions with the implicit groupBy on the keys; no
    extra exchange beyond that one shuffle.
    """
    keys = keys or ["event_id"]
    return events.withWatermark(watermark_col, delay).dropDuplicatesWithinWatermark(
        keys
    )


# ---------------------------------------------------------------------------
# Running per-key accumulator: the streaming analog of the batch running
# aggregates, one (long, long) state tuple per user key
# ---------------------------------------------------------------------------

RUNNING_TOTAL_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("batch_events", IntegerType()),
        StructField("total_events", LongType()),
        StructField("total_cents", LongType()),
    ]
)

RUNNING_TOTAL_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def _running_total_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    n, cents = state.get if state.exists else (0, 0)
    batch_n = 0
    for pdf in pdf_iter:
        batch_n += len(pdf)
        # per-row round THEN integer sum — the batch plans' _cents
        # discipline (a float sum rounded once can differ in the last cent)
        cents += int(
            pdf["value"].astype(float).mul(100).round().astype("int64").sum()
        )
    n += batch_n
    state.update((n, cents))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "batch_events": [batch_n],
            "total_events": [n],
            "total_cents": [cents],
        }
    )


def running_totals_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """events(user_id, ts, value, ...) stream → one row per (user,
    micro-batch) with the batch's event count and exact running totals
    (integer cents). One (long, long) state tuple per key, riding the
    groupBy shuffle's partitioning — no extra exchange; NoTimeout keeps
    totals for a key's whole lifetime."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _running_total_fn,
            RUNNING_TOTAL_OUTPUT,
            RUNNING_TOTAL_STATE,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Bounded-state streaming top-k per key
# ---------------------------------------------------------------------------

#: Heap bound for topk_stream: state per key is exactly K (cents, id)
#: pairs no matter how many events the key ever sees.
TOPK_K = 3

TOPK_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("rank", IntegerType()),
        StructField("event_id", LongType()),
        StructField("value_cents", LongType()),
    ]
)

# parallel arrays: the K best (value_cents, event_id) pairs, ordered by
# (cents DESC, event_id ASC)
TOPK_STATE = StructType(
    [
        StructField("cents", ArrayType(LongType())),
        StructField("ids", ArrayType(LongType())),
    ]
)


def _topk_fn(
    key: Tuple[Any, ...],
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    cents, ids = state.get if state.exists else ([], [])
    best = list(zip(cents, ids))
    for pdf in pdf_iter:
        vc = pdf["value"].astype(float).mul(100).round().astype("int64")
        best.extend(zip(vc.tolist(), pdf["event_id"].astype("int64").tolist()))
        # keep the invariant bounded WITHIN the batch too: one sort per
        # Arrow chunk over at most (K + chunk) candidates
        best.sort(key=lambda p: (-p[0], p[1]))
        del best[TOPK_K:]
    state.update(([p[0] for p in best], [p[1] for p in best]))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(best),
            "rank": list(range(1, len(best) + 1)),
            "event_id": [p[1] for p in best],
            "value_cents": [p[0] for p in best],
        }
    )


def topk_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """events stream → after each micro-batch, each key's current top-K
    events by value (exact integer cents; event_id tiebreak). The
    bounded-state streaming top-k: state per key is K pairs — O(keys·K)
    total regardless of stream length, the property that lets a leaderboard
    over months of events run in fixed memory at 100 TB. State rides the
    groupBy shuffle partitioning like the other processors (no extra
    exchange)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _topk_fn,
            TOPK_OUTPUT,
            TOPK_STATE,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )
