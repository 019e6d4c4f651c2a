"""Stateful streaming sessionization via applyInPandasWithState
(SURVEY.md §2 #14 companion — the custom-stateful-operator path).

Same session semantics as the batch ``event_sessionization`` (30-minute
gap, (ts, event_id) ordering): per-user state carries the open session
across micro-batches; a session is emitted when a gap closes it, or when
event-time timeout fires (watermark passes the gap horizon).

Scale: state is O(users) — a few counters per key — partitioned by
user_id across executors; watermark bounds state lifetime. With
Trigger.AvailableNow over a static file the final open session per user
stays un-emitted (no later batch advances the watermark past it), which
tests assert explicitly against the batch operator.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from ecommerce_dbt_medallion_spark.config import SESSION_GAP_SECONDS
from ecommerce_dbt_medallion_spark.sources.registry import load_event_stream
from ecommerce_dbt_medallion_spark.streaming.drain import drain_to_memory

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ]
)

_GAP_US = SESSION_GAP_SECONDS * 1_000_000


def _us(ts: pd.Timestamp) -> int:
    return int(ts.value // 1000)


def _sessionize_group(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us * 1000)],
                    "session_end": [pd.Timestamp(end_us * 1000)],
                    "n_events": [n],
                }
            )
        return

    events: list[tuple[int, int]] = []  # (ts_us, event_id)
    for pdf in batches:
        for ts, eid in zip(pdf["ts"], pdf["event_id"]):
            events.append((_us(ts), int(eid)))
    events.sort()

    start_us, end_us, n = state.get if state.exists else (None, None, 0)
    out: list[tuple[int, int, int]] = []
    for ts_us, _eid in events:
        if start_us is None:
            start_us, end_us, n = ts_us, ts_us, 1
        elif ts_us - end_us > _GAP_US:
            out.append((start_us, end_us, n))
            start_us, end_us, n = ts_us, ts_us, 1
        else:
            end_us, n = ts_us, n + 1
    state.update((start_us, end_us, n))
    state.setTimeoutTimestamp(end_us // 1000 + SESSION_GAP_SECONDS * 1000)

    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s * 1000) for s, _, _ in out],
                "session_end": [pd.Timestamp(e * 1000) for _, e, _ in out],
                "n_events": [c for _, _, c in out],
            }
        )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer over the events feed (availableNow)
    and return emitted (closed) sessions as a batch DataFrame."""
    stream = load_event_stream(spark, sf_dir)

    sessions = (
        stream.select("user_id", "event_id", "ts")
        .withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
    return drain_to_memory(sessions, "append")


def oracle_stream_sessionize() -> str:
    """Batch replay of exactly what the stateful streaming operator emits.

    A session is EMITTED when (a) a later event for the same user opened
    a new session (gap close — every session except the user's last), or
    (b) the event-time timeout fired: the final watermark (max event time
    minus the 2 h delay, in whole ms) advanced strictly past the session's
    timeout timestamp (session_end ms + gap ms). The user's final session
    otherwise stays in state un-emitted — the open-session subset the
    driver's round-1 rows-only check couldn't see is now modeled, making
    this a full value oracle.
    """
    from ecommerce_dbt_medallion_spark.oracle import assemble

    final = f"""
select user_id, session_start, session_end, n_events
from (
    select user_id, session_seq,
           min(ts) as session_start, max(ts) as session_end,
           max(ts_us) as end_us, count(event_id) as n_events,
           row_number() over (partition by user_id
                              order by session_seq desc) as rn_last
    from event_sessions_base
    group by user_id, session_seq
) s, (select (max(epoch_us(ts)) // 1000) - {2 * 3600 * 1000} as wm_ms
      from events) w
where s.rn_last > 1
   or w.wm_ms > (s.end_us // 1000) + {SESSION_GAP_SECONDS * 1000}
"""
    return assemble("event_sessions_base", final_select=final)
