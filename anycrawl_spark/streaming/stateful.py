"""Stateful streaming sessionization via ``applyInPandasWithState``
(SURVEY.md §2.9 — the reference's Redis counters re-expressed as managed
stream state).

Per user, state carries the open session; a new event with gap >
session_gap CLOSES the previous session and emits it. The final open
session per user stays in state (emitted on a later event or state timeout
in a live stream) — exactly a streaming sessionizer's contract; the batch
``sessionize_events`` query is the offline counterpart.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType


SESSION_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_events", LongType()),
    StructField("session_start", StringType()),
    StructField("session_end", StringType()),
])

SESSION_STATE_SCHEMA = StructType([
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n_events", LongType()),
])

SESSION_GAP_US = 30 * 60 * 1_000_000


def _fmt_us(us: int) -> str:
    import datetime

    return datetime.datetime.utcfromtimestamp(us / 1_000_000).strftime(
        "%Y-%m-%d %H:%M:%S")


def session_state_fn(key: tuple, pdfs: Iterable[pd.DataFrame],
                     state: GroupState) -> Iterable[pd.DataFrame]:
    user_id = key[0]
    if state.exists:
        start_us, last_us, n_events = state.get
    else:
        start_us = last_us = None
        n_events = 0
    closed: list[tuple[int, int, int]] = []
    ts_values: list[int] = []
    for pdf in pdfs:
        ts_values.extend(int(t) for t in pdf["ts_us"])
    for us in sorted(ts_values):
        if start_us is None:
            start_us, last_us, n_events = us, us, 1
        elif us - last_us > SESSION_GAP_US:
            closed.append((start_us, last_us, n_events))
            start_us, last_us, n_events = us, us, 1
        else:
            # events sort within a batch but a LATER batch can deliver an
            # earlier timestamp — regressing last_us would corrupt the gap
            # check and session_end, so late events only extend bounds
            if us > last_us:
                last_us = us
            elif us < start_us:
                start_us = us
            n_events += 1
    state.update((start_us or 0, last_us or 0, n_events))
    yield pd.DataFrame({
        "user_id": [user_id] * len(closed),
        "n_events": [c[2] for c in closed],
        "session_start": [_fmt_us(c[0]) for c in closed],
        "session_end": [_fmt_us(c[1]) for c in closed],
    })


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """events: streaming DataFrame with (user_id, ts_us) where ts_us is the
    event time in microseconds. Emits CLOSED sessions (>30-min gap)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            session_state_fn,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
