"""Custom stateful streaming operator: per-host streaming URL-seen dedup +
crawl-rate state via ``applyInPandasWithState`` (task brief: "custom stateful
operators"; SURVEY.md §2.9 — the reference's Redis counters re-expressed as
managed stream state).

For each host group, state holds (bloom bitmap, total urls, emitted urls)
across micro-batches; the operator emits only first-seen URLs downstream with
a running per-host sequence — a continuous-ingestion frontier feed where the
batch engine's round loop is replaced by stream micro-batches.

The bitmap is a Bloom filter of ``M_BITS`` bits over the url's sha256, with
bit positions from the shared hash-slice core
(``seen.bloom_bits``, ``DEFAULT_K`` positions, one vectorized call per
micro-batch); the test-and-set itself stays sequential per row, so a url
repeated within one batch is dropped at its second occurrence.
"""

from __future__ import annotations

import hashlib
from typing import Any, Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType, IntegerType, LongType, StringType, StructField, StructType,
)

from anycrawl_spark.seen import DEFAULT_K, bloom_bits, hex_nibbles

OUTPUT_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("url", StringType()),
    StructField("host_seq", LongType()),
])

STATE_SCHEMA = StructType([
    StructField("bitmap", BinaryType()),
    StructField("total_seen", LongType()),
    StructField("emitted", LongType()),
])

M_BITS = 1 << 16


def dedup_state_fn(key: tuple, pdfs: Iterable[pd.DataFrame],
                   state: GroupState) -> Iterable[pd.DataFrame]:
    host = key[0]
    if state.exists:
        bitmap_bytes, total, emitted = state.get
        bits = np.unpackbits(np.frombuffer(bitmap_bytes, dtype=np.uint8),
                             bitorder="little").astype(bool)
    else:
        bits = np.zeros(M_BITS, dtype=bool)
        total = 0
        emitted = 0
    urls = [url for pdf in pdfs for url in pdf["url"]]
    positions = bloom_bits(
        hex_nibbles([hashlib.sha256(url.encode("utf-8")).hexdigest()
                     for url in urls]), M_BITS, DEFAULT_K)
    total += len(urls)
    out_urls: list[str] = []
    out_seqs: list[int] = []
    for url, p in zip(urls, positions):
        if not bits[p].all():       # definitely NOT seen before
            bits[p] = True
            out_urls.append(url)
            out_seqs.append(emitted)
            emitted += 1
    state.update((np.packbits(bits, bitorder="little").tobytes(), total,
                  emitted))
    yield pd.DataFrame({"host": host, "url": out_urls, "host_seq": out_seqs})


def streaming_seen_dedup(urls: DataFrame) -> DataFrame:
    """urls: streaming DataFrame with (host, url). Emits first-seen rows with
    a dense per-host sequence; state persists across micro-batches (and
    restarts via the stream checkpoint)."""
    return (
        urls.groupBy("host")
        .applyInPandasWithState(
            dedup_state_fn,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming sessionization (task brief: applyInPandasWithState for
# custom stateful operators). Per user, state carries the open session; a
# new event with gap > session_gap CLOSES the previous session and emits it.
# The final open session per user stays in state (emitted on a later event
# or state timeout in a live stream) — exactly a streaming sessionizer's
# contract; the batch `sessionize_events` query is the offline counterpart.
# ---------------------------------------------------------------------------

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
