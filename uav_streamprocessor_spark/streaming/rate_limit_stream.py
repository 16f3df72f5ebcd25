"""Streaming rate limiting with per-(user, event_type) sequential state
(VERDICT r4 #5) — the applyInPandasWithState member of the debounce
family that the batch window CAN'T express.

events_ops.debounce_events documents the split: the debounce rule (keep
iff gap from the PREVIOUS EVENT exceeds the window) is a pure lag
expression, so it lives in the batch/relational world; true rate-limit
throttling (keep iff gap from the LAST KEPT event exceeds the window —
the fixed-interval limiter) depends on its own output and is inherently
sequential. Here both run as one stateful processor:

- mode="throttle": state carries last_kept_us; an event is kept iff
  it's the key's first or >= window after the last KEPT. This is a
  token bucket with capacity 1 and full refill after `window` —
  the classic API limiter.
- mode="debounce": state carries last_event_us; same rule as the batch
  window form — the streaming twin proven EQUAL to
  events_ops.debounce_events' flags on the full feed.

Provable relation (pinned in tests): for the same window,
debounce-kept ⊆ throttle-kept — the last KEPT event is never later
than the last event, so the throttle gap is always >= the debounce gap.

Ordering contract: state is sequential, so per-key event-time order
must be non-decreasing ACROSS micro-batches (replay the feed in ts
order — the normal log-replay shape); within a batch the processor
sorts by (ts_us, event_id) itself, so intra-batch arrival order and
batch BOUNDARIES are irrelevant (tests rotate both). Late/out-of-order
data needs an upstream watermark-reorder stage, same as any sequential
limiter.

Scale: state is two longs per active (user, type) key; each micro-batch
shuffles once on the state key and the per-group work is a linear scan
of that key's batch rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from uav_streamprocessor_spark.streaming.replay import replay_batch

_OUT_SCHEMA = (
    "user_id long, event_type string, event_id long, ts_us long, kept int"
)
_STATE_SCHEMA = "last_event_us long, last_kept_us long"
_NONE = -(1 << 62)  # state sentinel: no event seen yet


def make_rate_limiter(window_minutes: int = 5, mode: str = "throttle"):
    if mode not in ("throttle", "debounce"):
        raise ValueError(f"unknown mode {mode!r}")
    window_us = window_minutes * 60 * 1_000_000

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_event, last_kept = state.get if state.exists else (_NONE, _NONE)
        # r18 (guide §4.2 at per-key granularity): np.lexsort + plain list
        # iteration replace the pandas concat/sort/Series walk that
        # dominated this once-per-key body (~1 ms/key-call of overhead on
        # ~a dozen rows); event_id is unique, so the order is identical
        # and the sequential keep-rule is untouched.
        pdfs = list(pdfs)
        batch = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        ts_arr = batch["ts_us"].to_numpy()
        eid = batch["event_id"].to_numpy()
        order = np.lexsort((eid, ts_arr))
        ts_arr = ts_arr[order]
        eid = eid[order]
        kept = []
        throttle = mode == "throttle"
        for ts in ts_arr.tolist():
            if throttle:
                keep = last_kept == _NONE or ts - last_kept >= window_us
            else:
                keep = last_event == _NONE or ts - last_event > window_us
            if keep:
                last_kept = ts
            last_event = ts
            kept.append(int(keep))
        state.update((int(last_event), int(last_kept)))
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "event_type": key[1],
                "event_id": eid,
                "ts_us": ts_arr,
                "kept": kept,
            }
        )

    return update


def _prepared(events: DataFrame) -> DataFrame:
    return events.select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )


def rate_limited_stream(
    events: DataFrame, window_minutes: int = 5, mode: str = "throttle"
) -> DataFrame:
    """Wire the stateful limiter onto a streaming events DataFrame."""
    return _prepared(events).groupBy("user_id", "event_type").applyInPandasWithState(
        make_rate_limiter(window_minutes, mode),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rate_limit_batch_reference(
    events: DataFrame, window_minutes: int = 5, mode: str = "throttle"
) -> DataFrame:
    """Exactness reference: the SAME sequential rule over a bounded
    DataFrame via applyInPandas (one whole-history scan per key, no
    incremental state). Streaming-vs-batch equality on a replayed feed
    is the correctness proof; this is also the form a backfill job would
    run. Per-key sequential scans partition across the cluster; per-key
    history length is the only sequential bound (same as any limiter)."""
    return replay_batch(
        _prepared(events),
        ["user_id", "event_type"],
        make_rate_limiter(window_minutes, mode),
        _OUT_SCHEMA,
    )
