"""Streaming prequential anomaly scoring — Welford's online algorithm as
per-user state, the streaming twin of events_ops.prequential_zscore.

Each event is scored against the user's PRIOR history (test-then-train:
z = (x − mean_prev) / sd_prev with the SAMPLE stddev), then folded into
the running (count, mean, M2) via Welford's update — the numerically
stable single-pass form every production monitor uses:

    count += 1;  delta = x − mean;  mean += delta / count
    M2 += delta · (x − mean)        # the post-update mean

State is three scalars per active user — (long, double, double) — the
same footprint class as ewma_stream. Equality proof: the stream equals
a sequential batch reference (same processor over whole histories via
applyInPandas) EXACTLY, and equals the relational expanding-window
query (prequential_zscore) to fp tolerance — Welford and the two-pass
window aggregates are algebraically identical, they differ only in
floating-point association order.

Ordering contract: per-key event-time order non-decreasing across
micro-batches (log replay); intra-batch order is sorted by the
processor itself, so arrival order and batch boundaries are irrelevant
(tests rotate both; replay is idempotent via checkpoint rollback).

Scale: one user_id shuffle per micro-batch; per-group work is a linear
scan of that key's batch rows; state never grows with history length.
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from uav_streamprocessor_spark.streaming.replay import replay_batch

_OUT_SCHEMA = (
    "user_id long, event_id long, ts_us long, value double, "
    "n_prior long, z double"
)
_STATE_SCHEMA = "n long, mean double, m2 double"


def make_welford_processor():
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
        # r18 (guide §4.2 at per-key granularity): np.lexsort + plain list
        # iteration replace the pandas concat/sort/Series walk that
        # dominated this once-per-key body; event_id is unique, so the
        # order is identical and the Welford recursion is untouched.
        pdfs = list(pdfs)
        batch = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        ts_arr = batch["ts_us"].to_numpy()
        order = np.lexsort((batch["event_id"].to_numpy(), ts_arr))
        eid = batch["event_id"].to_numpy()[order]
        vals = batch["value"].to_numpy()[order]
        ts_arr = ts_arr[order]
        n_priors, zs = [], []
        for x in vals.tolist():
            n_priors.append(n)
            if n >= 2 and m2 > 0.0:
                sd_prev = math.sqrt(m2 / (n - 1))
                zs.append((x - mean) / sd_prev)
            else:
                zs.append(None)
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
        state.update((int(n), float(mean), float(m2)))
        yield pd.DataFrame(
            {
                "user_id": key[0],
                "event_id": eid,
                "ts_us": ts_arr,
                "value": vals,
                "n_prior": n_priors,
                "z": zs,
            }
        )

    return update


def _prepared(events: DataFrame) -> DataFrame:
    return events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )


def anomaly_stream(events: DataFrame) -> DataFrame:
    """Wire the Welford scorer onto a streaming events DataFrame."""
    return _prepared(events).groupBy("user_id").applyInPandasWithState(
        make_welford_processor(),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def anomaly_batch_reference(events: DataFrame) -> DataFrame:
    """Exactness reference: the same sequential scorer over a bounded
    DataFrame via applyInPandas (whole history per key, no incremental
    state) — the backfill form, and the equality target for the stream."""
    return replay_batch(
        _prepared(events), ["user_id"], make_welford_processor(), _OUT_SCHEMA
    )
