"""Streaming count-min sketch — per-event-type point-frequency
estimates in bounded state (Cormode & Muthukrishnan, J.Alg'05),
completing the mergeable-sketch family next to HLL (distinct), KLL
(quantiles) and space-saving (top-k): CMS answers "how often has THIS
user hit THIS event type", for any user, in d×w integers per type.

State per key (event_type): a flat d×w counter matrix plus n_seen.
Update adds 1 at (i, h_i(user)) for each of the d rows — pure addition,
so unlike the order-sensitive stores (space-saving eviction, EWMA) the
sketch is a function of the event MULTISET: batch boundaries, intra-
batch order and file scrambling are provably irrelevant, and the
stream⇔batch equivalence is exact rather than order-pinned.

Hash family: per row, an affine step with fixed odd constants then a
splitmix-style xor-shift finalizer before the mod-w reduction. The
finalizer is LOAD-BEARING: a bare (x·A_i + B_i) mod P mod w family is
fully row-correlated for ids below P/A (the product never wraps, so
every row reduces to a function of x mod w — ids congruent mod w
collide in ALL rows and the d-row minimum buys nothing; caught by the
ε·n bound test, which such a family fails by 60×). Deterministic
across runs, executors and replays; no RNG.

Guarantees pinned in tests:
- est ≥ true count ALWAYS (one-sided error, the CMS contract);
- est == true when the test verifies no hash collision for the planted
  ids (the deterministic exactness gate);
- est ≤ true + ε·n_seen with ε = e/w for the planted adversarial mix
  (the classic bound, checked on a fixed workload);
- stream final snapshot == one-pass batch reference, exactly.

Emission contract: after each micro-batch a key emits estimates for
the users seen IN THAT BATCH (the monitoring shape: fresh traffic gets
fresh estimates) tagged with update_seq; a dashboard keys on the
latest estimate per (event_type, user).

Scale: state is d·w longs per event type — independent of traffic;
one shuffle per micro-batch on event_type; updates are a numpy
scatter-add over the batch.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from uav_streamprocessor_spark.streaming.replay import replay_batch

_M64 = (1 << 64) - 1
_MIX = 0x9E3779B97F4A7C15
# fixed odd multipliers / offsets, one pair per sketch row
_A = (2654435761, 40503, 2246822519, 3266489917)
_B = (982451653, 741103597, 472882027, 198491317)

DEFAULT_DEPTH = 4
DEFAULT_WIDTH = 256

_OUT_SCHEMA = (
    "event_type string, user_id long, est_count long, n_seen long, "
    "update_seq long"
)
_STATE_SCHEMA = "counts array<long>, n_seen long, update_seq long"


def cms_rows(uid: int, depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH):
    """The d bucket indices for an id — exposed so tests can verify
    collision-freeness of a planted id set deterministically. Pure-
    python twin of _bucket_indices (uint64 wraparound via masking)."""
    out = []
    for i in range(depth):
        v = (uid * _A[i] + _B[i]) & _M64
        v ^= v >> 29
        v = (v * _MIX) & _M64
        v ^= v >> 32
        out.append(v % width)
    return out


def _bucket_indices(uids: np.ndarray, i: int, width: int) -> np.ndarray:
    """Vectorized row-i bucket indices (uint64 wraparound semantics
    identical to cms_rows)."""
    with np.errstate(over="ignore"):
        v = uids.astype(np.uint64) * np.uint64(_A[i]) + np.uint64(_B[i])
        v ^= v >> np.uint64(29)
        v *= np.uint64(_MIX)
        v ^= v >> np.uint64(32)
        return (v % np.uint64(width)).astype(np.int64)


def make_cms_processor(depth: int = DEFAULT_DEPTH, width: int = DEFAULT_WIDTH):
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            counts, n_seen, seq = state.get
            M = np.array(counts, dtype=np.int64).reshape(depth, width)
        else:
            M = np.zeros((depth, width), dtype=np.int64)
            n_seen, seq = 0, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        uids = batch["user_id"].to_numpy(dtype=np.int64)
        n_seen += len(uids)
        for i in range(depth):
            np.add.at(M[i], _bucket_indices(uids, i, width), 1)
        seq += 1
        state.update((M.reshape(-1).tolist(), int(n_seen), int(seq)))
        distinct = np.unique(uids)
        ests = np.full(distinct.shape, np.iinfo(np.int64).max, dtype=np.int64)
        for i in range(depth):
            ests = np.minimum(ests, M[i][_bucket_indices(distinct, i, width)])
        yield pd.DataFrame(
            {
                "event_type": key[0],
                "user_id": distinct,
                "est_count": ests,
                "n_seen": int(n_seen),
                "update_seq": int(seq),
            }
        )

    return update


def _prepared(events: DataFrame) -> DataFrame:
    return events.select("event_type", "user_id")


def cms_stream(
    events: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """Wire the count-min sketch onto a streaming events DataFrame."""
    return _prepared(events).groupBy("event_type").applyInPandasWithState(
        make_cms_processor(depth, width),
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def cms_batch_reference(
    events: DataFrame,
    depth: int = DEFAULT_DEPTH,
    width: int = DEFAULT_WIDTH,
) -> DataFrame:
    """One-pass reference over each key's whole history (the backfill
    form; exact equality target for the final stream snapshot — the
    sketch is order-independent, so no sequencing caveats)."""
    return replay_batch(
        _prepared(events), ["event_type"], make_cms_processor(depth, width),
        _OUT_SCHEMA,
    )


def latest_estimates(out: DataFrame) -> DataFrame:
    """Freshest estimate per (event_type, user): max update_seq wins
    (estimates only grow — counts are monotone)."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type", "user_id")
    return (
        out.withColumn("max_seq", F.max("update_seq").over(w))
        .filter(F.col("update_seq") == F.col("max_seq"))
        .drop("max_seq")
    )
