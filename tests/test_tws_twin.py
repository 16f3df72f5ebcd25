"""transformWithStateInPandas twin of the EWMA store (VERDICT r9 #8).

Spark 4's arbitrary-state v2 runtime needs google.protobuf on the
Python workers; this container doesn't ship it, so coverage is layered:

- an ungated unit test drives EwmaStatefulProcessor.handleInputRows
  through a fake ValueState handle across multiple micro-batches and
  asserts EXACT equality with make_ewma_processor (the GroupState v1
  store) on the same feed — the two stores share _fold_batch, and this
  pins that the state plumbing around it agrees too;
- a presence-gated streaming test runs the real
  transformWithStateInPandas query and checks it against the
  sequential batch reference, exactly like test_ewma_stream does for
  the v1 store. Skips cleanly here; runs on protobuf-equipped
  containers.
"""

from __future__ import annotations

import importlib.util

import pandas as pd
import pytest

from uav_streamprocessor_spark.streaming.ewma_stream import (
    EwmaStatefulProcessor,
    ewma_batch_reference,
    ewma_stream_tws,
    make_ewma_processor,
)
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink

_ALPHA = 0.4


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def clear(self):
        self._v = None


class _FakeHandle:
    def __init__(self):
        self.states = {}

    def getValueState(self, name, schema, ttlDurationMs=None):
        return self.states.setdefault(name, _FakeValueState())


class _FakeGroupState:
    def __init__(self):
        self._v = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _feed(batches):
    return [
        pd.DataFrame(
            {
                "event_id": [e for e, _, _ in rows],
                "ts_us": [t for _, t, _ in rows],
                "value": [v for _, _, v in rows],
            }
        )
        for rows in batches
    ]


def test_tws_processor_equals_groupstate_store_across_batches():
    batches = _feed(
        [
            [(1, 10, 5.0), (2, 20, 7.0)],
            [(3, 30, 1.0)],
            [(4, 40, 9.0), (5, 50, 3.0), (6, 60, 6.0)],
        ]
    )
    # v2: StatefulProcessor + ValueState handle
    proc = EwmaStatefulProcessor(_ALPHA)
    proc.init(_FakeHandle())
    v2 = [next(proc.handleInputRows((7,), iter([b.copy()]), None)) for b in batches]
    proc.close()
    # v1: GroupState closure
    upd = make_ewma_processor(_ALPHA)
    gs = _FakeGroupState()
    v1 = [next(upd((7,), iter([b.copy()]), gs)) for b in batches]
    for a, b in zip(v1, v2):
        pd.testing.assert_frame_equal(a, b)
    # state carried across batches, not reset: last ewma reflects all 6
    assert proc._state.get() == (pytest.approx(gs.get[0]), 6)
    # and the recursion really is cross-batch: batch-3's first emission
    # uses batch-2's post-update state
    assert v2[2]["ewma_prev"][0] == pytest.approx(v1[2]["ewma_prev"][0])
    assert v2[2]["ewma_prev"][0] is not None


def test_tws_first_event_emits_null_deviation():
    proc = EwmaStatefulProcessor(_ALPHA)
    proc.init(_FakeHandle())
    out = next(proc.handleInputRows((1,), iter(_feed([[(1, 10, 5.0)]])), None))
    assert out["ewma_prev"][0] is None and out["deviation"][0] is None
    assert proc._state.get() == (5.0, 1)


def _has_protobuf() -> bool:
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # parent 'google' package absent entirely
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas runtime needs protobuf on workers — "
    "absent in this container; runs on full Spark 4 stacks",
)
def test_tws_stream_equals_batch_reference(spark, tmp_path):
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", "ts", "user_id", "value"
    )
    src = tmp_path / "feed"
    ev.coalesce(2).write.parquet(str(src))
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, user_id long, "
                                "value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    start_memory_sink(
        ewma_stream_tws(stream, alpha=_ALPHA), "ewma_tws", tmp_path / "ckpt"
    ).awaitTermination(180)
    got = {
        (r["user_id"], r["event_id"]): (r["value"], r["ewma_prev"], r["deviation"])
        for r in spark.table("ewma_tws").collect()
    }
    want = {
        (r["user_id"], r["event_id"]): (r["value"], r["ewma_prev"], r["deviation"])
        for r in ewma_batch_reference(ev, alpha=_ALPHA).collect()
    }
    assert got == want
