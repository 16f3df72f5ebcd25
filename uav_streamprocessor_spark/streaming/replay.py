"""Whole-history batch replay of a stateful store's update function.

Each applyInPandasWithState store (ewma, anomaly, rate_limit, cms, topk)
has a `*_batch_reference`: the store's own update run once per key over
the key's whole bounded history, from an empty state. It is the backfill
form of the store and the equality target of its stream tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


class _NoState:
    """A GroupState that starts empty and keeps nothing."""

    exists = False
    get = None

    def update(self, _):
        pass


def replay_batch(prepared: DataFrame, keys, update, schema) -> DataFrame:
    """groupBy(*keys).applyInPandas over prepared: one call of the store
    update per key, fed the key's whole history and an empty state."""

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return next(update(key, iter([pdf]), _NoState()))

    return prepared.groupBy(*keys).applyInPandas(run, schema=schema)
