"""Counting wrappers around the pipeline's external-model surface.

The sensor and embedder run inside Python workers, so their call counts
and time are gathered in Spark accumulators: every evaluation of the
``mapInPandas`` / ``pandas_udf`` operator adds to them, including
re-evaluations when a frame is recomputed once per sink.
"""

from __future__ import annotations

import time

import pandas as pd

from refitd_etl_spark.operators.sensor import MockEmbedder, MockTagSensor


class _Counted:
    def __init__(self, sc):
        self.rows = sc.accumulator(0)
        self.seconds = sc.accumulator(0.0)

    def _count(self, call, batch):
        t0 = time.perf_counter()
        out = call(batch)
        self.seconds.add(time.perf_counter() - t0)
        self.rows.add(len(batch))
        return out


class CountingSensor(_Counted):
    """A ``Sensor`` that counts the rows it tags and the seconds it spends."""

    def __init__(self, sc, inner=None):
        super().__init__(sc)
        self.inner = inner or MockTagSensor()

    def tag_batch(self, batch: pd.DataFrame) -> list[dict]:
        return self._count(self.inner.tag_batch, batch)


class CountingEmbedder(_Counted):
    """An ``Embedder`` that counts the texts it embeds and the seconds it spends."""

    def __init__(self, sc, inner=None):
        super().__init__(sc)
        self.inner = inner or MockEmbedder()

    def embed_batch(self, texts: pd.Series) -> list[list[float]]:
        return self._count(self.inner.embed_batch, texts)
