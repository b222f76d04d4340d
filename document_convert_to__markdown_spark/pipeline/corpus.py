"""Distributed synthesis of the pages corpus.

Because every row is a pure function of ``(seed, i)``
(data/synth.py), the corpus materializes with ``spark.range(n)`` +
``mapInPandas`` — no driver-side loop, no collect, linear scale-out.
At 10^12 rows this is exactly how a test corpus would be minted on a
real cluster; at sandbox scale it keeps generation off the driver.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..data.synth import synth_page
from .schemas import PAGES_SCHEMA
from .session import prepare_python_worker


def synth_pages_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    giant_every: int = 10000,
    partitions: int | None = None,
    size_scale: float = 1.0,
) -> DataFrame:
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 2, 8)
    partitions = min(partitions, max(n_docs, 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prepare_python_worker()
        for pdf in batches:
            rows = [synth_page(int(i), seed, giant_every, size_scale)
                    for i in pdf["id"]]
            yield pd.DataFrame(
                {
                    "url": [r.url for r in rows],
                    "warc_ts": [r.warc_ts for r in rows],
                    "html": [r.html for r in rows],
                    "text": [r.text for r in rows],
                    "lang": [r.lang for r in rows],
                }
            )

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
    )
