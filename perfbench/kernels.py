"""Spark-free timings of the numpy kernels in ``core.vectorized``.

Only kernels with a public entry point are timed. The band kernel (a
closure inside ``operators.blocking.block_keys``), the Dice kernel (a
closure inside ``operators.scoring.score_candidates``) and union-find
(the private ``operators.cluster._union_find_labels``) stay unmeasured
until they are exposed; the benchmark does not copy their code.
"""

from __future__ import annotations

import statistics
import time
from typing import Dict, Sequence

import pandas as pd

UNMEASURED = (
    "band: closure inside operators.blocking.block_keys",
    "dice: closure inside operators.scoring.score_candidates",
    "union-find: private operators.cluster._union_find_labels",
)


def _median_ns(fn, repeats: int) -> float:
    times = []
    for _ in range(repeats):
        start = time.perf_counter_ns()
        fn()
        times.append(time.perf_counter_ns() - start)
    return statistics.median(times)


def time_kernels(texts: Sequence[str], schema, secret: str,
                 repeats: int = 3) -> Dict[str, float]:
    """ns/row of ``BatchEncoder.encode_to_lists`` and ``popcount_bytes``.

    The encoder is built once and warmed on the batch first, the way a
    Python worker keeps its token caches across Arrow batches, so the
    figure is the steady-state cost of one batch.
    """
    from clkhash_spark.core.vectorized import BatchEncoder, popcount_bytes
    from clkhash_spark.operators.encode import derive_keys

    batch = [pd.Series(list(texts), dtype=object)]
    encoder = BatchEncoder(schema, derive_keys(schema, secret))
    encoder.encode_to_lists(batch)
    encode_ns = _median_ns(lambda: encoder.encode_to_lists(batch), repeats)
    packed, _ = encoder.encode(batch)
    popcount_ns = _median_ns(lambda: popcount_bytes(packed), 20 * repeats)
    return {
        "kernel.encode_ns_per_row": encode_ns / len(texts),
        "kernel.popcount_ns_per_row": popcount_ns / len(texts),
    }
