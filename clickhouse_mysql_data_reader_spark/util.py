"""Small shared utilities."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame

# Only inputs smaller than target_partitions * this are worth fanning
# out — bigger inputs already split into enough parquet row-group tasks.
_SMALL_INPUT_BYTES_PER_SLOT = 32 * 1024 * 1024


def fan_out(
    df: DataFrame,
    min_partitions: int | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Repartition ONLY when the input is a genuinely small, under-split
    file set (e.g. one small parquet file -> one task), which would run
    CPU-heavy per-row transforms (shingling, hashing, decode UDFs) on a
    single core.

    Decision uses the *scan* inputs, not ``df.rdd`` (whose partitioning
    reflects the conversion, not the file splits). On a well-partitioned
    100 TB input — many files, or few huge splittable files — the
    condition is false and NO shuffle is added.

    ``bytes_per_task`` tunes the fan WIDTH to the downstream work:
    consumers whose per-row cost explodes the input (shingle/bit
    explosion -> 30-50x the scanned bytes) want every core regardless
    of input size (leave it None); plain per-row projections (quality
    features, token stats) on a tiny input would pay more in task
    scheduling than they win in parallelism at full width, so they cap
    the fan at ~one task per ``bytes_per_task`` of input.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files or len(files) >= target:
        return df
    total = 0
    for uri in files:
        p = urlparse(uri)
        if p.scheme not in ("file", ""):
            return df  # remote store: trust the source's split planning
        try:
            total += os.path.getsize(p.path)
        except OSError:
            return df
    if total >= target * _SMALL_INPUT_BYTES_PER_SLOT:
        return df
    if bytes_per_task is not None:
        target = max(2, min(target, -(-total // bytes_per_task)))
        if len(files) >= target:
            return df
    return df.repartition(target)


def self_contained_pickle(module) -> None:
    """Register ``module`` for pickle-BY-VALUE inside UDF closures.

    mapInPandas / applyInPandasWithState closures that reference
    package functions pickle by REFERENCE to their defining module by
    default — the driver may run from any cwd, and python workers
    without the repo on PYTHONPATH then fail the import. Call
    ``self_contained_pickle(sys.modules[__name__])`` before building
    the UDF (one shared implementation; the per-module wrappers in
    membership/multimodal/similarity delegate here so a cloudpickle API
    change is fixed in one place).
    """
    try:
        from pyspark import cloudpickle

        cloudpickle.register_pickle_by_value(module)
    except Exception:
        pass
