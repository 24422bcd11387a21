"""D1: per-tenant batching.

Reference semantics (pkg/remote/write.go:27-43, 59-77, 115-180): buffer
samples per tenant; flush a tenant's buffer when it reaches BatchSize
(default 100) OR when its oldest sample is older than BatchMaxDelay
(default 5 s); a 100 ms poll drives the delay check.

Spark mapping, and where it departs from the reference: the batcher
keeps no state across micro-batches. ``microbatch_batches`` cuts each
tenant's samples of ONE micro-batch into batches of ``batch_size``, so
the size trigger holds within a trigger, but a remainder flushes
under-size at every trigger instead of waiting in a buffer for more
samples. The consume trigger interval (``--batch-max-delay``) plays the
role of the max delay: a sample waits at most one interval before it is
batched and POSTed. The cost is more under-filled requests at low
per-tenant rates; the gain is that a batch never outlives the
micro-batch that read it, so replay and the sent-ledger work per epoch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_BATCH_SIZE = 100  # reference write.go:67-69


def microbatch_batches(batch_df: DataFrame, batch_size: int = DEFAULT_BATCH_SIZE) -> DataFrame:
    """Per-micro-batch grouping: deterministic batch ids per tenant within
    one micro-batch; the trigger interval bounds delay. One hash-shuffle
    on tenant_id."""
    from pyspark.sql import Window

    w = Window.partitionBy("tenant_id").orderBy("timestamp", "labels_json")
    return batch_df.withColumn(
        "batch_seq", ((F.row_number().over(w) - 1) / batch_size).cast("bigint")
    )
