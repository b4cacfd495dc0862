"""Streaming state-partition sizing.

A stateful streaming operator shards its state store according to
``spark.sql.shuffle.partitions`` *at query start*.  Unlike batch shuffles,
AQE cannot coalesce these at runtime (AQE is disabled for stateful
workloads), so the number must be chosen, not defaulted: size it to the
GROUP-KEY CARDINALITY and per-key state size, not to the input volume.

  - too many shards: fixed per-shard cost (state-store instance, commit)
    dominates;
  - too few shards: a shard's keys + state must fit one executor's memory,
    and parallelism caps at the shard count — at 10⁹ keys you want
    thousands.

The optimum is keys/shard ≈ (per-shard fixed cost) / (per-key cost).  Every
stateful streaming operator here is a native aggregation in the JVM, at
~µs/key against ~40 ms/shard of commit+drain fixed cost → about 12 000
keys per shard.  Measured (OPTIMIZATION_r14.md §3, 32-core sweep,
min-of-3, quiet box): the ~95 k-key session_window state bottomed at 8
shards (1.51 s vs 2.37 s at 32); a 3.6 k-key tumbling window was flat 4–8
(1.22 s) and regressed to 2.57 s at 32.

The law only binds when the key count is small relative to the
configured task slots — exactly when per-shard fixed cost matters; at
production key counts (10⁹) it saturates the configured parallelism, so
nothing here is local-mode-specific.  The wrappers take ``approx_keys``
from the caller (the catalog knows its key spaces; at 100 TB you would
take it from table statistics).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession


#: keys/shard for native streaming aggregations (µs per key)
NATIVE_STATE_KEYS_PER_SHARD = 12_000


def shards_for_keys(approx_keys: int) -> int:
    return max(4, min(approx_keys // NATIVE_STATE_KEYS_PER_SHARD, 10_000))


@contextmanager
def state_shuffle_partitions(spark: SparkSession, approx_keys: int) -> Iterator[int]:
    """Temporarily pin shuffle partitions to a key-cardinality-sized shard
    count while a streaming query is *started* (the setting is captured at
    start; restoring it afterwards does not affect the running query).

    The count only ever shrinks relative to the session's configured
    shuffle partitions: the configured value is the deployment's statement
    of available task slots (local[32] here, thousands on a real cluster),
    and more shards than slots just adds per-shard fixed cost without
    parallelism.  Sizing *down* is the win this helper exists for.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    configured = int(old) if str(old).isdigit() else 200
    n = max(4, min(shards_for_keys(approx_keys), configured))
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
