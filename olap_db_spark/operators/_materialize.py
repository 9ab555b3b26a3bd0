"""Materialization helper for data-sized intermediates (r13, guide §5).

Several operators pin multiply-consumed, data-sized frames (the shingled
corpus, simhash/class index tables, the k-means input, PageRank's node
table) with ``localCheckpoint``: lineage is truncated and the blocks live
ONLY on the executors that computed them — the right trade on local[*],
but on a real cluster one executor loss mid-query kills the whole query,
because a local checkpoint leaves no recompute path (r12 VERDICT #2).

``materialize`` keeps the local default byte-identical (same
localCheckpoint call, same storage level, plans unchanged) and adds a
conf-gated RELIABLE path for cluster deployments:

    spark.olap.reliableCheckpoint = true    (default false)

With the gate on, frames go through ``DataFrame.checkpoint`` into the
SparkContext's checkpoint directory (HDFS/object store on a cluster), so
a lost executor re-reads the materialized blocks instead of failing the
query. The directory is Spark's own: ``spark.checkpoint.dir`` at session
build or ``SparkContext.setCheckpointDir`` later, and a re-pointed
directory takes effect at the next call. The checkpointed frame is then
persisted at ``storage``, so its consumers read the cached blocks rather
than the checkpoint files each. The cost — one write + read of the frame
through the reliable store — is the standard price of fault tolerance at
100 TB; the gate stays off for benches and local runs.

Retention (r12 ADVICE): checkpoint-backed frames cannot be unpersisted
explicitly — their blocks are freed when the last reference to the
DataFrame is garbage-collected and the ContextCleaner runs. In the
one-shot-per-query harness that happens naturally after each query's
action; a library-style caller invoking these operators repeatedly in
one long session should drop its result references promptly (or call
``spark.catalog.clearCache()`` between batches) so accumulated
checkpoint storage stays bounded. On the reliable path the persisted
copy is held by the cache manager until ``unpersist`` or ``clearCache``.
The k-means assignment, which uses a plain ``persist``, has an explicit
keep-last-2 unpersist registry in ``kmeans.py`` for the same reason.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def materialize(
    df: DataFrame,
    eager: bool = True,
    storage: StorageLevel | None = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Cut lineage and pin ``df`` at ``storage`` (pass ``storage=None``
    for Spark's default: deserialized for ``localCheckpoint``, not
    persisted for ``checkpoint``). Local default: ``localCheckpoint``.
    Reliable path (conf-gated, see module doc): ``DataFrame.checkpoint``
    into the context's checkpoint directory."""
    spark = df.sparkSession
    reliable = (
        spark.conf.get("spark.olap.reliableCheckpoint", "false").lower() == "true"
    )
    if reliable:
        if not spark.sparkContext._jsc.sc().getCheckpointDir().isDefined():
            raise ValueError(
                "spark.olap.reliableCheckpoint=true needs a checkpoint "
                "directory: set spark.checkpoint.dir or call "
                "SparkContext.setCheckpointDir with a fault-tolerant path"
            )
        pinned = df.checkpoint(eager=eager)
        return pinned if storage is None else pinned.persist(storage)
    if storage is None:
        return df.localCheckpoint(eager=eager)
    return df.localCheckpoint(eager=eager, storageLevel=storage)
