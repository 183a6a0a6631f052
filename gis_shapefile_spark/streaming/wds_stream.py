"""Continuous WebDataset export: each micro-batch of image rows lands as
tar shards, exactly-once.

The last stage of a continuous curation pipeline is shard export — new
curated samples must reach the training-data format as they arrive, and
a replayed micro-batch must not duplicate samples across shards (a
duplicated shard silently doubles those samples' epoch frequency).

Composition: ``sources/webdataset.write_shards`` already writes one tar
per partition with atomic tmp+rename publish and byte-identical
re-writes; this sink namespaces each micro-batch's shards with a
``shard-b<batch id>-<lineage>`` prefix and short-circuits when that
batch's shards already exist (protocol and lineage key: ``sink.py``).

Readers see a growing pool of shards: ``read_shards_df(out_dir,
prefix="shard")`` matches every batch's shards at once (the batch tag
extends the same prefix), so the consumer contract is unchanged.

``out_dir`` is PAIRED with its checkpoint: a wiped-and-recreated
checkpoint re-exports the whole feed under a new lineage (duplicate
shards) rather than silently DROPPING the new lineage's batch-0 samples
on the old markers — for an export sink, detectable duplication beats
silent loss; start a fresh out_dir whenever you start a fresh checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources import webdataset as W
from . import sink


def streaming_wds_sink(
    spark: SparkSession,
    images_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
):
    """Export each micro-batch of image rows as WebDataset tar shards
    under ``out_dir``; returns the (terminated) StreamingQuery
    (availableNow trigger — one call drains the feed's current files).
    """

    def apply_batch(batch_df: DataFrame, batch_id: int, lineage: str) -> None:
        prefix = f"shard-b{batch_id:06d}-{lineage}"
        if W.list_shards(out_dir, prefix):
            return  # replayed batch: its shards are already published
        W.write_shards(batch_df, out_dir, prefix=prefix).collect()

    return sink.run(images_stream, checkpoint_dir, apply_batch)
