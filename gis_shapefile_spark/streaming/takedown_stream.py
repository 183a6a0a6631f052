"""Continuous takedown ingest: a stream of keys committed as
merge-on-read equality-delete files per micro-batch.

Takedown feeds (DMCA notices, safety flags, opt-out requests) arrive
continuously; applying each batch through the COW MERGE sink
(``merge_stream``) would rewrite the snapshot per micro-batch — the
wrong cost model for key-only deletes against a 10^12-row image table.
This sink commits each micro-batch as ONE O(batch) delete file
(``plans/merge.py::mor_delete``): no data file is read or written per
batch, readers see the takedowns immediately through ``mor_read``'s
broadcast anti-join, and the eventual rewrite is amortized into the
separately-scheduled ``mor_compact`` maintenance pass.

Exactly-once: the delete-file tag embeds (lineage, batch id), so a
replayed batch finds its marker dir and short-circuits inside
``mor_delete`` (protocol and lineage key: ``sink.py``). A replay arriving
AFTER a compaction consumed its marker re-commits the file, which is
redundant-but-harmless (equality deletes of already-deleted keys are
anti-join no-ops; see ``mor_delete``'s docstring).

Single-writer: the MoR maintenance ops (this sink's deletes, compaction)
share the table's single-writer contract — schedule ``mor_compact``
between sink runs, not concurrently with one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..plans import merge as MG
from . import sink


def streaming_takedown_sink(
    spark: SparkSession,
    keys_stream: DataFrame,
    path: str,
    key_cols: list[str],
    checkpoint_dir: str,
):
    """Commit each micro-batch of takedown keys as one equality-delete
    file against the MoR table at ``path``. Returns the (terminated)
    StreamingQuery; uses the availableNow trigger, so one call drains
    the feed's current files (the batch-job-shaped streaming run every
    other sink in this package uses)."""

    def apply_batch(batch_df: DataFrame, batch_id: int, lineage: str) -> None:
        MG.mor_delete(
            spark, path, batch_df, key_cols, tag=f"b{batch_id:08d}-{lineage}"
        )

    return sink.run(keys_stream, checkpoint_dir, apply_batch)
