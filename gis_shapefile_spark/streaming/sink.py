"""The one exactly-once protocol every ``foreachBatch`` sink here runs.

Structured Streaming re-delivers the last batch whose offsets it logged
but whose ``<ckpt>/commits/<N>`` entry it never wrote — a crash between
the sink's write and the stream's commit. The output is exactly-once
only when re-applying batch N is a no-op keyed by (query lineage, batch
id) (Armbrust et al., SIGMOD 2018):

* the lineage is the query id Spark persists in ``<ckpt>/metadata`` on
  first start (``lineage_id``), never the checkpoint path — a checkpoint
  wiped and re-created at the same path restarts batch ids at 0, and a
  path key would make the fresh run's batches match the old run's and be
  skipped without an error;
* ``run`` owns the ``writeStream`` boilerplate and hands each batch to
  ``apply_batch(batch_df, batch_id, lineage)``;
* the manifest sinks (geocode with a table, tiles, merge, CMS, HLL,
  contact) fold each batch into a ``CheckpointTable`` stage through
  ``fold_commit``, whose fingerprint ``ck=<lineage>|batch:<id>`` turns a
  replay into a no-op before any plan is built;
* the file sinks keep their replay marker next to the writer of their
  artifact — the IVF ``batch=<id>`` directory, the ``mor_delete`` tag,
  the WebDataset shard prefix. IVF keys by the bare batch id on purpose:
  a fresh checkpoint over the same feed must not insert its rows twice,
  and compaction's negative batch ids rely on that key.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame


def lineage_id(checkpoint_dir: str) -> str:
    """The query id Spark wrote to ``<ckpt>/metadata`` when the
    checkpoint was created; a wiped checkpoint gets a new one."""
    with open(os.path.join(checkpoint_dir, "metadata")) as fh:
        return json.load(fh)["id"][:8]


def run(stream: DataFrame, checkpoint_dir: str, apply_batch):
    """Drain ``stream``'s available input through ``apply_batch(batch_df,
    batch_id, lineage)`` (availableNow trigger); returns the terminated
    StreamingQuery."""
    lineage = None

    def process(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal lineage
        # the metadata exists once the query runs; read it once per query
        lineage = lineage or lineage_id(checkpoint_dir)
        apply_batch(batch_df, batch_id, lineage)

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def fold_commit(table, name: str, lineage: str, batch_id: int, fold) -> DataFrame:
    """Commit ``fold(committed)`` as stage ``name`` of ``table`` (a
    ``CheckpointTable``) — ``committed`` is the stage's current data, or
    None on the first batch. ``stage()`` checks the fingerprint before it
    calls ``fold``, so a replayed batch builds nothing. Returns the
    committed stage."""

    def build() -> DataFrame:
        try:
            committed = table.read_stage(name)
        except KeyError:
            committed = None
        return fold(committed)

    return table.stage(name, f"ck={lineage}|batch:{batch_id}", build)
