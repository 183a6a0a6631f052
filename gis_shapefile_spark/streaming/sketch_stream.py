"""Continuous count-min sketch and HyperLogLog maintenance: the
streaming members of ``operators/sketch.py``.

The sketch IS the streaming-native structure: each micro-batch sketches
independently (``cms_build`` — map-side, d x w bounded) and folds into
the committed grid with pure integer adds (``cms_merge``), so the
running state is a CONSTANT 256 rows no matter how many tokens have
streamed past — the exact property that makes frequency tracking
feasible over an unbounded 10^12-token feed where a true counter table
would grow with the vocabulary. Each fold commits through the manifest
protocol in ``sink.py``, so a replayed batch never double-adds its
counts.

Estimates read back at ANY time with ``cms_estimate`` against the
committed stage — and because merge is associative + commutative
integer addition, the streamed sketch equals the batch sketch of the
full feed bit-for-bit (pytest-pinned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators import sketch as SK
from . import sink


def _fold_sink(items_stream, table, stage_name, checkpoint_dir, build, merge):
    """Commit ``merge(committed, build(batch))`` per micro-batch."""

    def apply_batch(batch_df: DataFrame, batch_id: int, lineage: str) -> None:
        def fold(committed: DataFrame | None) -> DataFrame:
            batch = build(batch_df)
            return batch if committed is None else merge(committed, batch)

        sink.fold_commit(table, stage_name, lineage, batch_id, fold)

    return sink.run(items_stream, checkpoint_dir, apply_batch)


def streaming_cms_sink(
    spark: SparkSession,
    items_stream: DataFrame,
    table,
    stage_name: str,
    item_col: str,
    checkpoint_dir: str,
    d: int = SK.CMS_D,
    w: int = SK.CMS_W,
):
    """Fold each micro-batch's sketch into the committed ``stage_name``
    counter grid of ``table`` (a ``CheckpointTable``). Single-writer per
    stage. Returns the (terminated) StreamingQuery."""
    return _fold_sink(
        items_stream, table, stage_name, checkpoint_dir,
        lambda df: SK.cms_build(df, item_col, d=d, w=w), SK.cms_merge,
    )


def streaming_hll_sink(
    spark: SparkSession,
    items_stream: DataFrame,
    table,
    stage_name: str,
    item_col: str,
    checkpoint_dir: str,
    group_cols: tuple[str, ...] = (),
):
    """Continuous HyperLogLog maintenance — the cardinality twin of the
    CMS sink: each micro-batch builds its register grid (``hll_build``,
    |groups| x 64 bounded) and folds into the committed grid by
    elementwise integer MAX (``hll_merge``). Max is associative,
    commutative, AND idempotent — re-merging a replayed batch cannot
    move a register even without the manifest short-circuit. The
    streamed grid equals the batch grid of the full feed bit-for-bit
    (pytest-pinned)."""
    return _fold_sink(
        items_stream, table, stage_name, checkpoint_dir,
        lambda df: SK.hll_build(df, item_col, group_cols=group_cols),
        SK.hll_merge,
    )
