"""Result-diff emission: the reference's output contract is a stream of
``(tuple, time, diff)`` deltas per query (ResultDiff, src/lib.rs:243;
Output::QueryDiff, src/lib.rs:250-253). Spark's batch results are full
relations, so diffs are recovered per micro-batch by comparing against
the previously-emitted snapshot — distributed exceptAll both ways, no
driver-side collection of the relation itself.
"""

from __future__ import annotations

from collections import deque
from typing import Callable, Optional

from pyspark.sql import DataFrame, functions as F

# Epochs of collected diffs a subscriber retains when no callback
# consumes them. The reference STREAMS diffs to clients and keeps
# nothing; a driver-side history is a convenience buffer and must be
# bounded — an unbounded list on a high-churn query OOMs the driver.
DEFAULT_HISTORY_LIMIT = 1024


class DiffSink:
    """foreachBatch-compatible sink that converts full micro-batch
    results into (tuple..., diff) deltas vs the previous batch.

    Usage::

        sink = DiffSink(on_diffs=lambda df, epoch: df.show())
        query = (result_stream.writeStream.outputMode("complete")
                 .foreachBatch(sink).start())

    State: one cached snapshot DataFrame (the previous result). At
    scale, snapshots should live in a Delta/parquet table instead of
    cache — same algebra, swap persist for a table write.

    Without ``on_diffs``, collected diffs buffer in ``history``,
    bounded to the newest ``history_limit`` epochs; pass ``on_evict``
    to spill entries leaving the window (e.g. append to parquet)
    instead of dropping them.
    """

    def __init__(
        self,
        on_diffs: Optional[Callable[[DataFrame, int], None]] = None,
        history_limit: int = DEFAULT_HISTORY_LIMIT,
        on_evict: Optional[Callable[[int, list], None]] = None,
    ):
        self.previous: Optional[DataFrame] = None
        self.on_diffs = on_diffs
        self.on_evict = on_evict
        self.history: deque[tuple[int, list]] = deque(
            maxlen=max(1, history_limit)
        )

    def _record(self, epoch_id: int, rows: list) -> None:
        record_bounded(self.history, self.on_evict, epoch_id, rows)

    def __call__(self, batch_df: DataFrame, epoch_id: int) -> None:
        current = batch_df.persist()
        current.count()  # materialize before lineage swap
        if self.previous is None:
            diffs = current.withColumn("diff", F.lit(1))
        else:
            added = current.exceptAll(self.previous).withColumn(
                "diff", F.lit(1)
            )
            removed = self.previous.exceptAll(current).withColumn(
                "diff", F.lit(-1)
            )
            diffs = added.unionByName(removed)
        if self.on_diffs is not None:
            self.on_diffs(diffs, epoch_id)
        else:
            self._record(epoch_id, diffs.collect())
        if self.previous is not None:
            self.previous.unpersist()
        self.previous = current


def record_bounded(history, on_evict, epoch_id: int, rows: list) -> None:
    """Append to a bounded history deque, spilling the entry about to
    fall off through ``on_evict`` — the ONE eviction rule shared by
    DiffSink and ReactiveSession interests."""

    if on_evict is not None and len(history) == history.maxlen:
        on_evict(*history[0])
    history.append((epoch_id, rows))
