"""The state machinery every storage-backed streaming maintainer shares:
one generational parquet store with one lossless compaction, the one
touched-key epoch of the event maintainers and the edge support, and
the one foreachBatch wiring (ADR 0011).

A weighted state table holds signed increment rows: every column that
is not a weight is key, and the table's accumulated value is the
per-key fold of its weights (a signed sum; HyperLogLog registers fold
by max). Compaction rewrites the increments as that fold and drops
only rows whose weights are all zero, so it never changes the
accumulated value — a maintainer's answer does not depend on when
compaction ran. Live-row filters such as ``cnt > 0`` belong to a
maintainer's read view and never reach the store.
"""

from __future__ import annotations

import functools
import json
import os
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..scratch import materialize


def _fold(df: DataFrame, weights: tuple, fold=F.sum) -> DataFrame:
    """One row per key (every column not in ``weights``) with its
    weights folded and cast back to their stored types; a signed sum
    drops rows whose weights are all zero."""

    keys = [c for c in df.columns if c not in weights]
    out = df.groupBy(*keys).agg(
        *[fold(w).cast(df.schema[w].dataType).alias(w) for w in weights]
    )
    if fold is not F.sum:
        return out
    return out.filter(
        functools.reduce(lambda a, b: a | b, [F.col(w) != 0 for w in weights])
    )


def foreach_epoch(
    stream: DataFrame,
    on_batch: Callable[[DataFrame, int], None],
    checkpoint: str,
    query_name: str,
):
    """Start ``stream`` with ``on_batch(batch_df, epoch_id)`` run on
    every micro-batch; returns the StreamingQuery. foreachBatch is
    at-least-once, so ``on_batch`` must make a replayed epoch id
    harmless (the store's epoch-keyed writes do)."""

    return (
        stream.writeStream.foreachBatch(on_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .start()
    )


class _GenerationalState:
    """Crash-safe parquet state: versioned generations behind a
    pointer file (write-then-swap commits), epoch-keyed append-only
    increments (retry-idempotent under foreachBatch's at-least-once),
    a folded-epoch manifest so compaction never double-counts a
    retried epoch, and the one compaction schedule.

    Per-epoch persistence is append-only and O(batch). Every
    ``compact_every`` epochs of a weighted table in ``WEIGHTS`` fold
    its increments into one generation; without compaction an epoch
    is still correct, it only reads more increment files. Each table
    has ONE writer thread: its appends, its schedule count and its
    compaction run there, while other tables may be written
    concurrently. A transactional table format replaces the pointer
    file at cluster scale."""

    compact_every = 8
    #: weighted state tables -> their weight columns (every other
    #: column is key); the compaction schedule folds exactly these
    WEIGHTS: dict = {}
    #: how a key's weights fold: the signed sum, or F.max for registers
    FOLD = staticmethod(F.sum)

    # Compacted generations store the folded base under this reserved
    # epoch partition so increments and the base share ONE layout
    # (mixing flat files with epoch=*/ subdirs makes Spark's partition
    # discovery silently drop the flat side).
    BASE_EPOCH = -1

    def __init__(self, spark: SparkSession, state_dir: str) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        #: epochs counted per weighted table by the compaction schedule
        self._epochs: dict = {}

    # -- generations -------------------------------------------------
    def _dir(self, name: str) -> Optional[str]:
        ptr = f"{self.state_dir}/{name}.version"
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            return f"{self.state_dir}/{name}_v{int(f.read().strip())}"

    def _next_version(self, name: str) -> int:
        ptr = f"{self.state_dir}/{name}.version"
        if os.path.exists(ptr):
            with open(ptr) as f:
                return int(f.read().strip()) + 1
        return 0

    def _commit_version(self, name: str, version: int) -> None:
        """Point the generation pointer at ``version`` — the COMMIT of
        the write-then-swap: called only after the new generation's
        data (and manifest, if any) is fully on disk, so a crash
        mid-write leaves the pointer on the old, complete generation."""

        os.makedirs(self.state_dir, exist_ok=True)
        with open(f"{self.state_dir}/{name}.version", "w") as f:
            f.write(str(version))

    def _append(
        self, name: str, df: DataFrame, epoch: Optional[int] = None
    ) -> None:
        d = self._dir(name)
        if d is None:
            version = self._next_version(name)
            self._commit_version(name, version)
            d = f"{self.state_dir}/{name}_v{version}"
        if epoch is not None:
            # Epoch-keyed overwrite: a RETRIED micro-batch replaces its
            # own contribution instead of double-appending (exactly-once
            # state under foreachBatch's at-least-once retries). An
            # epoch already FOLDED into a compacted generation is
            # dropped outright — its contribution lives in the epoch=-1
            # base, and re-writing its partition would double-count it.
            if epoch in self._folded(d):
                return
            df.write.mode("overwrite").parquet(f"{d}/epoch={epoch}")
        else:
            df.write.mode("append").parquet(d)

    # -- folded-epoch manifest (underscore prefix => ignored by Spark's
    # parquet reader, like _SUCCESS) --------------------------------
    def _folded(self, d: str) -> set:
        p = f"{d}/_folded_epochs.json"
        if not os.path.exists(p):
            return set()
        with open(p) as f:
            return set(json.load(f))

    def _epoch_ids(self, d: str) -> list:
        if not os.path.isdir(d):
            return []
        out = []
        for entry in os.listdir(d):
            if entry.startswith("epoch="):
                try:
                    out.append(int(entry.split("=", 1)[1]))
                except ValueError:
                    continue
        return out

    def _read_versioned(self, name: str) -> Optional[DataFrame]:
        d = self._dir(name)
        if d is None:
            return None
        df = self.spark.read.parquet(d)
        return df.drop("epoch") if "epoch" in df.columns else df

    def _staged(self, name: str, df: DataFrame) -> DataFrame:
        """Write ``df`` to the table's staging dir and read it back: a
        frame that reads the current generation must materialize
        before the swap replaces it."""

        stage = f"{self.state_dir}/__stage_{name}"
        df.write.mode("overwrite").parquet(stage)
        return self.spark.read.parquet(stage)

    def _overwrite(self, name: str, df: DataFrame) -> None:
        staged = self._staged(name, df)
        # data first, pointer commit last (crash-safe swap)
        version = self._next_version(name)
        staged.write.mode("overwrite").parquet(
            f"{self.state_dir}/{name}_v{version}"
        )
        self._commit_version(name, version)

    # -- the weighted tables -------------------------------------------
    def _consolidated(self, name: str) -> Optional[DataFrame]:
        """The accumulated value of a weighted table: its increments
        folded per key (:func:`_fold`)."""

        inc = self._read_versioned(name)
        if inc is None:
            return None
        return _fold(inc, self.WEIGHTS[name], self.FOLD)

    def _compact(self, name: str) -> None:
        """Fold a weighted table's increments into one generation,
        preserving the layout mode: epoch-keyed state writes the folded
        base as the reserved ``epoch=-1`` partition of the NEW
        generation (so later ``epoch=N`` increments keep a uniform
        partitioned layout) and records every folded epoch id in the
        generation's manifest (a retry of a folded epoch is then
        dropped, not re-applied); flat state compacts to a flat
        generation."""

        consolidated = self._consolidated(name)
        if consolidated is None:
            return
        cur = self._dir(name)
        epoch_ids = self._epoch_ids(cur)
        prior_folded = self._folded(cur)
        # The version pointer commits LAST — only after the new
        # generation's data and manifest are fully written — so a
        # crash anywhere in between leaves the pointer on the old,
        # complete generation (no window where a folded-epoch retry
        # could double-count against a manifest-less base).
        staged = self._staged(name, consolidated)
        version = self._next_version(name)
        new = f"{self.state_dir}/{name}_v{version}"
        if epoch_ids or prior_folded:
            staged.write.mode("overwrite").parquet(
                f"{new}/epoch={self.BASE_EPOCH}"
            )
            folded = prior_folded | {
                e for e in epoch_ids if e != self.BASE_EPOCH
            }
            with open(f"{new}/_folded_epochs.json", "w") as f:
                json.dump(sorted(folded), f)
        else:
            staged.write.mode("overwrite").parquet(new)
        self._commit_version(name, version)

    def _end_epoch(self, *names: str) -> None:
        """The compaction schedule: count one epoch of each named
        weighted table (default: every table in ``WEIGHTS``) and fold a
        table on its every ``compact_every``-th epoch. A call touches
        only the tables it names, so writers of different tables on
        concurrent threads (one ``attach`` per slice) never swap a
        generation under each other."""

        for name in names or self.WEIGHTS:
            self._epochs[name] = self._epochs.get(name, 0) + 1
            if self._epochs[name] % self.compact_every == 0:
                self._compact(name)


class _TouchedKeyMaintainer(_GenerationalState):
    """A maintained result that is a per-key function of the key's OWN
    state rows, kept current under signed adds and retractions by
    recomputing exactly the keys an epoch touches (ADR 0011).

    One epoch, in this order:

    1. sign the adds (+1) and retractions (-1), consolidate the delta
       (:func:`_fold`), materialize it;
    2. find the touched keys (``_touched``);
    3. materialize the OLD result of the touched slice BEFORE the
       append — a retried epoch overwrites its own partition in place,
       and a lazy plan would list the replaced files;
    4. append the delta and run the compaction schedule;
    5. compute the NEW result of the touched slice (lazy);
    6. emit new-minus-old, grouped by the result row, ``diff != 0``.

    Both results come from the SAME batch core (``_core``) that
    ``current()`` runs over the whole state, so maintained and batch
    semantics cannot drift; a retraction needs no DRed machinery. A
    subclass declares:

    - ``WEIGHTS``: its one state table and that table's weight
      columns; the LAST weight is the support count, and a key row is
      live while it is positive;
    - ``_project(rows)``: input rows -> the state's key columns, the
      touched key named ``k``, one unit of support each (``_signed``
      when weights are not a unit count);
    - ``_core(state)``: the batch operator over live state rows;
    - ``OUT_KEY``: the result column renamed to ``self.key_col``;
    - ``DIFF_WEIGHT``: a result column that is itself a count, so a
      diff carries it instead of one row (retention's ``n_users``).

    Diff rows carry the result's columns plus ``diff``.
    """

    WEIGHTS = {"events": ("cnt",)}
    OUT_KEY: Optional[str] = "k"
    DIFF_WEIGHT: Optional[str] = None

    @property
    def _name(self) -> str:
        (name,) = self.WEIGHTS
        return name

    def _project(self, rows: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _core(self, state: DataFrame) -> DataFrame:
        raise NotImplementedError

    def _signed(self, rows: DataFrame, sign: int) -> DataFrame:
        return self._project(rows).select(
            "*", F.lit(sign).cast("long").alias("cnt")
        )

    def _touched(self, delta: DataFrame) -> DataFrame:
        return delta.select("k").distinct()

    def _slice(self, state: DataFrame, touched: DataFrame) -> DataFrame:
        return self._core(state.join(touched, "k", "left_semi"))

    def _state(self) -> Optional[DataFrame]:
        cons = self._consolidated(self._name)
        if cons is None:
            return None
        return cons.filter(F.col(self.WEIGHTS[self._name][-1]) > 0)

    def _output(self, df: DataFrame) -> DataFrame:
        if self.OUT_KEY is None:
            return df
        return df.withColumnRenamed(self.OUT_KEY, self.key_col)

    def current(self) -> Optional[DataFrame]:
        """The full maintained result, recomputed from state — the
        equality-gate read; per-epoch diffs never take this path."""

        st = self._state()
        return None if st is None else self._output(self._core(st))

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        parts = [
            self._signed(rows, sign)
            for rows, sign in ((adds, 1), (retracts, -1))
            if rows is not None
        ]
        if not parts:
            return None
        delta = materialize(
            _fold(
                functools.reduce(DataFrame.unionByName, parts),
                self.WEIGHTS[self._name],
            )
        )
        touched = self._touched(delta)
        before = self._state()
        old = None if before is None else materialize(
            self._slice(before, touched)
        )
        self._append(self._name, delta, epoch=epoch)
        self._end_epoch()
        after = self._state()
        new = None if after is None else self._slice(after, touched)

        tagged = []
        for df, sign in ((old, -1), (new, 1)):
            if df is None:
                continue
            w = F.lit(sign)
            if self.DIFF_WEIGHT is not None:
                w = w * F.col(self.DIFF_WEIGHT)
            cols = [c for c in df.columns if c != self.DIFF_WEIGHT]
            tagged.append(df.select(*cols, w.alias("diff")))
        if not tagged:
            return None
        return self._output(
            functools.reduce(DataFrame.unionByName, tagged)
            .groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
        )
