"""Incrementally-maintained event analytics: funnel depth and cohort
retention kept up to date under streaming adds AND retractions.

Both results are per-key aggregates of a key's OWN events only, so the
maintenance discipline is the IncrementalTopK one — touched-key
recompute with diff emission:

per epoch (signed event rows):
  1. the epoch's events consolidate to signed support rows keyed the
     way the state is keyed (funnel: (key, step-type, epoch-us);
     retention: (key, period-bucket)) — events of types outside the
     funnel's steps are dropped at the door, they cannot affect it;
  2. affected keys = the distinct keys in the delta;
  3. the OLD result restricted to affected keys is recomputed from the
     pre-append state, the NEW result from the post-append state —
     both through the SAME batch operator core
     (``operators/timeseries.py::funnel_us`` /
     ``retention_from_activity``), so maintained and batch semantics
     cannot drift;
  4. the emitted diffs are new-minus-old with ±1 weights; for
     retention the (cohort, offset) count deltas from the affected
     keys' old/new contributions.

Per-epoch compute is O(batch + affected keys' state rows) — never a
scan of unaffected keys; per-epoch persistence is O(batch) append-only
on the shared crash-safe generational machinery (_GenerationalState:
epoch-keyed retry-idempotent increments, folded-epoch manifests,
periodic compaction). Retraction needs no DRed machinery: a key's
result depends only on its own surviving events, so re-deriving the
touched keys from state is already exact.

Funnel under INSERT-ONLY streams is a lattice: adding events can only
move each step's completion time earlier and the depth deeper
(an earlier step-i time admits a superset of step-i+1 candidates), so
append-only deployments can skip the old-result read entirely; the
implementation keeps one code path because the old-result read is
already restricted to affected keys.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.timeseries import funnel_us, retention_from_activity
from ..scratch import materialize
from .corpus_stats import _GenerationalState


def _signed_union(
    adds: Optional[DataFrame], retracts: Optional[DataFrame], cols: list[str]
) -> Optional[DataFrame]:
    delta = None
    if adds is not None:
        delta = adds.select(*cols, F.lit(1).alias("cnt"))
    if retracts is not None:
        neg = retracts.select(*cols, F.lit(-1).alias("cnt"))
        delta = neg if delta is None else delta.unionByName(neg)
    return delta


class IncrementalFunnel(_GenerationalState):
    """Maintained ordered-funnel depths (operators/timeseries.py::
    funnel). State: signed support counts of the step-typed events,
    (key, type, tu, cnt). ``process_batch`` returns the epoch's result
    diffs as (key, depth, t1..tk, diff) with diff = -1 retracting the
    key's previous funnel row and +1 asserting the new one; a key
    whose funnel did not change emits nothing."""

    KEY_COL = "user_id"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        steps: list[str],
        key_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
    ) -> None:
        if len(steps) < 1:
            raise ValueError("funnel needs at least one step")
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.steps = list(steps)
        self.key_col = key_col
        self.ts_col = ts_col
        self.type_col = type_col

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return events.filter(
            F.col(self.type_col).isin(self.steps)
        ).select(
            F.col(self.key_col).alias("k"),
            F.col(self.type_col).alias("t"),
            _epoch_us(self.ts_col).alias("tu"),
        )

    def _events_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("events")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "t", "tu")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _funnel_of(self, ev: Optional[DataFrame]) -> Optional[DataFrame]:
        if ev is None:
            return None
        return funnel_us(
            ev, self.steps, key_col="k", tu_col="tu", type_col="t"
        )

    def current(self) -> Optional[DataFrame]:
        """The full maintained result, recomputed from state — the
        equality-gate read; per-epoch diffs never take this path."""

        out = self._funnel_of(self._events_state())
        if out is None:
            return None
        return out.withColumnRenamed("k", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "t", "tu"],
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy("k", "t", "tu")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._events_state()
        # Materialize the OLD restricted result BEFORE the append: a
        # retried epoch overwrites its own epoch partition in place,
        # and a lazy plan would list the replaced files.
        old = (
            None
            if before is None
            else self._funnel_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("events", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._events_state()
            if consolidated is not None:
                self._compact("events", consolidated)
        after = self._events_state()
        new = (
            None
            if after is None
            else self._funnel_of(after.join(touched, "k", "left_semi"))
        )
        cols = ["k", "depth"] + [f"t{i}" for i in range(1, len(self.steps) + 1)]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("k", self.key_col)
        )


class IncrementalRetention(_GenerationalState):
    """Maintained cohort retention (operators/timeseries.py::
    retention). State: signed support counts of the deduplicated
    (key, period-bucket) activity. ``process_batch`` returns
    (cohort, offset, diff) count deltas; retracting a key's earliest
    activity re-cohorts the key exactly (its old contribution is
    subtracted in full, the new one re-derived from the surviving
    buckets)."""

    KEY_COL = "k"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        period_seconds: int = 86_400,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.period_us = period_seconds * 1_000_000

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        epoch = _epoch_us(self.ts_col)
        us = F.lit(self.period_us)
        bucket = ((epoch - epoch % us) / us).cast("long")
        return events.select(
            F.col(self.key_col).alias("k"), bucket.alias("bucket")
        )

    def _activity_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("activity")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def current(self) -> Optional[DataFrame]:
        act = self._activity_state()
        if act is None:
            return None
        return retention_from_activity(
            act.select("k", "bucket"), key_col="k", bucket_col="bucket"
        )

    def _contrib(
        self, act: Optional[DataFrame], touched: DataFrame
    ) -> Optional[DataFrame]:
        if act is None:
            return None
        return retention_from_activity(
            act.join(touched, "k", "left_semi").select("k", "bucket"),
            key_col="k",
            bucket_col="bucket",
        )

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        # Event-level signed support: N add-events for the same
        # (key, bucket) contribute cnt=N, so partial retraction of a
        # bucket's support keeps the bucket alive until the LAST
        # supporting event retracts — multiset semantics, matching the
        # batch operator's distinct() over surviving events.
        raw = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "bucket"],
        )
        if raw is None:
            return None
        delta = (
            raw.groupBy("k", "bucket")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        old = self._contrib(self._activity_state(), touched)
        if old is not None:
            # materialize before the append (retried epochs overwrite
            # their own partition in place)
            old = materialize(old)
        self._append("activity", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._activity_state()
            if consolidated is not None:
                self._compact("activity", consolidated)
        new = self._contrib(self._activity_state(), touched)

        def tag(df: Optional[DataFrame], sign: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(
                "cohort", "offset", (F.lit(sign) * F.col("n_users")).alias("diff")
            )

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy("cohort", "offset")
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
        )


class IncrementalSessionize(_GenerationalState):
    """Maintained per-session statistics (operators/timeseries.py::
    session_stats). State: signed support counts of the events as
    (key, tu, eid, cnt) — SET semantics per event id (an id is
    present while its support is positive; duplicate assertions are
    idempotent until equally retracted), matching the batch operator
    over a stream of unique event ids. ``process_batch`` returns the
    epoch's result diffs as (key, session_seq, n_events, start_us,
    end_us, duration_s, diff): retracting a bridging event can SPLIT
    a session (or renumber every later session of that key), and the
    touched-key recompute handles both exactly — the old rows retract
    in full, the re-derived ones assert."""

    KEY_COL = "user_id"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        gap_seconds: int = 1800,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.gap_us = gap_seconds * 1_000_000

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return events.select(
            F.col(self.key_col).alias("k"),
            _epoch_us(self.ts_col).alias("tu"),
            F.col(self.id_col).alias("eid"),
        )

    def _events_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("events")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "tu", "eid")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _stats_of(self, ev: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.timeseries import session_stats_us

        if ev is None:
            return None
        return session_stats_us(
            ev, key_col="k", tu_col="tu", id_col="eid", gap_us=self.gap_us
        )

    def current(self) -> Optional[DataFrame]:
        """The full maintained result, recomputed from state — the
        equality-gate read; per-epoch diffs never take this path."""

        out = self._stats_of(self._events_state())
        if out is None:
            return None
        return out.withColumnRenamed("k", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "tu", "eid"],
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy("k", "tu", "eid")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._events_state()
        old = (
            None
            if before is None
            else self._stats_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("events", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._events_state()
            if consolidated is not None:
                self._compact("events", consolidated)
        after = self._events_state()
        new = (
            None
            if after is None
            else self._stats_of(after.join(touched, "k", "left_semi"))
        )
        cols = [
            "k", "session_seq", "n_events", "start_us", "end_us",
            "duration_s",
        ]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("k", self.key_col)
        )


class IncrementalResample(_GenerationalState):
    """Maintained regular-grid LOCF resampling (operators/
    timeseries.py::resample_locf). State: signed support counts of
    the observations as (key, tu, eid, value, cnt) — set semantics
    per event id, like IncrementalSessionize. ``process_batch``
    returns (key, grid_us, value, diff): retracting an observation
    re-extends its predecessor's validity interval (and can shrink
    the key's grid span); touched-key recompute through the shared
    :func:`resample_locf_us` core handles both exactly."""

    KEY_COL = "user_id"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        value_col: str = "value",
        grid_seconds: int = 3600,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.value_col = value_col
        self.grid_us = grid_seconds * 1_000_000

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return events.select(
            F.col(self.key_col).alias("k"),
            _epoch_us(self.ts_col).alias("tu"),
            F.col(self.id_col).alias("eid"),
            F.col(self.value_col).cast("double").alias("value"),
        )

    def _events_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("events")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "tu", "eid", "value")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _series_of(self, ev: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.timeseries import resample_locf_us

        if ev is None:
            return None
        return resample_locf_us(
            ev,
            key_col="k",
            tu_col="tu",
            value_col="value",
            id_col="eid",
            grid_us=self.grid_us,
        )

    def current(self) -> Optional[DataFrame]:
        out = self._series_of(self._events_state())
        if out is None:
            return None
        return out.withColumnRenamed("k", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "tu", "eid", "value"],
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy("k", "tu", "eid", "value")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._events_state()
        old = (
            None
            if before is None
            else self._series_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("events", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._events_state()
            if consolidated is not None:
                self._compact("events", consolidated)
        after = self._events_state()
        new = (
            None
            if after is None
            else self._series_of(after.join(touched, "k", "left_semi"))
        )
        cols = ["k", "grid_us", "value"]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("k", self.key_col)
        )


class IncrementalAnomalies(_GenerationalState):
    """Maintained rolling z-score anomalies (operators/timeseries.py::
    rolling_zscore). State: signed per-event-id observation support,
    (key, tu, eid, value, cnt) — the IncrementalResample shape.
    ``process_batch`` returns (key, eid, value, z, diff): adding or
    retracting an observation shifts the trailing moments of every
    LATER event of that key within window reach, so flags can appear
    and disappear away from the touched timestamps — the touched-key
    recompute through the shared :func:`rolling_zscore_us` core
    re-derives the whole key exactly."""

    KEY_COL = "user_id"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        value_col: str = "value",
        window_seconds: int = 604_800,
        min_n: int = 8,
        threshold: float = 2.0,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.value_col = value_col
        self.window_us = window_seconds * 1_000_000
        self.min_n = min_n
        self.threshold = threshold

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return events.select(
            F.col(self.key_col).alias("k"),
            _epoch_us(self.ts_col).alias("tu"),
            F.col(self.id_col).alias("eid"),
            F.col(self.value_col).cast("double").alias("value"),
        )

    def _events_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("events")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "tu", "eid", "value")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _flags_of(self, ev: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.timeseries import rolling_zscore_us

        if ev is None:
            return None
        return rolling_zscore_us(
            ev,
            key_col="k",
            tu_col="tu",
            value_col="value",
            id_col="eid",
            window_us=self.window_us,
            min_n=self.min_n,
            threshold=self.threshold,
        )

    def current(self) -> Optional[DataFrame]:
        out = self._flags_of(self._events_state())
        if out is None:
            return None
        return out.withColumnRenamed("k", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "tu", "eid", "value"],
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy("k", "tu", "eid", "value")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._events_state()
        old = (
            None
            if before is None
            else self._flags_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("events", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._events_state()
            if consolidated is not None:
                self._compact("events", consolidated)
        after = self._events_state()
        new = (
            None
            if after is None
            else self._flags_of(after.join(touched, "k", "left_semi"))
        )
        cols = ["k", "eid", "value", "z"]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("k", self.key_col)
        )


class IncrementalChangepoint(_GenerationalState):
    """Maintained two-sided mean-shift profile (operators/
    timeseries.py::changepoint). State: signed per-(key, bucket) bin
    contributions (k, bucket, s DECIMAL, c) — retractions append the
    NEGATED sums, so consolidation is one groupBy sum and bins whose
    events all retract vanish (c <= 0). ``process_batch`` returns
    (key, bucket, left_mean, right_mean, mean_shift, diff): touching
    one bin shifts every window containing it, so profile rows up to
    ``window`` bins away appear/disappear — the touched-key recompute
    through the shared :func:`changepoint_from_daily` core re-derives
    the whole key exactly (keys are few — event types, sources,
    metrics — while bins per key grow with history; at larger key
    cardinality the recompute could narrow to a bucket-range
    left_semi, the state shape already supports it)."""

    KEY_COL = "k"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "event_type",
        ts_col: str = "ts",
        value_col: str = "value",
        bucket_seconds: int = 86_400,
        window: int = 7,
        min_shift: float = 0.0,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.bucket_us = bucket_seconds * 1_000_000
        self.window = window
        self.min_shift = min_shift

    def _project(self, events: DataFrame, sign: int) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return (
            events.select(
                F.col(self.key_col).alias("k"),
                F.floor(_epoch_us(self.ts_col) / self.bucket_us).alias(
                    "bucket"
                ),
                F.col(self.value_col).cast("decimal(18,6)").alias("v"),
            )
            .groupBy("k", "bucket")
            .agg(
                (F.sum("v") * sign).cast("decimal(28,6)").alias("s"),
                (F.count(F.lit(1)) * sign).alias("c"),
            )
        )

    def _bins_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("bins")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "bucket")
            .agg(
                F.sum("s").cast("decimal(28,6)").alias("s"),
                F.sum("c").alias("c"),
            )
            .filter(F.col("c") > 0)
        )

    def _profile_of(self, bins: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.timeseries import changepoint_from_daily

        if bins is None:
            return None
        return changepoint_from_daily(
            bins.select(F.col("k").alias("key"), "bucket", "s", "c"),
            window=self.window,
            min_shift=self.min_shift,
        )

    def current(self) -> Optional[DataFrame]:
        out = self._profile_of(self._bins_state())
        if out is None:
            return None
        return out.withColumnRenamed("key", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        parts = []
        if adds is not None:
            parts.append(self._project(adds, 1))
        if retracts is not None:
            parts.append(self._project(retracts, -1))
        if not parts:
            return None
        delta = parts[0] if len(parts) == 1 else parts[0].unionByName(
            parts[1]
        )
        delta = (
            delta.groupBy("k", "bucket")
            .agg(
                F.sum("s").cast("decimal(28,6)").alias("s"),
                F.sum("c").alias("c"),
            )
            .filter((F.col("c") != 0) | (F.col("s") != 0))
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._bins_state()
        old = (
            None
            if before is None
            else self._profile_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("bins", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._bins_state()
            if consolidated is not None:
                self._compact("bins", consolidated)
        after = self._bins_state()
        new = (
            None
            if after is None
            else self._profile_of(after.join(touched, "k", "left_semi"))
        )
        cols = ["key", "bucket", "left_mean", "right_mean", "mean_shift"]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("key", self.key_col)
        )


class IncrementalAttribution(_GenerationalState):
    """Maintained last-touch attribution (operators/timeseries.py::
    last_touch_attribution): per-conversion credit kept up to date
    under streaming adds AND retractions. A conversion's credited
    touch depends only on its OWN key's events, so this is the
    IncrementalFunnel discipline verbatim — signed support rows keyed
    (k, event_id, type, tu), touched keys re-derived through the SAME
    batch core, new-minus-old ±1 diffs on the attribution rows.
    Retracting a credited touch re-credits its conversions to the
    next-latest touch exactly (the old rows retract, the re-derived
    rows assert); retracting a conversion retracts its row."""

    KEY_COL = "user_id"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        conversion: str = "purchase",
        touches: tuple = ("click", "view"),
        key_col: str = "user_id",
        ts_col: str = "ts",
        type_col: str = "event_type",
        id_col: str = "event_id",
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.conversion = conversion
        self.touches = tuple(touches)
        self.key_col = key_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.id_col = id_col

    def _project(self, events: DataFrame) -> DataFrame:
        from ..operators.timeseries import _epoch_us

        return events.filter(
            F.col(self.type_col).isin([self.conversion, *self.touches])
        ).select(
            F.col(self.key_col).alias("k"),
            F.col(self.id_col).alias("event_id"),
            F.col(self.type_col).alias("t"),
            _epoch_us(self.ts_col).alias("tu"),
        )

    def _events_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("events")
        if inc is None:
            return None
        return (
            inc.groupBy("k", "event_id", "t", "tu")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _attrib_of(self, ev: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.timeseries import last_touch_attribution

        if ev is None:
            return None
        return last_touch_attribution(
            ev,
            conversion=self.conversion,
            touches=self.touches,
            key_col="k",
            type_col="t",
            id_col="event_id",
            tu_col="tu",
        )

    def current(self) -> Optional[DataFrame]:
        """Full maintained result recomputed from state — the
        equality-gate read; per-epoch diffs never take this path."""

        out = self._attrib_of(self._events_state())
        if out is None:
            return None
        return out.withColumnRenamed("user_id", self.key_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            ["k", "event_id", "t", "tu"],
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy("k", "event_id", "t", "tu")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("k").distinct()
        before = self._events_state()
        old = (
            None
            if before is None
            else self._attrib_of(
                before.join(touched, "k", "left_semi")
            ).transform(materialize)
        )
        self._append("events", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._events_state()
            if consolidated is not None:
                self._compact("events", consolidated)
        after = self._events_state()
        new = (
            None
            if after is None
            else self._attrib_of(after.join(touched, "k", "left_semi"))
        )
        cols = [
            "event_id", "user_id", "conv_tu",
            "touch_event_id", "touch_type", "gap_us",
        ]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("user_id", self.key_col)
        )


class IncrementalAsOf(_GenerationalState):
    """Maintained bitemporal as-of view (operators/bitemporal.py::
    as_of): corrections arriving live as new (e, ev_t, sys_t, v[,
    retracted]) rows — the reference's bitemporal correction tests
    (tests/input_semantics.rs:337-510) run as a stream — with the
    visible state per (entity, event-time) kept current per epoch.
    Completes the §2.6 bitemporal story the way the other maintained
    twins complete theirs: same batch core, churn-equality by
    construction.

    A fact's visible row depends only on its OWN (e, ev_t) history,
    so this is the IncrementalAttribution discipline verbatim: signed
    fact rows keyed (e, ev_t, sys_t, v, retracted); per epoch the
    touched ENTITIES re-derive old and new through the SAME
    :func:`..operators.bitemporal.as_of` core and emit new-minus-old
    ±1 diffs. A late correction (higher sys_t) retracts the previously
    visible row and asserts itself; a correction with
    ``retracted=true`` retracts without asserting (the delete case);
    retracting a correction row resurfaces the one beneath it —
    exactly, because the touched entities re-derive from surviving
    state.

    ``as_of_sys`` pins the observation point; the default None means
    "latest knowledge" (every correction visible) — the live-view
    deployment. Per-epoch compute is O(batch + touched entities'
    history); persistence is the shared append-only generational
    machinery."""

    KEY_COL = "e"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        as_of_sys=None,
        e_col: str = "e",
        ev_col: str = "ev_t",
        sys_col: str = "sys_t",
        v_col: str = "v",
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir.rstrip("/")
        self.as_of_sys = as_of_sys
        self.e_col = e_col
        self.ev_col = ev_col
        self.sys_col = sys_col
        self.v_col = v_col

    @property
    def _cols(self) -> list[str]:
        return ["e", "ev_t", "sys_t", "v", "retracted"]

    def _project(self, facts: DataFrame) -> DataFrame:
        retracted = (
            F.coalesce(F.col("retracted"), F.lit(False))
            if "retracted" in facts.columns
            else F.lit(False)
        )
        return facts.select(
            F.col(self.e_col).alias("e"),
            F.col(self.ev_col).alias("ev_t"),
            F.col(self.sys_col).alias("sys_t"),
            F.col(self.v_col).alias("v"),
            retracted.alias("retracted"),
        )

    def _facts_state(self) -> Optional[DataFrame]:
        inc = self._read_versioned("facts")
        if inc is None:
            return None
        return (
            inc.groupBy(*self._cols)
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") > 0)
        )

    def _view_of(self, facts: Optional[DataFrame]) -> Optional[DataFrame]:
        from ..operators.bitemporal import as_of

        if facts is None:
            return None
        sys_hi = (
            self.as_of_sys if self.as_of_sys is not None else (1 << 62)
        )
        return as_of(
            facts, sys_hi, ["e"], ev_col="ev_t", sys_col="sys_t"
        ).select("e", "ev_t", "sys_t", "v")

    def current(self) -> Optional[DataFrame]:
        """Full maintained as-of view recomputed from state — the
        equality-gate read; per-epoch diffs never take this path."""

        out = self._view_of(self._facts_state())
        if out is None:
            return None
        return out.withColumnRenamed("e", self.e_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> Optional[DataFrame]:
        delta = _signed_union(
            None if adds is None else self._project(adds),
            None if retracts is None else self._project(retracts),
            self._cols,
        )
        if delta is None:
            return None
        delta = (
            delta.groupBy(*self._cols)
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .transform(materialize)
        )
        touched = delta.select("e").distinct()
        before = self._facts_state()
        old = (
            None
            if before is None
            else self._view_of(
                before.join(touched, "e", "left_semi")
            ).transform(materialize)
        )
        self._append("facts", delta, epoch=epoch)
        self._epochs = getattr(self, "_epochs", 0) + 1
        if self._epochs % self.compact_every == 0:
            consolidated = self._facts_state()
            if consolidated is not None:
                self._compact("facts", consolidated)
        after = self._facts_state()
        new = (
            None
            if after is None
            else self._view_of(after.join(touched, "e", "left_semi"))
        )
        cols = ["e", "ev_t", "sys_t", "v"]

        def tag(df: Optional[DataFrame], w: int) -> Optional[DataFrame]:
            if df is None:
                return None
            return df.select(*cols, F.lit(w).alias("diff"))

        olds, news = tag(old, -1), tag(new, 1)
        if olds is None and news is None:
            return None
        both = news if olds is None else (
            olds if news is None else olds.unionByName(news)
        )
        return (
            both.groupBy(*cols)
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .withColumnRenamed("e", self.e_col)
        )
