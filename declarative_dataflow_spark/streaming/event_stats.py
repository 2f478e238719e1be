"""Incrementally-maintained event analytics under streaming adds AND
retractions: funnel depth, cohort retention, session statistics,
LOCF resampling, rolling z-score anomalies, the mean-shift changepoint
profile, last-touch attribution, and the bitemporal as-of view.

Each result is a per-key function of the key's OWN events, so every
maintainer here is a :class:`~.generational._TouchedKeyMaintainer`:
one touched-key epoch (consolidate the signed delta, re-derive the
old and new results of exactly the touched keys through the SAME
batch core in ``operators/``, emit new-minus-old diffs) on the one
generational store with lossless compaction (ADR 0011). A class here
declares only its projection, its state table and weights, its batch
core and its output key.

Per-epoch compute is O(batch + touched keys' state rows) — never a
scan of untouched keys; per-epoch persistence is an O(batch) append.
Retraction needs no DRed machinery: a key's result depends only on
its own surviving events, so re-deriving the touched keys from state
is already exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import timeseries as ts
from ..operators.timeseries import _epoch_us
from .generational import _TouchedKeyMaintainer


class IncrementalFunnel(_TouchedKeyMaintainer):
    """Maintained ordered-funnel depths (operators/timeseries.py::
    funnel). State: signed support counts of the step-typed events,
    (k, t, tu, cnt); events of other types are dropped at the door.
    Diffs are (key, depth, t1..tk, diff): -1 retracts a key's previous
    funnel row and +1 asserts the new one."""

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
        super().__init__(spark, state_dir)
        self.steps = list(steps)
        self.key_col = key_col
        self.ts_col = ts_col
        self.type_col = type_col

    def _project(self, events: DataFrame) -> DataFrame:
        return events.filter(F.col(self.type_col).isin(self.steps)).select(
            F.col(self.key_col).alias("k"),
            F.col(self.type_col).alias("t"),
            _epoch_us(self.ts_col).alias("tu"),
        )

    def _core(self, ev: DataFrame) -> DataFrame:
        return ts.funnel_us(
            ev, self.steps, key_col="k", tu_col="tu", type_col="t"
        )


class IncrementalRetention(_TouchedKeyMaintainer):
    """Maintained cohort retention (operators/timeseries.py::
    retention). State: signed support counts of the (key,
    period-bucket) activity — N events in one bucket give cnt=N, so the
    bucket stays live until its LAST event retracts, matching the
    batch operator's distinct() over surviving events. Diffs are
    (cohort, offset, diff) count deltas; retracting a key's earliest
    activity re-cohorts the key exactly."""

    WEIGHTS = {"activity": ("cnt",)}
    OUT_KEY = None
    DIFF_WEIGHT = "n_users"

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        period_seconds: int = 86_400,
    ) -> None:
        super().__init__(spark, state_dir)
        self.key_col = key_col
        self.ts_col = ts_col
        self.period_us = period_seconds * 1_000_000

    def _project(self, events: DataFrame) -> DataFrame:
        epoch = _epoch_us(self.ts_col)
        us = F.lit(self.period_us)
        bucket = ((epoch - epoch % us) / us).cast("long")
        return events.select(
            F.col(self.key_col).alias("k"), bucket.alias("bucket")
        )

    def _core(self, act: DataFrame) -> DataFrame:
        return ts.retention_from_activity(
            act.select("k", "bucket"), key_col="k", bucket_col="bucket"
        )


class IncrementalSessionize(_TouchedKeyMaintainer):
    """Maintained per-session statistics (operators/timeseries.py::
    session_stats). State: (k, tu, eid, cnt) — SET semantics per event
    id (present while its support is positive), matching the batch
    operator over a stream of unique event ids. Retracting a bridging
    event can SPLIT a session or renumber every later session of the
    key; the touched-key recompute retracts the old rows in full and
    asserts the re-derived ones."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        key_col: str = "user_id",
        ts_col: str = "ts",
        id_col: str = "event_id",
        gap_seconds: int = 1800,
    ) -> None:
        super().__init__(spark, state_dir)
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.gap_us = gap_seconds * 1_000_000

    def _project(self, events: DataFrame) -> DataFrame:
        return events.select(
            F.col(self.key_col).alias("k"),
            _epoch_us(self.ts_col).alias("tu"),
            F.col(self.id_col).alias("eid"),
        )

    def _core(self, ev: DataFrame) -> DataFrame:
        return ts.session_stats_us(
            ev, key_col="k", tu_col="tu", id_col="eid", gap_us=self.gap_us
        )


class _Observations(_TouchedKeyMaintainer):
    """State shape shared by resample and anomalies: signed per-event-id
    observation support, (k, tu, eid, value, cnt)."""

    def _project(self, events: DataFrame) -> DataFrame:
        return events.select(
            F.col(self.key_col).alias("k"),
            _epoch_us(self.ts_col).alias("tu"),
            F.col(self.id_col).alias("eid"),
            F.col(self.value_col).cast("double").alias("value"),
        )


class IncrementalResample(_Observations):
    """Maintained regular-grid LOCF resampling (operators/
    timeseries.py::resample_locf). Retracting an observation
    re-extends its predecessor's validity interval (and can shrink the
    key's grid span). Diffs are (key, grid_us, value, diff)."""

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
        super().__init__(spark, state_dir)
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.value_col = value_col
        self.grid_us = grid_seconds * 1_000_000

    def _core(self, ev: DataFrame) -> DataFrame:
        return ts.resample_locf_us(
            ev, key_col="k", tu_col="tu", value_col="value", id_col="eid",
            grid_us=self.grid_us,
        )


class IncrementalAnomalies(_Observations):
    """Maintained rolling z-score anomalies (operators/timeseries.py::
    rolling_zscore). Adding or retracting an observation shifts the
    trailing moments of every LATER event of the key within window
    reach, so flags appear and disappear away from the touched
    timestamps; the key is re-derived whole. Diffs are (eid, key,
    value, z, diff)."""

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
        super().__init__(spark, state_dir)
        self.key_col = key_col
        self.ts_col = ts_col
        self.id_col = id_col
        self.value_col = value_col
        self.window_us = window_seconds * 1_000_000
        self.min_n = min_n
        self.threshold = threshold

    def _core(self, ev: DataFrame) -> DataFrame:
        return ts.rolling_zscore_us(
            ev, key_col="k", tu_col="tu", value_col="value", id_col="eid",
            window_us=self.window_us, min_n=self.min_n,
            threshold=self.threshold,
        )


class IncrementalChangepoint(_TouchedKeyMaintainer):
    """Maintained two-sided mean-shift profile (operators/
    timeseries.py::changepoint). State: signed per-(key, bucket) bin
    contributions (k, bucket, s DECIMAL, c) — a retraction appends the
    NEGATED sums, and a bin is live while c > 0. Touching one bin
    shifts every window containing it, so the key is re-derived whole
    (keys are few — event types, sources, metrics — while bins per key
    grow with history; at larger key cardinality the slice could
    narrow to a bucket range). Diffs are (key, bucket, left_mean,
    right_mean, mean_shift, diff)."""

    WEIGHTS = {"bins": ("s", "c")}
    OUT_KEY = "key"

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
        super().__init__(spark, state_dir)
        self.key_col = key_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.bucket_us = bucket_seconds * 1_000_000
        self.window = window
        self.min_shift = min_shift

    def _signed(self, events: DataFrame, sign: int) -> DataFrame:
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

    def _core(self, bins: DataFrame) -> DataFrame:
        return ts.changepoint_from_daily(
            bins.select(F.col("k").alias("key"), "bucket", "s", "c"),
            window=self.window,
            min_shift=self.min_shift,
        )


class IncrementalAttribution(_TouchedKeyMaintainer):
    """Maintained last-touch attribution (operators/timeseries.py::
    last_touch_attribution). A conversion's credited touch depends only
    on its OWN key's events. State: signed support rows (k, event_id,
    t, tu, cnt). Retracting a credited touch re-credits its conversions
    to the next-latest touch exactly; retracting a conversion retracts
    its row."""

    OUT_KEY = "user_id"

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
        super().__init__(spark, state_dir)
        self.conversion = conversion
        self.touches = tuple(touches)
        self.key_col = key_col
        self.ts_col = ts_col
        self.type_col = type_col
        self.id_col = id_col

    def _project(self, events: DataFrame) -> DataFrame:
        return events.filter(
            F.col(self.type_col).isin([self.conversion, *self.touches])
        ).select(
            F.col(self.key_col).alias("k"),
            F.col(self.id_col).alias("event_id"),
            F.col(self.type_col).alias("t"),
            _epoch_us(self.ts_col).alias("tu"),
        )

    def _core(self, ev: DataFrame) -> DataFrame:
        return ts.last_touch_attribution(
            ev, conversion=self.conversion, touches=self.touches,
            key_col="k", type_col="t", id_col="event_id", tu_col="tu",
        )


class IncrementalAsOf(_TouchedKeyMaintainer):
    """Maintained bitemporal as-of view (operators/bitemporal.py::
    as_of): corrections arriving live as (e, ev_t, sys_t, v[,
    retracted]) rows — the reference's bitemporal correction tests
    (tests/input_semantics.rs:337-510) run as a stream. A fact's
    visible row depends only on its OWN entity's history, so the
    touched ENTITIES re-derive. A late correction (higher sys_t)
    retracts the previously visible row and asserts itself; a
    correction with ``retracted=true`` retracts without asserting;
    retracting a correction row resurfaces the one beneath it.

    ``as_of_sys`` pins the observation point; the default None means
    "latest knowledge" (every correction visible)."""

    WEIGHTS = {"facts": ("cnt",)}

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
        super().__init__(spark, state_dir)
        self.as_of_sys = as_of_sys
        self.key_col = e_col
        self.ev_col = ev_col
        self.sys_col = sys_col
        self.v_col = v_col

    def _project(self, facts: DataFrame) -> DataFrame:
        retracted = (
            F.coalesce(F.col("retracted"), F.lit(False))
            if "retracted" in facts.columns
            else F.lit(False)
        )
        return facts.select(
            F.col(self.key_col).alias("k"),
            F.col(self.ev_col).alias("ev_t"),
            F.col(self.sys_col).alias("sys_t"),
            F.col(self.v_col).alias("v"),
            retracted.alias("retracted"),
        )

    def _core(self, facts: DataFrame) -> DataFrame:
        from ..operators.bitemporal import as_of

        sys_hi = self.as_of_sys if self.as_of_sys is not None else (1 << 62)
        return as_of(
            facts, sys_hi, ["k"], ev_col="ev_t", sys_col="sys_t"
        ).select("k", "ev_t", "sys_t", "v")
