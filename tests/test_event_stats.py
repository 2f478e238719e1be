"""Maintained event analytics (streaming/event_stats.py): funnel and
cohort retention under add/retract epochs — equality with the batch
operators (operators/timeseries.py) across deterministic and
randomized churn, diff-stream consistency, and retraction cases that
force re-derivation (chain breaks, re-cohorting)."""

import datetime as dt
import random

import pytest

from declarative_dataflow_spark.operators import timeseries
from declarative_dataflow_spark.streaming.event_stats import (
    IncrementalFunnel,
    IncrementalRetention,
)


def _ts(day, hour, minute=0):
    return dt.datetime(2024, 1, day, hour, minute)


EV_COLS = ["event_id", "ts", "user_id", "event_type"]


def _df(spark, rows):
    return spark.createDataFrame(rows, EV_COLS)


def _funnel_rows(df, steps):
    out = timeseries.funnel(df, steps).collect()
    return sorted(tuple(r) for r in out)


def _retention_rows(df):
    out = timeseries.retention(df, period_seconds=86_400).collect()
    return sorted(tuple(r) for r in out)


# ---------------------------------------------------------------------------
# IncrementalFunnel
# ---------------------------------------------------------------------------


def test_incremental_funnel_adds_deepen_and_diffs(spark, tmp_path):
    steps = ["view", "click", "buy"]
    inc = IncrementalFunnel(spark, str(tmp_path / "f"), steps)

    e1 = [(1, _ts(1, 1), 1, "view")]
    d1 = inc.process_batch(adds=_df(spark, e1), epoch=0).collect()
    assert [(r["user_id"], r["depth"], r["diff"]) for r in d1] == [(1, 1, 1)]

    e2 = [(2, _ts(1, 2), 1, "click"), (3, _ts(1, 3), 1, "buy")]
    d2 = {(r["user_id"], r["depth"]): r["diff"] for r in
          inc.process_batch(adds=_df(spark, e2), epoch=1).collect()}
    # old depth-1 row retracted, new depth-3 row asserted
    assert d2 == {(1, 1): -1, (1, 3): 1}

    live = _df(spark, e1 + e2)
    assert sorted(tuple(r) for r in inc.current().collect()) == _funnel_rows(
        live, steps
    )


def test_incremental_funnel_retraction_breaks_chain(spark, tmp_path):
    steps = ["view", "click"]
    inc = IncrementalFunnel(spark, str(tmp_path / "f"), steps)
    rows = [
        (1, _ts(1, 1), 1, "view"),
        (2, _ts(1, 2), 1, "click"),
        (3, _ts(1, 1), 2, "view"),
    ]
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    # retract user 1's click -> depth falls back to 1
    d = {(r["user_id"], r["depth"]): r["diff"] for r in
         inc.process_batch(retracts=_df(spark, [rows[1]]), epoch=1).collect()}
    assert d == {(1, 2): -1, (1, 1): 1}
    live = _df(spark, [rows[0], rows[2]])
    assert sorted(tuple(r) for r in inc.current().collect()) == _funnel_rows(
        live, steps
    )


def test_incremental_funnel_untouched_keys_emit_nothing(spark, tmp_path):
    steps = ["view", "click"]
    inc = IncrementalFunnel(spark, str(tmp_path / "f"), steps)
    base = [
        (i, _ts(1, 1), u, t)
        for i, (u, t) in enumerate(
            [(u, t) for u in range(10) for t in ("view", "click")]
        )
    ]
    inc.process_batch(adds=_df(spark, base), epoch=0)
    d = inc.process_batch(
        adds=_df(spark, [(100, _ts(1, 5), 3, "view")]), epoch=1
    ).collect()
    assert {r["user_id"] for r in d} <= {3}


def test_incremental_funnel_randomized_churn_equals_batch(spark, tmp_path):
    rng = random.Random(43)
    steps = ["a", "b", "c"]
    inc = IncrementalFunnel(spark, str(tmp_path / "f"), steps)
    base = dt.datetime(2024, 1, 1)
    live = {}
    next_id = 0
    for epoch in range(6):
        adds = []
        for _ in range(rng.randrange(3, 9)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(10_000)),
                    rng.randrange(4),
                    rng.choice(steps + ["x"]),
                )
            )
            next_id += 1
        retracts = []
        if live and epoch >= 2:
            for rid in rng.sample(sorted(live), min(3, len(live))):
                retracts.append(live[rid])
        inc.process_batch(
            adds=_df(spark, adds) if adds else None,
            retracts=_df(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        for row in adds:
            live[row[0]] = row
        for row in retracts:
            del live[row[0]]
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _funnel_rows(_df(spark, list(live.values())), steps)
        assert got == want, f"epoch {epoch}"


def test_incremental_funnel_diff_stream_folds_to_current(spark, tmp_path):
    """Accumulating every epoch's diffs reproduces current() — the
    subscription-sink contract."""

    rng = random.Random(47)
    steps = ["a", "b"]
    inc = IncrementalFunnel(spark, str(tmp_path / "f"), steps)
    base = dt.datetime(2024, 1, 1)
    acc = {}
    next_id = 0
    for epoch in range(4):
        adds = [
            (
                next_id + j,
                base + dt.timedelta(seconds=rng.randrange(5_000)),
                rng.randrange(3),
                rng.choice(steps),
            )
            for j in range(4)
        ]
        next_id += 4
        diffs = inc.process_batch(adds=_df(spark, adds), epoch=epoch)
        for r in diffs.collect():
            key = tuple(r)[:-1]
            acc[key] = acc.get(key, 0) + r["diff"]
    folded = sorted(k for k, w in acc.items() if w != 0)
    assert folded == sorted(tuple(r) for r in inc.current().collect())


# ---------------------------------------------------------------------------
# IncrementalRetention
# ---------------------------------------------------------------------------


def test_incremental_retention_recohorts_on_retraction(spark, tmp_path):
    inc = IncrementalRetention(spark, str(tmp_path / "r"))
    rows = [
        (1, _ts(1, 5), 1, "view"),   # user 1 cohort day0
        (2, _ts(2, 5), 1, "view"),   # active day1 (offset 1)
        (3, _ts(2, 5), 2, "view"),   # user 2 cohort day1
    ]
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    day0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    got = {(r["cohort"], r["offset"]): r["n_users"] for r in inc.current().collect()}
    assert got == {(day0, 0): 1, (day0, 1): 1, (day0 + 1, 0): 1}

    # retract user 1's day0 event: cohort moves to day1
    d = {(r["cohort"], r["offset"]): r["diff"] for r in
         inc.process_batch(retracts=_df(spark, [rows[0]]), epoch=1).collect()}
    assert d == {(day0, 0): -1, (day0, 1): -1, (day0 + 1, 0): 1}
    live = _df(spark, rows[1:])
    assert sorted(tuple(r) for r in inc.current().collect()) == _retention_rows(
        live
    )


def test_incremental_retention_duplicate_support_counts(spark, tmp_path):
    """Two events in the same (user, day): retracting one keeps the
    bucket alive, retracting both kills it — multiset semantics of the
    batch operator's distinct over surviving events."""

    inc = IncrementalRetention(spark, str(tmp_path / "r"))
    rows = [
        (1, _ts(1, 5), 1, "view"),
        (2, _ts(1, 7), 1, "view"),
    ]
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    d1 = inc.process_batch(retracts=_df(spark, [rows[0]]), epoch=1)
    assert d1.collect() == []  # bucket still supported
    d2 = inc.process_batch(retracts=_df(spark, [rows[1]]), epoch=2).collect()
    assert len(d2) == 1 and d2[0]["diff"] == -1
    assert inc.current().collect() == []


def test_incremental_retention_randomized_churn_equals_batch(spark, tmp_path):
    rng = random.Random(53)
    inc = IncrementalRetention(spark, str(tmp_path / "r"))
    base = dt.datetime(2024, 1, 1)
    live = {}
    next_id = 0
    for epoch in range(6):
        adds = []
        for _ in range(rng.randrange(4, 10)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(400_000)),
                    rng.randrange(6),
                    "view",
                )
            )
            next_id += 1
        retracts = []
        if live and epoch >= 2:
            for rid in rng.sample(sorted(live), min(4, len(live))):
                retracts.append(live[rid])
        inc.process_batch(
            adds=_df(spark, adds) if adds else None,
            retracts=_df(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        for row in adds:
            live[row[0]] = row
        for row in retracts:
            del live[row[0]]
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _retention_rows(_df(spark, list(live.values())))
        assert got == want, f"epoch {epoch}"


def test_incremental_retention_retried_epoch_is_idempotent(spark, tmp_path):
    inc = IncrementalRetention(spark, str(tmp_path / "r"))
    rows = [(1, _ts(1, 5), 1, "view"), (2, _ts(2, 5), 2, "view")]
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    once = sorted(tuple(r) for r in inc.current().collect())
    # the same epoch replayed (foreachBatch at-least-once) replaces its
    # own contribution instead of double-counting
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    assert sorted(tuple(r) for r in inc.current().collect()) == once


# ---------------------------------------------------------------------------
# IncrementalSessionize
# ---------------------------------------------------------------------------

from declarative_dataflow_spark.streaming.event_stats import (  # noqa: E402
    IncrementalSessionize,
)


def _session_rows(df, gap_seconds=1800):
    out = timeseries.session_stats(df, gap_seconds=gap_seconds).collect()
    return sorted(tuple(r) for r in out)


def test_incremental_sessionize_retraction_splits_session(spark, tmp_path):
    inc = IncrementalSessionize(spark, str(tmp_path / "s"), gap_seconds=1800)
    # three events 20 min apart: one session only while the middle
    # event bridges the 40-min outer gap.
    rows = [
        (1, _ts(1, 1, 0), 7, "view"),
        (2, _ts(1, 1, 20), 7, "view"),
        (3, _ts(1, 1, 40), 7, "view"),
    ]
    inc.process_batch(adds=_df(spark, rows), epoch=0)
    assert [
        (r["user_id"], r["session_seq"], r["n_events"])
        for r in inc.current().collect()
    ] == [(7, 1, 3)]

    diffs = {
        (r["user_id"], r["session_seq"], r["n_events"]): r["diff"]
        for r in inc.process_batch(
            retracts=_df(spark, [rows[1]]), epoch=1
        ).collect()
    }
    # the single 3-event session retracts; two 1-event sessions assert
    assert diffs == {(7, 1, 3): -1, (7, 1, 1): 1, (7, 2, 1): 1}
    live = _df(spark, [rows[0], rows[2]])
    assert sorted(tuple(r) for r in inc.current().collect()) == _session_rows(
        live
    )


def test_incremental_sessionize_duplicate_event_ids_idempotent(spark, tmp_path):
    inc = IncrementalSessionize(spark, str(tmp_path / "s"))
    row = (1, _ts(1, 1), 7, "view")
    inc.process_batch(adds=_df(spark, [row, row]), epoch=0)
    # double-asserted id is ONE event
    assert [
        (r["session_seq"], r["n_events"]) for r in inc.current().collect()
    ] == [(1, 1)]
    # one retraction leaves support 1 -> still present
    inc.process_batch(retracts=_df(spark, [row]), epoch=1)
    assert inc.current().count() == 1
    # the second retraction removes it
    inc.process_batch(retracts=_df(spark, [row]), epoch=2)
    assert inc.current().count() == 0


def test_incremental_sessionize_randomized_churn_equals_batch(spark, tmp_path):
    rng = random.Random(47)
    inc = IncrementalSessionize(spark, str(tmp_path / "s"), gap_seconds=600)
    base = dt.datetime(2024, 1, 1)
    live = {}
    next_id = 0
    for epoch in range(6):
        adds = []
        for _ in range(rng.randrange(3, 9)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(8_000)),
                    rng.randrange(3),
                    "view",
                )
            )
            next_id += 1
        retracts = []
        if live and epoch >= 2:
            for rid in rng.sample(sorted(live), min(3, len(live))):
                retracts.append(live[rid])
        inc.process_batch(
            adds=_df(spark, adds) if adds else None,
            retracts=_df(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        for row in adds:
            live[row[0]] = row
        for row in retracts:
            del live[row[0]]
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _session_rows(_df(spark, list(live.values())), gap_seconds=600)
        assert got == want, f"epoch {epoch}"


def test_incremental_sessionize_diff_stream_folds_to_current(spark, tmp_path):
    rng = random.Random(48)
    inc = IncrementalSessionize(spark, str(tmp_path / "s"), gap_seconds=600)
    base = dt.datetime(2024, 1, 1)
    folded = {}
    next_id = 0
    for epoch in range(4):
        adds = []
        for _ in range(rng.randrange(2, 6)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(5_000)),
                    rng.randrange(2),
                    "view",
                )
            )
            next_id += 1
        d = inc.process_batch(adds=_df(spark, adds), epoch=epoch)
        for r in d.collect():
            key = (
                r["user_id"], r["session_seq"], r["n_events"],
                r["start_us"], r["end_us"], r["duration_s"],
            )
            folded[key] = folded.get(key, 0) + r["diff"]
    folded = {k for k, v in folded.items() if v != 0}
    assert folded == {
        tuple(r) for r in inc.current().collect()
    }


# ---------------------------------------------------------------------------
# IncrementalResample
# ---------------------------------------------------------------------------

from declarative_dataflow_spark.streaming.event_stats import (  # noqa: E402
    IncrementalResample,
)

EVV_COLS = ["event_id", "ts", "user_id", "value"]


def _vdf(spark, rows):
    return spark.createDataFrame(rows, EVV_COLS)


def _resample_rows(df, grid_seconds=3600):
    out = timeseries.resample_locf(df, grid_seconds=grid_seconds).collect()
    return sorted(tuple(r) for r in out)


def test_incremental_resample_retraction_reextends(spark, tmp_path):
    inc = IncrementalResample(spark, str(tmp_path / "r"), grid_seconds=3600)
    rows = [
        (1, dt.datetime(1970, 1, 1, 0, 0, 0), 7, 1.0),
        (2, dt.datetime(1970, 1, 1, 1, 30, 0), 7, 2.0),
        (3, dt.datetime(1970, 1, 1, 3, 0, 0), 7, 3.0),
    ]
    inc.process_batch(adds=_vdf(spark, rows), epoch=0)
    # ticks: 0h->1.0, 1h->1.0, 2h->2.0, 3h->3.0
    assert sorted(
        (r["grid_us"] // 3_600_000_000, r["value"])
        for r in inc.current().collect()
    ) == [(0, 1.0), (1, 1.0), (2, 2.0), (3, 3.0)]

    diffs = {
        (r["grid_us"] // 3_600_000_000, r["value"]): r["diff"]
        for r in inc.process_batch(
            retracts=_vdf(spark, [rows[1]]), epoch=1
        ).collect()
    }
    # obs 2 retracts: tick 2h re-extends to obs 1's value
    assert diffs == {(2, 2.0): -1, (2, 1.0): 1}
    assert sorted(tuple(r) for r in inc.current().collect()) == (
        _resample_rows(_vdf(spark, [rows[0], rows[2]]))
    )


def test_incremental_resample_randomized_churn_equals_batch(spark, tmp_path):
    rng = random.Random(51)
    inc = IncrementalResample(spark, str(tmp_path / "r"), grid_seconds=1800)
    base = dt.datetime(1970, 1, 1)
    live = {}
    next_id = 0
    for epoch in range(5):
        adds = []
        for _ in range(rng.randrange(3, 8)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(30_000)),
                    rng.randrange(3),
                    float(rng.randint(0, 50)),
                )
            )
            next_id += 1
        retracts = []
        if live and epoch >= 2:
            for rid in rng.sample(sorted(live), min(2, len(live))):
                retracts.append(live[rid])
        inc.process_batch(
            adds=_vdf(spark, adds) if adds else None,
            retracts=_vdf(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        for row in adds:
            live[row[0]] = row
        for row in retracts:
            del live[row[0]]
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _resample_rows(
            _vdf(spark, list(live.values())), grid_seconds=1800
        )
        assert got == want, f"epoch {epoch}"


# ---------------------------------------------------------------------------
# IncrementalAnomalies
# ---------------------------------------------------------------------------

from declarative_dataflow_spark.streaming.event_stats import (  # noqa: E402
    IncrementalAnomalies,
)


def _anomaly_rows(df, **kw):
    out = timeseries.rolling_zscore(df, **kw).collect()
    return sorted(tuple(r) for r in out)


def test_incremental_anomalies_retraction_unflags(spark, tmp_path):
    inc = IncrementalAnomalies(
        spark, str(tmp_path / "a"),
        window_seconds=86_400, min_n=8, threshold=2.0,
    )
    base = [
        (i, dt.datetime(1970, 1, 1) + dt.timedelta(hours=i), 7, 10.0)
        for i in range(1, 9)
    ]
    spike = (9, dt.datetime(1970, 1, 1, 9), 7, 100.0)
    d0 = inc.process_batch(adds=_vdf(spark, base + [spike]), epoch=0)
    assert [(r["eid"], r["diff"]) for r in d0.collect()] == [(9, 1)]

    # retracting two quiet events drops support below min_n: the
    # spike un-flags even though IT was not touched directly
    d1 = inc.process_batch(
        retracts=_vdf(spark, base[:2]), epoch=1
    )
    assert [(r["eid"], r["diff"]) for r in d1.collect()] == [(9, -1)]
    assert inc.current().count() == 0


def test_incremental_anomalies_randomized_churn_equals_batch(spark, tmp_path):
    rng = random.Random(61)
    kw = dict(window_seconds=86_400, min_n=5, threshold=1.5)
    inc = IncrementalAnomalies(spark, str(tmp_path / "a"), **kw)
    base = dt.datetime(1970, 1, 1)
    live = {}
    next_id = 0
    for epoch in range(5):
        adds = []
        for _ in range(rng.randrange(4, 10)):
            adds.append(
                (
                    next_id,
                    base + dt.timedelta(seconds=rng.randrange(90_000)),
                    rng.randrange(3),
                    float(rng.randint(0, 80)),
                )
            )
            next_id += 1
        retracts = []
        if live and epoch >= 2:
            for rid in rng.sample(sorted(live), min(2, len(live))):
                retracts.append(live[rid])
        inc.process_batch(
            adds=_vdf(spark, adds) if adds else None,
            retracts=_vdf(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        for row in adds:
            live[row[0]] = row
        for row in retracts:
            del live[row[0]]
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _anomaly_rows(_vdf(spark, list(live.values())), **kw)
        assert got == want, f"epoch {epoch}"


# ---------------------------------------------------------------------------
# IncrementalChangepoint
# ---------------------------------------------------------------------------

from declarative_dataflow_spark.streaming.event_stats import (  # noqa: E402
    IncrementalChangepoint,
)

CP_COLS = ["event_type", "ts", "value"]


def _cpdf(spark, rows):
    return spark.createDataFrame(rows, CP_COLS)


def _cp_rows(df, **kw):
    out = timeseries.changepoint(df, **kw).collect()
    return sorted(tuple(r) for r in out)


def test_incremental_changepoint_retraction_moves_boundary(spark, tmp_path):
    """A clean step at day 5 flags shift 10 at the boundary; retracting
    the high half's first day moves the boundary bucket's windows —
    profile rows change AWAY from the touched bin (window reach), and
    the diff stream reflects exactly the changed rows."""

    inc = IncrementalChangepoint(
        spark, str(tmp_path / "cp"), window=2
    )
    rows = [
        ("k", dt.datetime(2024, 1, d, 6), 0.0 if d <= 4 else 10.0)
        for d in range(1, 9)
    ]
    d0 = inc.process_batch(adds=_cpdf(spark, rows), epoch=0)
    day1 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
    prof0 = {r["bucket"]: r for r in inc.current().collect()}
    assert prof0[day1 + 4]["mean_shift"] == 10.0
    assert sorted(r["diff"] for r in d0.collect()) == [1] * len(prof0)

    # retract day 5's event: buckets shift left of the old boundary
    d1 = inc.process_batch(
        retracts=_cpdf(spark, [rows[4]]), epoch=1
    )
    live = rows[:4] + rows[5:]
    assert sorted(
        tuple(r) for r in inc.current().collect()
    ) == _cp_rows(_cpdf(spark, live), window=2)
    # diffs: old rows out (-1), new rows in (+1), net folds to current
    net = {}
    for r in list(d0.collect()) + list(d1.collect()):
        key = (r["event_type"], r["bucket"], r["left_mean"],
               r["right_mean"], r["mean_shift"])
        net[key] = net.get(key, 0) + r["diff"]
    folded = sorted(k for k, v in net.items() if v != 0)
    assert folded == sorted(tuple(r) for r in inc.current().collect())


def test_incremental_changepoint_randomized_churn_equals_batch(
    spark, tmp_path
):
    """Randomized multi-epoch add/retract feeds (duplicate (key, day)
    events, multi-key, full-bin retractions) keep current() ==
    batch changepoint on the surviving multiset; a replayed epoch
    (foreachBatch retry) changes nothing."""

    rng = random.Random(83)
    inc = IncrementalChangepoint(
        spark, str(tmp_path / "cp"), window=2
    )
    live = []
    for epoch in range(5):
        adds = [
            (
                f"k{rng.randrange(2)}",
                dt.datetime(2024, 1, 1 + rng.randrange(8), rng.randrange(24)),
                float(rng.randint(-20, 20)),
            )
            for _ in range(rng.randrange(3, 8))
        ]
        retracts = []
        if live and epoch >= 2:
            for idx in sorted(
                rng.sample(range(len(live)), min(2, len(live))),
                reverse=True,
            ):
                retracts.append(live.pop(idx))
        inc.process_batch(
            adds=_cpdf(spark, adds),
            retracts=_cpdf(spark, retracts) if retracts else None,
            epoch=epoch,
        )
        if epoch == 3:  # foreachBatch retry replay: must be a no-op
            inc.process_batch(
                adds=_cpdf(spark, adds),
                retracts=_cpdf(spark, retracts) if retracts else None,
                epoch=epoch,
            )
        live.extend(adds)
        got = sorted(tuple(r) for r in inc.current().collect())
        want = _cp_rows(_cpdf(spark, live), window=2)
        assert got == want, f"epoch {epoch}"


def test_incremental_attribution_randomized_churn_equals_batch(
    spark, tmp_path
):
    """IncrementalAttribution: across randomized add/retract epochs,
    current() == the batch last_touch_attribution on the surviving
    events, and the folded diff stream equals the same result —
    including a conversion RE-CREDITED to the next-latest touch when
    its credited touch retracts."""

    import datetime
    import random

    from declarative_dataflow_spark.operators import timeseries as T
    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalAttribution,
    )

    rng = random.Random(77)
    base = datetime.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string"
    )
    maint = IncrementalAttribution(spark, str(tmp_path / "attr_state"))
    live: dict = {}
    folded: dict = {}
    next_id = 0

    def fold(diffs):
        if diffs is None:
            return
        for r in diffs.collect():
            key = r["event_id"]
            val = (
                r["user_id"], r["conv_tu"], r["touch_event_id"],
                r["touch_type"], r["gap_us"],
            )
            if r["diff"] > 0:
                folded[key] = val
            elif folded.get(key) == val:
                del folded[key]

    for epoch in range(5):
        adds = []
        for _ in range(8):
            adds.append(
                (
                    next_id,
                    base + datetime.timedelta(seconds=rng.randrange(60)),
                    rng.randrange(3),
                    rng.choice(["view", "click", "purchase", "error"]),
                )
            )
            next_id += 1
        retractable = [
            live[i] for i in list(live) if rng.random() < 0.25
        ]
        add_df = spark.createDataFrame(adds, schema)
        ret_df = (
            spark.createDataFrame(retractable, schema)
            if retractable
            else None
        )
        fold(maint.process_batch(add_df, ret_df, epoch=epoch))
        for row in adds:
            live[row[0]] = row
        for row in retractable:
            del live[row[0]]

        batch = spark.createDataFrame(list(live.values()), schema)
        want = {
            r["event_id"]: (
                r["user_id"], r["conv_tu"], r["touch_event_id"],
                r["touch_type"], r["gap_us"],
            )
            for r in T.last_touch_attribution(batch).collect()
        }
        got = {
            r["event_id"]: (
                r["user_id"], r["conv_tu"], r["touch_event_id"],
                r["touch_type"], r["gap_us"],
            )
            for r in (maint.current() or batch.limit(0)).collect()
        }
        assert got == want, f"current() drift at epoch {epoch}"
        assert folded == want, f"diff-fold drift at epoch {epoch}"


def test_incremental_attribution_retry_is_noop(spark, tmp_path):
    import datetime

    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalAttribution,
    )

    base = datetime.datetime(2024, 1, 1)
    schema = (
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string"
    )
    ev = spark.createDataFrame(
        [
            (0, base, 1, "view"),
            (1, base + datetime.timedelta(seconds=5), 1, "purchase"),
        ],
        schema,
    )
    maint = IncrementalAttribution(spark, str(tmp_path / "attr_state"))
    first = maint.process_batch(ev, epoch=0)
    assert first is not None and first.count() == 1
    retry = maint.process_batch(ev, epoch=0)
    assert retry is None or retry.count() == 0


def test_incremental_asof_randomized_corrections_equal_batch(
    spark, tmp_path
):
    """IncrementalAsOf: across randomized epochs of corrections —
    value updates, tombstones (retracted=true), and retractions of
    earlier correction rows (resurfacing the one beneath) —
    current() == the batch as_of on the surviving fact rows, and the
    folded diff stream equals the same view."""

    import random

    from declarative_dataflow_spark.operators.bitemporal import as_of
    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalAsOf,
    )

    rng = random.Random(31)
    schema = "e long, ev_t long, sys_t long, v string, retracted boolean"
    maint = IncrementalAsOf(spark, str(tmp_path / "asof_state"))
    live: set = set()
    folded: dict = {}
    sys_clock = 0

    def fold(diffs):
        if diffs is None:
            return
        for r in diffs.collect():
            key = (r["e"], r["ev_t"])
            val = (r["sys_t"], r["v"])
            if r["diff"] > 0:
                folded[key] = val
            elif folded.get(key) == val:
                del folded[key]

    for epoch in range(5):
        adds = []
        for _ in range(6):
            sys_clock += 1
            adds.append(
                (
                    rng.randrange(3),
                    rng.randrange(4) * 10,
                    sys_clock,
                    rng.choice(["red", "green", "blue"]),
                    rng.random() < 0.15,  # occasional tombstone
                )
            )
        retractable = [r for r in list(live) if rng.random() < 0.2]
        add_df = spark.createDataFrame(adds, schema)
        ret_df = (
            spark.createDataFrame(retractable, schema)
            if retractable
            else None
        )
        fold(maint.process_batch(add_df, ret_df, epoch=epoch))
        if epoch == 2:  # foreachBatch retry replay: must be a no-op
            before = sorted(folded.items())
            fold(
                maint.process_batch(
                    spark.createDataFrame(adds, schema),
                    ret_df,
                    epoch=epoch,
                )
            )
            assert sorted(folded.items()) == before, "retry not idempotent"
        live.update(adds)
        live.difference_update(retractable)

        batch = spark.createDataFrame(sorted(live), schema)
        want = {
            (r["e"], r["ev_t"]): (r["sys_t"], r["v"])
            for r in as_of(batch, 1 << 62, ["e"]).collect()
        }
        got = {
            (r["e"], r["ev_t"]): (r["sys_t"], r["v"])
            for r in (maint.current() or batch.limit(0)).collect()
        }
        assert got == want, f"current() drift at epoch {epoch}"
        assert folded == want, f"diff-fold drift at epoch {epoch}"


# ---------------------------------------------------------------------------
# The touched-key epoch, written once: every maintainer on it
# ---------------------------------------------------------------------------

import collections  # noqa: E402
import concurrent.futures  # noqa: E402
import pathlib  # noqa: E402
import re  # noqa: E402

from declarative_dataflow_spark.streaming import event_stats  # noqa: E402
from declarative_dataflow_spark.streaming.generational import (  # noqa: E402
    _TouchedKeyMaintainer,
)
from declarative_dataflow_spark.streaming.incremental import (  # noqa: E402
    IncrementalEdgeSupport,
)

_T0 = dt.datetime(2024, 1, 1)
_TYPES = ["view", "click", "buy", "purchase"]
# user 7's view + purchase on day 21: retracted in epoch 0 BEFORE they
# are added in epoch 1, so their net support is zero at any compaction
# schedule.
_LATE = [
    (99, _T0 + dt.timedelta(days=20), 7, "view", 6.0),
    (98, _T0 + dt.timedelta(days=20, hours=1), 7, "purchase", 2.0),
]
_EDGES = [(a, b) for a in range(8) for b in range(a + 1, 8)]


def _rows(ids):
    return [
        (i, _T0 + dt.timedelta(hours=3 * i), i % 3, _TYPES[i % 4],
         float(i % 7))
        for i in ids
    ]


def _events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )


def _facts(spark, rows):
    return spark.createDataFrame(
        [(r[2], r[0] % 4, r[0], r[4]) for r in rows],
        "e long, ev_t long, sys_t long, v double",
    )


def _edge_rows(spark, rows):
    """Row i is edge i of the complete graph on 8 nodes; the _LATE rows
    get edges of their own."""

    return spark.createDataFrame(
        [_EDGES[r[0] % len(_EDGES)] if r[0] < 90 else (r[0], r[0] + 1)
         for r in rows],
        "src long, dst long",
    )


_TOUCHED_KEY = {
    "funnel": (lambda s, d: IncrementalFunnel(s, d, ["view", "click", "buy"]),
               _events),
    "retention": (lambda s, d: IncrementalRetention(s, d), _events),
    "sessionize": (lambda s, d: event_stats.IncrementalSessionize(s, d),
                   _events),
    "resample": (lambda s, d: event_stats.IncrementalResample(s, d),
                 _events),
    "anomalies": (lambda s, d: event_stats.IncrementalAnomalies(
        s, d, min_n=2, threshold=1.0), _events),
    "changepoint": (lambda s, d: event_stats.IncrementalChangepoint(
        s, d, window=2), _events),
    "attribution": (lambda s, d: event_stats.IncrementalAttribution(s, d),
                    _events),
    "asof": (lambda s, d: event_stats.IncrementalAsOf(s, d), _facts),
    "edge_support": (lambda s, d: IncrementalEdgeSupport(s, d), _edge_rows),
}

# (epoch, add rows, retract rows): adds, retractions, a retract-before-
# add, and a retried epoch id (same payload, foreachBatch's replay).
_SCRIPT = [
    (0, _rows(range(0, 10)), _LATE),
    (1, _rows(range(10, 20)) + _LATE, _rows(range(0, 3))),
    (2, _rows(range(20, 30)), _rows(range(10, 13))),
    (2, _rows(range(20, 30)), _rows(range(10, 13))),
]


def _drive(spark, state_dir, name, compact_every):
    """Run the fixed script; return (current() multiset, folded diff
    multiset) with a count-valued result column carried as the row's
    multiplicity."""

    make, frame = _TOUCHED_KEY[name]
    m = make(spark, state_dir)
    m.compact_every = compact_every
    folded = collections.Counter()
    for epoch, adds, rets in _SCRIPT:
        d = m.process_batch(
            frame(spark, adds), frame(spark, rets), epoch=epoch
        )
        for r in [] if d is None else d.collect():
            folded[tuple(r)[:-1]] += r["diff"]
    weight = m.DIFF_WEIGHT
    current = collections.Counter()
    for r in m.current().collect():
        key = tuple(v for c, v in r.asDict().items() if c != weight)
        current[key] += 1 if weight is None else r[weight]
    return dict(current), {k: w for k, w in folded.items() if w != 0}


@pytest.fixture(scope="module")
def _script_runs(spark, tmp_path_factory, selected_params):
    """Every selected maintainer under both schedules — after every
    epoch and never — side by side: independent state dirs, and Spark
    schedules concurrent jobs from driver threads. Each case reads its
    own two futures, so one maintainer's failure fails only its case;
    teardown cancels what has not started and waits for the rest."""

    root = tmp_path_factory.mktemp("touched_key")
    pool = concurrent.futures.ThreadPoolExecutor(4)
    names = selected_params(
        test_diff_stream_folds_to_current_at_any_compaction, "name"
    )
    yield {
        (name, every): pool.submit(
            _drive, spark, str(root / f"{name}_{every}"), name, every
        )
        for name in names
        for every in (1, 100)
    }
    pool.shutdown(wait=True, cancel_futures=True)


@pytest.mark.parametrize("name", sorted(_TOUCHED_KEY))
def test_diff_stream_folds_to_current_at_any_compaction(_script_runs, name):
    """For every touched-key maintainer: the folded diff stream equals
    current() — across retractions, a retract-before-add and a retried
    epoch — and compaction is lossless: compacting after every epoch
    and never compacting give the same current()."""

    always, always_folded = _script_runs[name, 1].result(timeout=900)
    never, never_folded = _script_runs[name, 100].result(timeout=900)
    assert always_folded == always
    assert never_folded == never
    assert always == never
    assert never, "the script must leave a non-empty result"


def test_touched_key_epoch_is_written_once():
    """The eight event maintainers and the edge support run the base
    epoch and read; the compaction counter and the store are written
    once in the package."""

    classes = [
        c for c in vars(event_stats).values()
        if isinstance(c, type) and c.__module__ == event_stats.__name__
        and c.__name__.startswith("Incremental")
    ]
    assert len(classes) == 8
    for cls in classes + [IncrementalEdgeSupport]:
        assert issubclass(cls, _TouchedKeyMaintainer), cls
        for method in ("process_batch", "current"):
            assert getattr(cls, method) is getattr(
                _TouchedKeyMaintainer, method
            ), (cls, method)

    pkg = pathlib.Path(event_stats.__file__).resolve().parents[1]
    text = "\n".join(p.read_text() for p in sorted(pkg.rglob("*.py")))
    assert len(re.findall(r"_epochs = getattr", text)) <= 1
    assert "_io = IncrementalDupNgram" not in text
    assert "_GenerationalState()" not in text
