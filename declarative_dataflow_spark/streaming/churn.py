"""Deterministic churn scripts that turn the maintained twins into
driver-checkable declared queries.

The 26 incrementally-maintained operators (streaming/incremental.py,
streaming/event_stats.py, ...) are equality-gated in pytest with
RANDOMIZED add/retract epochs — strong, but invisible to the driver's
oracle gate, which needs a (queries(), oracle_sql()) pair it can
hash-compare against DuckDB. The ktruss unroll (r10) proved iterative
semantics can get driver oracles; this module does the same for the
maintained twins: a FIXED, deterministic correction script over the
driver's own ``events`` table, pushed through a maintainer epoch by
epoch, whose final ``current()`` view equals the batch operator over
the SURVIVING rows — a closed form DuckDB states in one WHERE clause.

The script (policy constants below, shared verbatim by the DuckDB
twins through :func:`surviving_sql`):

* epoch ``i`` in ``0..CHURN_EPOCHS-1`` ADDS the rows with
  ``event_id % CHURN_EPOCHS == i``;
* epoch ``i >= 1`` RETRACTS the rows added in epoch ``i-1`` whose
  ``user_id % RETRACT_MOD == i`` — genuine churn: session splits and
  renumbering (a retracted bridging event), funnel-depth regressions
  (a retracted step completion), bitemporal resurfacing (a retracted
  correction exposes the one beneath it), all exercised on the
  generational state machinery, not a synthetic toy.

Retraction epochs strictly follow the matching add epoch, so the
surviving multiset is exactly ``events WHERE NOT retired(row)`` —
order-independent, closed-form, engine-agnostic.

Reference: the correction/retraction streams of
tests/input_semantics.rs:337-510 (bitemporal) and the maintained-view
equality discipline the other twins follow.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, functions as F

from ..scratch import materialize

CHURN_EPOCHS = 4
RETRACT_MOD = 5


def _retired_pred(id_col: str = "event_id", key_col: str = "user_id"):
    """Spark Column: row was added in some epoch i-1 and retracted in
    epoch i under the fixed script."""

    cond = F.lit(False)
    for i in range(1, CHURN_EPOCHS):
        cond = cond | (
            (F.col(id_col) % CHURN_EPOCHS == i - 1)
            & (F.col(key_col) % RETRACT_MOD == i)
        )
    return cond


def surviving(events: DataFrame, id_col: str = "event_id",
              key_col: str = "user_id") -> DataFrame:
    """The rows still asserted after the full churn script — the
    batch-equality side of the pytest gates."""

    return events.filter(~_retired_pred(id_col, key_col))


def surviving_sql(id_col: str = "event_id",
                  key_col: str = "user_id") -> str:
    """The same surviving-set predicate as ANSI SQL (DuckDB twin)."""

    parts = [
        f"NOT ({id_col} % {CHURN_EPOCHS} = {i - 1} "
        f"AND {key_col} % {RETRACT_MOD} = {i})"
        for i in range(1, CHURN_EPOCHS)
    ]
    return " AND ".join(parts)


def drive(maint, rows: DataFrame, id_col: str = "event_id",
          key_col: str = "user_id") -> DataFrame:
    """Push ``rows`` through ``maint`` under the fixed churn script
    and return the final maintained view, eagerly materialized so the
    scratch state directory can be deleted before the caller's
    (lazy) collect.

    ``rows`` may carry extra columns beyond what the maintainer
    projects (e.g. the asof fact stream keeps ``event_id`` purely for
    the epoch split); the maintainer's own ``_project`` drops them.
    """

    for i in range(CHURN_EPOCHS):
        adds = rows.filter(F.col(id_col) % CHURN_EPOCHS == i)
        retracts = None
        if i >= 1:
            retracts = rows.filter(
                (F.col(id_col) % CHURN_EPOCHS == i - 1)
                & (F.col(key_col) % RETRACT_MOD == i)
            )
        maint.process_batch(adds, retracts, epoch=i)
    out = maint.current()
    return materialize(out)


def run_churn(maint_factory, rows: DataFrame, id_col: str = "event_id",
              key_col: str = "user_id") -> DataFrame:
    """Scratch-state wrapper: ``maint_factory(state_dir)`` builds the
    maintainer on a fresh temp dir; the dir is removed once the final
    view is checkpointed (the declared churn queries are one-shot —
    persistence across epochs, not across calls, is what's under
    test)."""

    state_dir = tempfile.mkdtemp(prefix="ddspark_churn_")
    try:
        return drive(maint_factory(state_dir), rows, id_col, key_col)
    finally:
        shutil.rmtree(state_dir, ignore_errors=True)
