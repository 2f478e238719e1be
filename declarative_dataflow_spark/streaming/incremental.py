"""Incrementally-maintained conjunctive queries (delta joins).

The reference maintains Hector (n-way join) results incrementally with
one delta pipeline per attribute binding: pipeline i reacts only to
changes of binding i, joining the change against the OTHER bindings —
bindings before i at their NEW version, bindings after i at their OLD
version. The lexicographic AltNeu timestamp enforces exactly that
old/new split inside timely (reference: src/plan/hector.rs:497-927,
AltNeu scope at 520, ``is_neu = other_idx >= idx`` at 681).

Spark-first realization: the old/new split is explicit data versioning,
not timestamps. Per epoch we build, for every touched binding i,

    delta_i  ⋈  new_1 … new_{i-1}  ⋈  old_{i+1} … old_n

as a Catalyst join chain (each pipeline compiles through the ordinary
Hector compiler against a catalog of versioned snapshots), union the
pipelines, and consolidate. Work per epoch is proportional to the
CHANGE, not the accumulated state. A transacted batch is already on the
driver, so ``epoch_deltas`` consolidates it there and ships each
attribute's delta as an Arrow-built ``LocalRelation``: no Spark job
runs before the pipelines, and the relation's exact size statistics
let Catalyst broadcast the delta into every pipeline. Snapshots are
localCheckpoint-ed DataFrames (swap for Delta tables at cluster scale),
compacted every few epochs.

Weighted multisets come for free: delta joins multiply ``diff``
columns, so retractions (diff < 0) propagate through every pipeline
and cancel in consolidation.

One contract covers every maintainer the reactive router builds
(DeltaJoin, IncrementalAggregate, IncrementalTopK, IncrementalRecursion,
and the RenamedMaintainer an aggregate over a named rule wraps):
``transact(datoms)`` returns the epoch's weighted
``(variables..., diff)`` changes, and ``current()`` the maintained
state in the same shape — None while nothing is seeded. An Interest
replays ``current()`` on subscription, and IncrementalAggregate /
IncrementalTopK, the two faces of one touched-group reduce, seed from
their inner maintainer's ``current()`` (ADR 0012). Every weighted fold
here is ``generational._fold``.
"""

from __future__ import annotations

import functools
from typing import Any, Iterable, Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..engine import (
    Datom,
    _delta_step_plan,
    delta_bindings,
    empty_frame,
    local_frame,
    new_facts,
    semi_naive,
)
from ..plan.compiler import (
    DIFF,
    AttributeSource,
    Catalog,
    Relation,
    UnboundRule,
    compile_plan,
    vcol,
)
from ..plan.plans import (
    Aggregate,
    AggregationFn,
    Antijoin,
    AntijoinBinding,
    AttributeBinding,
    Binding,
    Hector,
    MatchA,
    MatchAV,
    MatchEA,
    Negate,
    Plan,
    children,
)
from ..scratch import materialize, materialize_count
from .generational import _TouchedKeyMaintainer, _fold


def epoch_deltas(
    spark: SparkSession,
    datoms: Iterable[Datom],
    aids: set[str],
    semantics: dict[str, "SemanticsDeltaSource"],
) -> dict[str, DataFrame]:
    """One epoch's (e, v, diff) delta per attribute in ``aids`` that
    the batch changes. RAW attributes consolidate per (e, v) on the
    driver and drop zero-weight rows, so an assert retracted in the
    same batch yields no delta; LWW/Distinct attributes translate
    through their ``semantics`` adapter (the collection delta is the
    change of the EFFECTIVE view, not the raw datoms)."""

    by_aid: dict[str, list[tuple[Any, Any, int]]] = {}
    for d in datoms:
        if d.a in aids:
            by_aid.setdefault(d.a, []).append((d.e, d.v, d.diff))
    out = {}
    for aid, rows in by_aid.items():
        if aid in semantics:
            eff = semantics[aid].delta(rows)
            if eff is not None:
                out[aid] = eff
            continue
        net: dict[tuple[Any, Any], int] = {}
        for e, v, w in rows:
            net[(e, v)] = net.get((e, v), 0) + w
        live = [(e, v, w) for (e, v), w in net.items() if w]
        if live:
            out[aid] = local_frame(spark, live, ["e", "v", "diff"])
    return out


def _negated_attributes(plan, negated: bool = False) -> set[str]:
    """Attributes ``plan`` reads in a non-monotone position: an
    Antijoin's right side, an antijoin binding, or anywhere under
    Negate or Aggregate. Adding a fact there can retract results."""

    if isinstance(plan, (MatchA, MatchEA, MatchAV)):
        return {plan.attribute} if negated else set()
    if isinstance(plan, Hector):
        return {
            b.attribute
            for b in plan.bindings
            if isinstance(b, AntijoinBinding)
            or (negated and isinstance(b, AttributeBinding))
        }
    if isinstance(plan, Antijoin):
        return _negated_attributes(plan.left_plan, negated) | (
            _negated_attributes(plan.right_plan, True)
        )
    negated = negated or isinstance(plan, (Negate, Aggregate))
    return set().union(
        *(_negated_attributes(c, negated) for c in children(plan))
    )


class SemanticsDeltaSource:
    """Effective-view delta translation for a LWW or Distinct
    attribute: raw datom batches rewrite history (a later write
    retracts the previous winner; a duplicate add changes nothing), so
    the RAW datom delta is NOT the collection delta. This adapter
    tracks the attribute's effective rows and emits, per epoch, the
    (e, v, diff) changes of the EFFECTIVE view — which downstream
    delta pipelines consume like any RAW delta (the reference applies
    input semantics at ingest, src/server/mod.rs:355-361, so its
    dataflow likewise only ever sees the rewritten collection).

    Per-epoch work is delta-sized: the semantics window recomputes only
    over the touched entities' history (per-key history is bounded by
    trace_slack compaction), and the stored effective view updates with
    one anti-join + union on the touched keys.
    """

    def __init__(self, ta):
        from ..engine import _apply_input_semantics

        self._ta = ta
        self._apply = _apply_input_semantics
        self.prev = materialize(ta.dataframe().select("e", "v"))

    def initial(self) -> DataFrame:
        """Current effective rows as a weighted snapshot."""

        return self.prev.withColumn("diff", F.lit(1).cast("long"))

    def delta(self, batch_rows: list[tuple]) -> Optional[DataFrame]:
        """Effective-view changes caused by this epoch's datoms (which
        the engine has already transacted into the attribute); None
        when the effective view did not change."""

        touched = local_frame(
            self.prev.sparkSession,
            list(dict.fromkeys((r[0],) for r in batch_rows)),
            ["e"],
        )
        hist = self._ta._raw_dataframe().join(touched, "e", "left_semi")
        new_eff = (
            self._apply(hist, self._ta.config)
            .select("e", "v")
            .transform(materialize)
        )
        old_eff = self.prev.join(touched, "e", "left_semi")
        plus = new_eff.join(old_eff, ["e", "v"], "left_anti").withColumn(
            "diff", F.lit(1).cast("long")
        )
        minus = old_eff.join(new_eff, ["e", "v"], "left_anti").withColumn(
            "diff", F.lit(-1).cast("long")
        )
        self.prev = (
            self.prev.join(touched, "e", "left_anti")
            .unionByName(new_eff)
            .transform(materialize)
        )
        eff, n = materialize_count(plus.unionByName(minus))
        return eff if n else None


class DeltaJoin:
    """One incrementally-maintained Hector query.

    ``bindings`` may contain attribute, constant, binary-predicate,
    and antijoin bindings. Antijoin (negation) follows the reference's
    AntijoinExtender (hector.rs:1494-1529) ordered LAST: positive-part
    deltas filter against the anti-side's NEW key set, and anti-side
    changes emit toggle diffs — keys whose membership flips retract or
    re-derive the matching core tuples (computed over OLD snapshots,
    semi-join-pruned to just the flipped keys, so the work tracks the
    toggle size, not the accumulated result).
    """

    def __init__(
        self,
        spark: SparkSession,
        variables: list[str],
        bindings: list[Binding],
        initial: Optional[dict[str, DataFrame]] = None,
        semantics: Optional[dict[str, "SemanticsDeltaSource"]] = None,
    ):
        self.spark = spark
        self.variables = list(variables)
        self.bindings = list(bindings)
        self.core_bindings = [
            b for b in bindings if not isinstance(b, AntijoinBinding)
        ]
        self.anti_bindings = [
            b for b in bindings if isinstance(b, AntijoinBinding)
        ]
        self.attr_bindings = [
            b for b in self.core_bindings if isinstance(b, AttributeBinding)
        ]
        # Attributes some binding references — a shared transaction
        # stream may carry unrelated facts; tracking them would grow
        # snapshots without ever affecting this query.
        self.relevant = {b.attribute for b in self.attr_bindings} | {
            b.attribute for b in self.anti_bindings
        }
        # aid -> weighted (e, v, diff) snapshot of everything seen.
        # Snapshots append deltas LAZILY (a weighted union is the same
        # multiset as its consolidation) and compact+checkpoint every
        # ``compact_every`` appends — one big materialization per N
        # epochs instead of per epoch, the analog of differential's
        # batched arrangement merging.
        self.snapshots: dict[str, DataFrame] = {}
        self._appends: dict[str, int] = {}
        self.compact_every = 8
        # aid -> SemanticsDeltaSource for LWW/Distinct attributes: raw
        # datom batches translate to effective-view deltas first.
        self.semantics = dict(semantics or {})
        # An attribute with no rows yet gets no snapshot: a binding
        # without one makes its pipelines provably empty. The row count
        # rides the seed checkpoint's own jobs.
        for aid, df in (initial or {}).items():
            snap, n = materialize_count(df.select("e", "v", "diff"))
            if n:
                self.snapshots[aid] = snap
        self.epoch = 0

    # -- the delta pipelines ---------------------------------------------

    def _core(self, frames: list[Optional[DataFrame]]) -> Optional[Relation]:
        """Compile the core conjunction with attribute binding j read
        from ``frames[j]`` — the caller picks each binding's version.
        None when a version is absent (the join is provably empty)."""

        if any(df is None for df in frames):
            return None
        attrs: dict[str, AttributeSource] = {}
        synth_bindings: list[Binding] = []
        ai = 0
        for b in self.core_bindings:
            if isinstance(b, AttributeBinding):
                key = f"__dj{ai}"
                attrs[key] = AttributeSource(
                    loader=(lambda d=frames[ai]: d), has_diff=True
                )
                b = AttributeBinding(b.e, key, b.v)
                ai += 1
            synth_bindings.append(b)
        return compile_plan(
            Hector(self.variables, synth_bindings), Catalog(attrs)
        )

    def _at(self, versions: dict[str, DataFrame]) -> list:
        """Every attribute binding read from one snapshot set."""

        return [versions.get(b.attribute) for b in self.attr_bindings]

    def _with_anti(self, rel: Relation, versions: dict[str, DataFrame]):
        """``rel`` without the tuples any anti binding's ``versions``
        snapshot blocks."""

        for ab in self.anti_bindings:
            rel = self._anti_filter(
                rel, ab, self._positive_keys(versions.get(ab.attribute))
            )
        return rel

    def _named(self, df: DataFrame) -> DataFrame:
        """Weighted ``(vcol..., DIFF)`` tuples, folded, as the public
        ``(variables..., diff)`` frame."""

        return _fold(df, (DIFF,)).select(
            *[F.col(vcol(v)).alias(str(v)) for v in self.variables],
            F.col(DIFF).alias("diff"),
        )

    def current(self) -> Optional[DataFrame]:
        """The maintained result as weighted ``(variables..., diff)``
        rows: the core at the current snapshots, anti sides applied;
        None while some attribute binding has no snapshot."""

        core = self._core(self._at(self.snapshots))
        if core is None:
            return None
        rel = self._with_anti(core, self.snapshots).with_diff()
        sel = [vcol(v) for v in self.variables] + [DIFF]
        return self._named(rel.df.select(*sel))

    @staticmethod
    def _positive_keys(df: Optional[DataFrame]) -> Optional[DataFrame]:
        """Present (e, v) pairs of an anti-side snapshot (net weight
        > 0 — the antijoin right side is a set, antijoin.rs:95-97).
        Consolidates first: lazily-appended snapshots may carry an
        assert AND its retraction as separate rows."""

        if df is None:
            return None
        return _fold(df, ("diff",)).filter(F.col("diff") > 0).select("e", "v")

    def _anti_filter(self, rel, ab: AntijoinBinding, keys: Optional[DataFrame]):
        """Drop tuples whose (ab.e, ab.v) valuation appears in keys."""

        if keys is None:
            return rel
        k = keys.select(F.col("e").alias("__ae"), F.col("v").alias("__av"))
        df = rel.df.join(
            k,
            on=[
                rel.df[vcol(ab.e)] == k["__ae"],
                rel.df[vcol(ab.v)] == k["__av"],
            ],
            how="left_anti",
        )
        return type(rel)(rel.variables, df, rel.has_diff)

    def _toggle_terms(
        self,
        deltas: dict[str, DataFrame],
        news: dict[str, DataFrame],
        sel: list[str],
    ) -> list[DataFrame]:
        """Per changed anti binding k: tuples of the OLD core (pruned
        to flipped keys) enter (+1, key left the anti set) or leave
        (-1, key joined it); anti bindings before k apply at NEW,
        after k at OLD."""

        out: list[DataFrame] = []
        for k, ab in enumerate(self.anti_bindings):
            if ab.attribute not in deltas:
                continue
            p_old = self._positive_keys(self.snapshots.get(ab.attribute))
            p_new = self._positive_keys(news.get(ab.attribute))
            empty = None
            for keys_from, keys_minus, sign in (
                (p_old, p_new, 1),   # lost membership -> tuples return
                (p_new, p_old, -1),  # gained membership -> tuples retract
            ):
                if keys_from is None:
                    continue
                flipped = (
                    keys_from
                    if keys_minus is None
                    else keys_from.join(keys_minus, ["e", "v"], "left_anti")
                )
                flipped, n_flipped = materialize_count(flipped)
                if not n_flipped:
                    continue
                core = self._core(self._at(self.snapshots))
                if core is None:
                    continue
                # Prune to the flipped keys (inner join IS the filter).
                fk = flipped.select(
                    F.col("e").alias("__ae"), F.col("v").alias("__av")
                )
                rel = core.with_diff()
                df = rel.df.join(
                    fk,
                    on=[
                        rel.df[vcol(ab.e)] == fk["__ae"],
                        rel.df[vcol(ab.v)] == fk["__av"],
                    ],
                    how="inner",
                ).drop("__ae", "__av")
                pruned = type(rel)(rel.variables, df, True)
                for j, other in enumerate(self.anti_bindings):
                    if j == k:
                        continue
                    versions = news if j < k else self.snapshots
                    pruned = self._anti_filter(
                        pruned,
                        other,
                        self._positive_keys(versions.get(other.attribute)),
                    )
                term = pruned.df.select(*sel)
                if sign < 0:
                    term = term.withColumn(DIFF, -F.col(DIFF))
                out.append(term)
        return out

    def transact(self, datoms: Iterable[Datom]) -> DataFrame:
        """Apply one transaction; return the result diffs of this epoch
        as a DataFrame over ``variables + [diff]``.

        Each pipeline is the ordinary Hector join chain in binding
        order, so pipeline i > 0 starts from binding 0's NEW snapshot
        and meets its delta only at hop i, and every hop scans its
        snapshot whole. Catalyst picks each join from statistics. The
        Arrow-built delta and snapshots seeded from the transacted
        store carry exact ones, so while the snapshots fit under the
        broadcast threshold every hop is a broadcast hash join and the
        epoch's only shuffle is the final consolidation. A hop over a
        snapshot Catalyst cannot size, or one past the threshold, is
        planned as a sort-merge join, and the whole snapshot is
        shuffled. Per-epoch cost therefore grows with the snapshots,
        not only with the delta."""

        return self._advance(
            epoch_deltas(self.spark, datoms, self.relevant, self.semantics)
        )

    def transact_frame(self, batch_df: DataFrame) -> DataFrame:
        """Apply one transaction given as a DataFrame of datoms
        (e, a, v[, diff]) — the streaming path: the batch never passes
        through the driver; only the small distinct-attribute list
        does."""

        cols = batch_df.columns
        diff = F.col("diff") if "diff" in cols else F.lit(1).cast("long")
        base = batch_df.select("e", "a", "v", diff.alias("diff"))
        aids = [r["a"] for r in base.select("a").distinct().collect()]
        deltas = {}
        for aid in aids:
            deltas[aid] = materialize(
                _fold(base.filter(F.col("a") == aid).drop("a"), ("diff",))
            )
        return self._advance(deltas)

    def _advance(self, deltas: dict[str, DataFrame]) -> DataFrame:
        deltas = {a: df for a, df in deltas.items() if a in self.relevant}
        news: dict[str, DataFrame] = {}
        for aid in set(self.snapshots) | set(deltas):
            if aid in deltas and aid in self.snapshots:
                merged = self.snapshots[aid].unionByName(deltas[aid])
                appends = self._appends.get(aid, 0) + 1
                if appends >= self.compact_every:
                    merged = materialize(_fold(merged, ("diff",)))
                    appends = 0
                news[aid] = merged
                self._appends[aid] = appends
            elif aid in deltas:
                news[aid] = deltas[aid]
            else:
                news[aid] = self.snapshots[aid]

        sel = [vcol(v) for v in self.variables] + [DIFF]
        pipes: list[DataFrame] = []
        for i, b in enumerate(self.attr_bindings):
            if b.attribute not in deltas:
                continue
            # Pipeline i: binding i at its delta, j < i at new, j > i
            # at old.
            pipe = self._core(
                [
                    (news if j < i else deltas if j == i else self.snapshots)
                    .get(o.attribute)
                    for j, o in enumerate(self.attr_bindings)
                ]
            )
            if pipe is None:
                continue
            # Core deltas see the anti sides at their NEW state.
            pipe = self._with_anti(pipe, news)
            pipes.append(pipe.with_diff().df.select(*sel))

        pipes.extend(self._toggle_terms(deltas, news, sel))

        self.snapshots = news
        self.epoch += 1

        if not pipes:
            return self._no_change(news)
        return self._named(functools.reduce(DataFrame.unionByName, pipes))

    def _no_change(self, versions: dict[str, DataFrame]) -> DataFrame:
        """An epoch without diffs, typed as the core over ``versions``
        (all strings only while some binding has never had a row)."""

        core = self._core(self._at(versions))
        if core is None:
            schema = ", ".join(
                [f"`{v}` string" for v in self.variables] + ["diff long"]
            )
        else:
            sel = [vcol(v) for v in self.variables] + [DIFF]
            schema = self._named(core.with_diff().df.select(*sel)).schema
        return empty_frame(self.spark, schema)


def stream_delta_join(
    delta_join: DeltaJoin,
    datom_stream: DataFrame,
    sink,
    checkpoint: Optional[str] = None,
    query_name: str = "delta_join",
):
    """Drive a DeltaJoin from a Structured Streaming datom source:
    each micro-batch becomes one epoch of the delta pipelines, and the
    epoch's result diffs go to ``sink(diffs_df, batch_id)``.

    The datom stream has columns (e, a, v[, t][, diff]); missing diff
    defaults to +1. This is the full reference loop — streaming
    transactions in, incrementally-maintained result diffs out — on
    Spark's own micro-batch engine (foreachBatch; epoch == batch).
    Returns the StreamingQuery.
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(delta_join.transact_frame(batch_df), batch_id)

    writer = (
        datom_stream.writeStream.foreachBatch(process)
        .queryName(query_name)
        .outputMode("update")
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.start()


class _TouchedGroupReduce:
    """The differential reduce over a maintainer's weighted output
    (the reference's aggregates sit on differential reduce over any
    maintained collection, src/plan/aggregate_neu.rs): the state is the
    consolidated multiset of the inner maintainer's rows, projected and
    weighted in ``__w``, and each epoch re-evaluates the per-slice
    function ONLY on the groups its delta touched. The old slice's
    output retracts (-1) and the new slice's asserts (+1) wherever they
    differ, so a group that empties just retracts. An empty ``group``
    re-evaluates the whole state (the unpartitioned top-k).

    The state seeds from ``inner.current()``, so a reduce built over a
    maintainer that already holds rows starts from them. Subclasses
    declare ``_project`` (the inner's ``(vars..., diff)`` rows as state
    columns plus ``__w``) and ``_per_slice`` (a state slice to output
    rows)."""

    def __init__(self, inner, group: list[str]):
        self.inner = inner
        self.group = list(group)
        seed = inner.current()
        self.state = None if seed is None else self._weigh(seed)[0]

    def _weigh(self, rows: DataFrame) -> tuple[DataFrame, int]:
        """The inner rows as folded, checkpointed state rows, and how
        many there are."""

        return materialize_count(_fold(self._project(rows), ("__w",)))

    def current(self) -> Optional[DataFrame]:
        """The reduce's output over the whole state, at weight 1; None
        while nothing is seeded."""

        if self.state is None:
            return None
        return self._per_slice(self.state).withColumn("diff", F.lit(1))

    def transact(self, datoms: Iterable[Datom]) -> DataFrame:
        delta, n = self._weigh(self.inner.transact(datoms))
        old = delta.limit(0) if self.state is None else self.state
        if not n:
            # The state stands; no union with an empty delta, whose
            # column types may not be the state's.
            out = self._per_slice(old).withColumn("diff", F.lit(1))
            return empty_frame(delta.sparkSession, out.schema)
        new = materialize(_fold(old.unionByName(delta), ("__w",)))
        old_slice, new_slice = old, new
        if self.group:
            # A USING join puts the key columns first; re-select the
            # state's order so diffs and current() share one shape.
            touched = delta.select(*self.group).distinct()
            old_slice = old.join(touched, self.group, "left_semi").select(
                *old.columns
            )
            new_slice = new.join(touched, self.group, "left_semi").select(
                *old.columns
            )
        old_out = self._per_slice(old_slice)
        new_out = self._per_slice(new_slice)
        removed = old_out.exceptAll(new_out).withColumn("diff", F.lit(-1))
        added = new_out.exceptAll(old_out).withColumn("diff", F.lit(1))
        self.state = new
        return removed.unionByName(added)


class IncrementalAggregate(_TouchedGroupReduce):
    """Incrementally-maintained grouped aggregation: the touched-group
    reduce over the (key..., value) multiset of the inner maintainer's
    rows, grouped by the key variables.

    Output diffs are (key..., value, diff). Supports MIN, MAX, COUNT,
    SUM, AVG, MEDIAN, VARIANCE, STDDEV.
    """

    def __init__(
        self,
        inner,
        key_variables: list[str],
        aggregation_fn: AggregationFn,
        aggregation_variable: str,
    ):
        if aggregation_fn not in (
            AggregationFn.MIN,
            AggregationFn.MAX,
            AggregationFn.COUNT,
            AggregationFn.SUM,
            AggregationFn.AVG,
            AggregationFn.MEDIAN,
            AggregationFn.VARIANCE,
            AggregationFn.STDDEV,
        ):
            raise ValueError(f"unsupported incremental fn {aggregation_fn}")
        self.keys = list(key_variables)
        self.fn = aggregation_fn
        self.agg_var = aggregation_variable
        super().__init__(inner, self.keys)

    def _project(self, rows: DataFrame) -> DataFrame:
        return rows.select(
            *self.keys,
            F.col(self.agg_var).alias("__v"),
            F.col("diff").alias("__w"),
        )

    def _per_slice(self, slice_df: DataFrame) -> DataFrame:
        v, w = F.col("__v"), F.col("__w")
        if self.fn == AggregationFn.MEDIAN:
            # Upper-middle element without interpolation
            # (aggregate_neu.rs:160-166): expand weights, rank per key.
            from pyspark.sql.window import Window

            # diff > 0 guard: sequence(1, n) descends for n < 1, so an
            # over-retracted value would expand instead of vanishing.
            expanded = slice_df.filter(w > 0).withColumn(
                "__rep", F.explode(F.sequence(F.lit(1), w))
            )
            wk = Window.partitionBy(*self.keys).orderBy(v)
            wc = Window.partitionBy(*self.keys)
            ranked = (
                expanded.withColumn("__rn", F.row_number().over(wk))
                .withColumn("__n", F.count(F.lit(1)).over(wc))
            )
            return ranked.filter(
                F.col("__rn") == F.floor(F.col("__n") / 2) + 1
            ).select(*self.keys, v.alias("value"))
        if self.fn == AggregationFn.COUNT:
            out = F.sum(w)
        elif self.fn == AggregationFn.SUM:
            out = F.sum(v * w)
        elif self.fn == AggregationFn.AVG:
            out = F.sum(v * w) / F.sum(w)
        elif self.fn in (AggregationFn.VARIANCE, AggregationFn.STDDEV):
            # sumsq/n - (sum/n)^2 (aggregate_neu.rs:214-243); STDDEV is
            # its square root (the reference stubs it, aggregate_neu.rs:37-38).
            n = F.sum(w)
            out = F.sum(v * v * w) / n - (F.sum(v * w) / n) * (
                F.sum(v * w) / n
            )
            if self.fn == AggregationFn.STDDEV:
                out = F.sqrt(out)
        elif self.fn == AggregationFn.MIN:
            # Over-retracted values (net weight <= 0) are absent from the
            # multiset — same guard as the MEDIAN branch and the batch
            # compiler's order statistics.
            out = F.min(F.when(w > 0, v))
        else:
            out = F.max(F.when(w > 0, v))
        return slice_df.groupBy(*self.keys).agg(out.alias("value"))


class IncrementalTopK(_TouchedGroupReduce):
    """Incrementally-maintained top-k (the streaming form of
    plans.TopK): the touched-group reduce over the inner maintainer's
    tuple multiset, re-ranking only the touched partitions (the whole
    state when unpartitioned). Retraction of a ranked tuple pulls in
    the runner-up — the case windowless approximations get wrong —
    because the full multiset, not just the current top-k, is
    retained, exactly like differential's arranged input to a reduce."""

    def __init__(
        self,
        inner,
        order_by: list[tuple[str, bool]],
        k: int,
        partition_by: Optional[list[str]] = None,
    ):
        self.order_by = list(order_by)
        self.k = k
        self.vars = [str(v) for v in inner.variables]
        super().__init__(inner, list(partition_by or []))

    def _project(self, rows: DataFrame) -> DataFrame:
        return rows.select(*self.vars, F.col("diff").alias("__w"))

    def _order_cols(self):
        return [
            F.col(v).asc() if asc else F.col(v).desc()
            for v, asc in self.order_by
        ]

    def _per_slice(self, slice_df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window

        present = slice_df.filter(F.col("__w") > 0).drop("__w")
        if self.group:
            w = Window.partitionBy(*self.group).orderBy(
                *self._order_cols()
            )
        else:
            w = Window.partitionBy(F.lit(1)).orderBy(*self._order_cols())
        return (
            present.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= self.k)
            .drop("__rk")
        )


class IncrementalRecursion:
    """Incrementally-maintained monotone recursive rule SYSTEM.

    The reference runs recursion inside its differential scope, so
    input deltas propagate through the fixpoint iterations instead of
    re-running them (src/lib.rs:943-1019). Spark-first equivalent over
    the maintained per-rule fixpoints T[r] — every rule in the
    recursive cycle advances together, mutual recursion and non-linear
    rules included. The seed and every insertion run the batch
    evaluator's own loop, engine.semi_naive:

    - additions: delta-seeded generalized semi-naive — D0[r] =
      eval(r over new inputs, cycle:=T) \\ T[r], then propagate
      D_{i+1}[r] = eval(delta step of r) \\ total[r] until every
      rule's delta is empty. Work tracks the delta, not |T|.
    - retractions, and any change to an attribute read under
      negation: DRed (delete-and-rederive) over the whole cycle.
      Each T[r] is a fixpoint of the old inputs, so the one-step
      overdeletion seed is T[r] \\ eval(r over new inputs, cycle:=T);
      the closure then overdeletes tuples derivable only through
      overdeleted tuples of ANY cycle rule (tuples with an intact
      non-recursive derivation under the new inputs are never
      overdeleted), and the insertion phase re-derives survivors.

    Set semantics throughout (the fixpoint consolidates each iterate,
    reference src/lib.rs:1012-1017). Eligibility (checked by
    ``incremental_recursion_for``): every cycle rule monotone with
    dependencies inside the cycle, over transacted attributes (RAW
    directly; LWW/Distinct through effective-view delta adapters).

    Scale notes: T and the input snapshots are localCheckpoint-ed
    DataFrames (swap for reliable checkpoints/Delta on a cluster); every
    per-epoch anti-join runs delta-vs-T, which Catalyst broadcasts when
    the delta is small.
    """

    def __init__(
        self,
        spark: SparkSession,
        name: str,
        rules,
        initial: Optional[dict[str, DataFrame]] = None,
        max_iterations: int = 200,
        semantics: Optional[dict[str, "SemanticsDeltaSource"]] = None,
    ):
        if isinstance(rules, Plan):  # single self-recursive rule
            rules = {name: rules}
        self.spark = spark
        self.name = name
        self.rules = dict(rules)
        self.recursive = set(self.rules)
        self.variables = {
            rn: list(p.variables()) for rn, p in self.rules.items()
        }
        self.cols = {
            rn: [vcol(v) for v in vs] for rn, vs in self.variables.items()
        }
        self.max_iterations = max_iterations
        self.negated = set().union(
            *(_negated_attributes(p) for p in self.rules.values())
        )
        self.steps = {
            rn: _delta_step_plan(p, self.recursive)
            for rn, p in self.rules.items()
        }
        # aid -> consolidated weighted (e, v, diff) input snapshot.
        # LWW/Distinct attributes snapshot their EFFECTIVE view and
        # translate raw batches through a SemanticsDeltaSource.
        self.semantics = dict(semantics or {})
        self.snapshots: dict[str, DataFrame] = {}
        for aid, df in (initial or {}).items():
            self.snapshots[aid] = materialize(
                _fold(df.select("e", "v", "diff"), ("diff",))
            )
        # Seed T with a full generalized semi-naive fixpoint.
        cat = self._catalog()
        base = new_facts(self.rules, cat({}, set(self.recursive)), {})
        self.totals, _ = semi_naive(
            self.steps, {}, base, cat, max_iterations
        )

    # -- helpers ---------------------------------------------------------

    def _empty_df(self, rn: str) -> DataFrame:
        """No tuples of rule ``rn``, typed as its maintained fixpoint
        (or its base case while the fixpoint is empty; all strings
        only when neither compiles)."""

        df = self.totals[rn].df if rn in self.totals else self._eval(
            self.rules[rn], self._catalog()({}, set(self.recursive))
        )
        if df is None:
            schema = ", ".join(f"`{c}` string" for c in self.cols[rn])
        else:
            schema = df.select(*self.cols[rn]).schema
        return empty_frame(self.spark, schema)

    def _catalog(self):
        """Catalog factory over the present facts per attribute (net
        weight > 0, set view)."""

        attrs = {
            aid: AttributeSource(
                loader=(
                    lambda d=df.filter(F.col("diff") > 0).select("e", "v"): d
                ),
                has_diff=False,
            )
            for aid, df in self.snapshots.items()
        }
        return lambda bound, unbound: Catalog(
            attrs, self.rules, bound, unbound
        )

    @staticmethod
    def _eval(plan: Plan, catalog: Catalog) -> Optional[DataFrame]:
        try:
            return compile_plan(plan, catalog).distinct().df
        except UnboundRule:
            return None

    def current(self) -> DataFrame:
        """The maintained fixpoint of the subscribed rule as
        (variables..., diff=1) — used to replay state on subscription."""

        rn = self.name
        total = self.totals[rn].df if rn in self.totals else self._empty_df(rn)
        out = total.select(
            *[F.col(vcol(v)).alias(str(v)) for v in self.variables[rn]]
        )
        return out.withColumn("diff", F.lit(1).cast("long"))

    # -- epoch advancement ----------------------------------------------

    def transact(self, datoms: Iterable[Datom]) -> DataFrame:
        datoms = list(datoms)
        deltas = epoch_deltas(
            self.spark, datoms, set(self.snapshots), self.semantics
        )
        rn0 = self.name
        if not deltas:
            return self._diffs(None, None)

        # DRed runs when a fact may have lost support: a retraction, or
        # any change to an attribute read under negation (adding a
        # blocking fact retracts results).
        retracted = {d.a for d in datoms if d.diff < 0}
        any_negative = False
        for aid, delta in deltas.items():
            if aid in self.negated:
                any_negative = True
            elif aid in self.semantics:
                if not delta.filter(F.col("diff") < 0).limit(1).isEmpty():
                    any_negative = True
            elif aid in retracted:
                any_negative = True
            merged = materialize(
                _fold(self.snapshots[aid].unionByName(delta), ("diff",))
            )
            self.snapshots[aid] = merged

        cat = self._catalog()
        t_old = dict(self.totals)
        overdeleted: dict[str, DataFrame] = {}

        if any_negative:
            # One-step lost support per rule: T was a fixpoint of the
            # old inputs, so anything not re-derivable from (new
            # inputs, T) lost a derivation through a deleted fact.
            o_cur: dict[str, Relation] = {}
            base_new: dict[str, DataFrame] = {}
            remaining = {rn: t.df for rn, t in t_old.items()}
            one_step_cat = cat(t_old, self.recursive - set(t_old))
            base_cat = cat({}, set(self.recursive))
            for rn in sorted(t_old):
                cols = self.cols[rn]
                one_step = self._eval(self.rules[rn], one_step_cat)
                lost = (
                    t_old[rn].df
                    if one_step is None
                    else t_old[rn].df.join(one_step, cols, "left_anti")
                )
                lost, n_lost = materialize_count(lost)
                if n_lost:
                    o_cur[rn] = Relation(t_old[rn].variables, lost)
                b = self._eval(self.rules[rn], base_cat)
                base_new[rn] = self._empty_df(rn) if b is None else b
            for _ in range(self.max_iterations):
                if not o_cur:
                    break
                for rn, o in o_cur.items():
                    overdeleted[rn] = (
                        overdeleted[rn].unionByName(o.df)
                        if rn in overdeleted
                        else o.df
                    )
                    remaining[rn] = remaining[rn].join(
                        o.df, self.cols[rn], "left_anti"
                    )
                # Tuples derivable through an overdeleted tuple of any
                # cycle rule; an intact non-recursive derivation
                # shields a tuple from overdeletion, which keeps the
                # closure delta-sized.
                step_cat = cat(*delta_bindings(self.recursive, o_cur, t_old))
                nxt: dict[str, Relation] = {}
                for rn in sorted(remaining):
                    cols = self.cols[rn]
                    derived = self._eval(self.steps[rn], step_cat)
                    if derived is None:
                        continue
                    o, n_o = materialize_count(
                        derived.join(remaining[rn], cols, "left_semi")
                        .join(base_new[rn], cols, "left_anti")
                    )
                    if n_o:
                        nxt[rn] = Relation(t_old[rn].variables, o)
                o_cur = nxt
            else:
                raise RuntimeError("overdeletion closure did not converge")
            t1 = {
                rn: (
                    Relation(
                        t.variables,
                        t.df.join(
                            overdeleted[rn], self.cols[rn], "left_anti"
                        ).transform(materialize),
                    )
                    if rn in overdeleted
                    else t
                )
                for rn, t in t_old.items()
            }
        else:
            t1 = t_old

        # Insertion phase re-derives overdeleted survivors AND folds in
        # new-input derivations in one delta-seeded pass.
        d0 = new_facts(self.rules, cat(t1, self.recursive - set(t1)), t1)
        new_totals, added = semi_naive(
            self.steps, t1, d0, cat, self.max_iterations
        )
        self.totals = {
            rn: Relation(t.variables, materialize(t.df))
            for rn, t in new_totals.items()
        }
        return self._diffs(
            added[rn0].df if rn0 in added else None, overdeleted.get(rn0)
        )

    def _diffs(
        self,
        added: Optional[DataFrame],
        overdeleted: Optional[DataFrame],
    ) -> DataFrame:
        """Net output diffs for the subscribed rule: T_old = T1 ∪
        overdeleted and added is disjoint from T1, so genuinely-new
        tuples are added \\ overdeleted, and gone tuples are
        overdeleted \\ added — both delta-sized anti-joins."""

        rn = self.name
        cols = self.cols[rn]
        if added is None:
            added = self._empty_df(rn)
        if overdeleted is None:
            overdeleted = self._empty_df(rn)
        plus = added.join(overdeleted, cols, "left_anti").withColumn(
            DIFF, F.lit(1).cast("long")
        )
        minus = overdeleted.join(added, cols, "left_anti").withColumn(
            DIFF, F.lit(-1).cast("long")
        )
        out = plus.unionByName(minus)
        return out.select(
            *[F.col(vcol(v)).alias(str(v)) for v in self.variables[rn]],
            F.col(DIFF).alias("diff"),
        )


class RenamedMaintainer:
    """Positional column rename over a maintainer's diff/current
    outputs — aligns the maintained relation's variable columns with
    the names a consuming NameExpr chose. Wraps IncrementalRecursion
    (rule variables) or DeltaJoin (``source_vars=dj.variables``)."""

    def __init__(self, inner, names, source_vars=None):
        self.inner = inner
        if source_vars is None:
            source_vars = inner.variables[inner.name]
        if len(source_vars) != len(names):
            raise ValueError(
                f"arity {len(source_vars)} != {len(names)}"
            )
        self.mapping = [
            (str(a), str(b)) for a, b in zip(source_vars, names)
        ]

    def _rename(self, df: DataFrame) -> DataFrame:
        for old, new in self.mapping:
            if old != new:
                df = df.withColumnRenamed(old, new)
        return df

    def transact(self, datoms: Iterable[Datom]) -> DataFrame:
        return self._rename(self.inner.transact(datoms))

    def current(self) -> Optional[DataFrame]:
        cur = self.inner.current()
        return None if cur is None else self._rename(cur)


def seed_inputs(engine, aids: set[str]):
    """``(initial, semantics)`` for a maintainer over the transacted
    attributes ``aids``: each attribute's weighted (e, v, diff) rows,
    and a SemanticsDeltaSource per LWW/Distinct attribute (raw datom
    batches translate to effective-view deltas, and the seed is the
    effective view). None when some attribute is not transacted."""

    from ..engine import InputSemantics

    tas = {aid: engine._transacted.get(aid) for aid in aids}
    if any(ta is None for ta in tas.values()):
        return None
    initial: dict[str, DataFrame] = {}
    semantics: dict[str, SemanticsDeltaSource] = {}
    for aid, ta in tas.items():
        if ta.config.input_semantics == InputSemantics.RAW:
            initial[aid] = ta.dataframe().select("e", "v", "diff")
        else:
            semantics[aid] = SemanticsDeltaSource(ta)
            initial[aid] = semantics[aid].initial()
    return initial, semantics


def incremental_recursion_for(engine, name: str):
    """Build an IncrementalRecursion for a rule when eligible: the rule
    belongs to a recursive cycle whose members are all monotone with
    rule dependencies inside the cycle (mutual recursion and non-linear
    self-references included), reading transacted attributes — RAW
    directly, LWW/Distinct via SemanticsDeltaSource adapters. Returns
    None otherwise."""

    from ..engine import _is_monotone
    from ..plan.compiler import _rule_refs

    cycle = engine._recursive_rules(name)
    if not cycle or name not in cycle:
        return None
    for rn in cycle:
        plan = engine.rules[rn]
        if not _is_monotone(plan, cycle):
            return None
        if not _rule_refs(plan) <= cycle:
            return None

    aids: set[str] = set()
    unsupported = False

    def walk(p) -> None:
        nonlocal unsupported
        if isinstance(p, (MatchA, MatchEA, MatchAV)):
            aids.add(p.attribute)
        elif isinstance(p, Hector):
            for b in p.bindings:
                if isinstance(b, (AttributeBinding, AntijoinBinding)):
                    if isinstance(b, AntijoinBinding):
                        unsupported = True
                    aids.add(b.attribute)
        for c in children(p):
            walk(c)

    for rn in cycle:
        walk(engine.rules[rn])
    if unsupported or not aids:
        return None
    seeds = seed_inputs(engine, aids)
    if seeds is None:
        return None
    initial, semantics = seeds
    return IncrementalRecursion(
        engine.spark,
        name,
        {rn: engine.rules[rn] for rn in cycle},
        initial,
        semantics=semantics,
    )


class IncrementalShortestPaths:
    """Incrementally-maintained minimum path costs over a changing
    edge set — the lattice-aggregate recursion (operators/graph.py::
    shortest_hops / shortest_paths) the set-semantics
    IncrementalRecursion cannot cover. Unweighted (every edge costs 1,
    output column ``hops``) and non-negative-weighted (``cost=``
    column, output ``cost``) in one maintainer.

    Per epoch of edge additions/retractions, work tracks the CHANGE:

    - additions / weight decreases (monotone): seed candidates from
      the improving edges and their one-step compositions with the
      maintained distance table, then run the batch operators' own
      relaxation loop (graph.py::_relax) — only improving rows
      propagate, and an epoch with no improving row runs no round.
    - retractions (DRed for the min lattice; the set-semantics
      analogue is IncrementalRecursion's delete-rederive in
      ``IncrementalRecursion.transact``): a pair (x, y) is AFFECTED iff some minimal
      path routes through a removed edge (s, t) — exactly
      d(x,s) + w(s,t) + d(t,y) == d(x,y) with d(v,v) = 0 — computed by
      two joins against the maintained table, never a graph scan.
      Affected rows are over-deleted, then re-derived by relaxation
      seeded from the SURVIVING rows (their distances are provably
      unchanged) and the remaining edges. A weight INCREASE is a
      retraction plus an addition in the same epoch.

    State: the (x, y, hops|cost) table plus the weighted edge set,
    localCheckpointed per epoch. ``apply`` returns weighted diffs
    (x, y, val, diff); ``current`` is the maintained table, always
    equal to the batch operator on the current edges (gated in
    test_incremental.py). ``sources`` bounds all-pairs state exactly
    as in the batch operators.
    """

    def __init__(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        cost: Optional[str] = None,
        sources: Optional[DataFrame] = None,
        max_iters: int = 100,
    ) -> None:
        from ..operators.graph import shortest_paths

        self.max_iters = max_iters
        self.weighted = cost is not None
        self.val = "cost" if self.weighted else "hops"
        self.edges = self._norm_add(
            edges.select(src, dst, *([cost] if self.weighted else []))
        ).transform(materialize)
        self.sources = (
            sources.select(
                F.col(sources.columns[0]).alias("s")
            ).distinct().transform(materialize)
            if sources is not None
            else None
        )
        # Unit costs relax one hop per round, as shortest_hops does.
        self.dist = (
            shortest_paths(
                self.edges, "s", "t", "w", max_iters=max_iters,
                sources=self.sources, step=4 if self.weighted else 1,
            )
            .withColumnRenamed("cost", self.val)
            .transform(materialize)
        )

    def current(self) -> DataFrame:
        return self.dist

    def _norm_add(self, df: Optional[DataFrame]) -> Optional[DataFrame]:
        """(s, t, w): first two columns are endpoints; weighted mode
        takes w from the third column, unweighted sets w = 1."""

        if df is None:
            return None
        cols = df.columns
        out = df.select(
            F.col(cols[0]).alias("s"), F.col(cols[1]).alias("t"),
            *(
                [F.col(cols[2]).alias("w")]
                if self.weighted
                else [F.lit(1).alias("w")]
            ),
        )
        return out.groupBy("s", "t").agg(F.min("w").alias("w"))

    @staticmethod
    def _norm_rem(df: Optional[DataFrame]) -> Optional[DataFrame]:
        """Retractions are (s, t) pairs — removing the edge regardless
        of its stored weight."""

        if df is None:
            return None
        a, b = df.columns[0], df.columns[1]
        return df.select(F.col(a).alias("s"), F.col(b).alias("t")).distinct()

    def _affected(self, rem_w: DataFrame) -> DataFrame:
        """Pairs (x, y) whose minimal cost may change when the
        ``rem_w`` (s, t, w) edges disappear:
        d(x,s) + w + d(t,y) == d(x,y) over the pre-deletion table,
        with d(v,v) = 0 supplied for the endpoint cases. Two hash
        joins; output is the affected pairs only.

        Under ``sources`` restriction the table holds no suffix
        distances d(t, y) for non-source t, so the pair-level test
        cannot be evaluated; the over-approximation coarsens to the
        SOURCE level — every pair of a source whose tree reaches a
        removed edge's tail (d(x, s) exists, or x == s) is deleted and
        that source's tree re-derived. Work is the affected sources'
        trees, still never the whole state."""

        val = self.val
        if self.sources is not None:
            reaches_tail = (
                self.dist.join(
                    rem_w.select("s"),
                    self.dist["y"] == rem_w["s"],
                    "left_semi",
                )
                .select("x")
                .distinct()
            )
            is_tail = (
                self.dist.select("x")
                .distinct()
                .join(
                    rem_w.select(F.col("s").alias("x")).distinct(),
                    "x",
                    "left_semi",
                )
            )
            aff_src = reaches_tail.unionByName(is_tail).distinct()
            return (
                self.dist.join(aff_src, "x", "left_semi")
                .select("x", "y")
                .distinct()
            )

        zero = F.lit(0.0) if self.weighted else F.lit(0)
        zeros_x = (
            self.dist.select(F.col("x").alias("v"))
            .unionByName(self.edges.select(F.col("s").alias("v")))
            .distinct()
            .select(F.col("v").alias("x"), F.col("v").alias("y"),
                    zero.alias(val))
        )
        zeros_y = (
            self.dist.select(F.col("y").alias("v"))
            .unionByName(self.edges.select(F.col("t").alias("v")))
            .distinct()
            .select(F.col("v").alias("x"), F.col("v").alias("y"),
                    zero.alias(val))
        )
        dplus_pre = self.dist.unionByName(zeros_x)   # prefixes d(x, s)
        dplus_suf = self.dist.unionByName(zeros_y)   # suffixes d(t, y)
        pre = dplus_pre.select(
            F.col("x"), F.col("y").alias("s"), F.col(val).alias("d1")
        )
        suf = dplus_suf.select(
            F.col("x").alias("t"), F.col("y"), F.col(val).alias("d2")
        )
        through = (
            pre.join(rem_w, "s")
            .join(suf, "t")
            .select(
                "x", "y",
                (F.col("d1") + F.col("w") + F.col("d2")).alias("d"),
            )
        )
        # Weighted costs are float sums whose grouping differs between
        # the maintained value and the prefix+w+suffix decomposition;
        # a small tolerance keeps the over-approximation SOUND (extra
        # marked pairs re-derive to the same value, missed pairs would
        # keep a stale cost). The tolerance is RELATIVE: double sums
        # near 1e7+ (or long paths) accumulate more than 1e-9 of
        # absolute error, and an absolute bound would silently miss an
        # affected pair — the stale-cost direction. Unweighted hops
        # compare exactly.
        if self.weighted:
            cond = F.abs(F.col(val) - F.col("d")) <= F.lit(1e-9) * F.greatest(
                F.lit(1.0), F.abs(F.col(val))
            )
        else:
            cond = F.col(val) == F.col("d")
        return (
            self.dist.join(through, ["x", "y"])
            .filter(cond)
            .select("x", "y")
            .distinct()
        )

    def apply(
        self,
        added: Optional[DataFrame] = None,
        retracted: Optional[DataFrame] = None,
    ) -> DataFrame:
        """One epoch: apply edge additions/retractions, advance the
        maintained table, return weighted diffs (x, y, val, diff)."""

        from ..operators.graph import _relax

        val = self.val
        add = self._norm_add(added)
        rem = self._norm_rem(retracted)
        old_dist = self.dist
        old_edges = self.edges

        if rem is not None:
            # inner join both restricts rem to stored edges AND
            # attaches their weight: (s, t, w) actually removed
            rem_w, n_rem = materialize_count(rem.join(old_edges, ["s", "t"]))
            if not n_rem:
                rem = rem_w = None
        else:
            rem_w = None
        base_edges = old_edges
        if rem is not None:
            base_edges = base_edges.join(rem, ["s", "t"], "left_anti")
        if add is not None:
            # effective additions: new pairs, or strictly lower weight
            # than the (post-retraction) stored edge.
            add, n_add = materialize_count(
                add.join(
                    base_edges.select(
                        "s", "t", F.col("w").alias("__wb")
                    ),
                    ["s", "t"], "left",
                )
                .filter(F.col("__wb").isNull() | (F.col("w") < F.col("__wb")))
                .select("s", "t", "w")
            )
            if not n_add:
                add = None
        new_edges = base_edges
        if add is not None:
            new_edges = (
                new_edges.unionByName(add)
                .groupBy("s", "t")
                .agg(F.min("w").alias("w"))
            )
        new_edges = materialize(new_edges)

        # -- delete phase (DRed over-delete) --
        if rem_w is not None:
            affected = materialize(self._affected(rem_w))
            surviving = old_dist.join(
                affected, ["x", "y"], "left_anti"
            ).transform(materialize)
        else:
            affected = None
            surviving = old_dist

        # -- seeds: candidates whose derivation touches the change --
        seeds = []
        if add is not None:
            direct = add.select(
                F.col("s").alias("x"), F.col("t").alias("y"),
                F.col("w").alias(val),
            )
            if self.sources is not None:
                direct = direct.join(
                    self.sources.select(F.col("s").alias("x")), "x"
                )
            seeds.append(direct)
            seeds.append(  # maintained prefix + improving edge
                surviving.join(add, surviving["y"] == add["s"]).select(
                    "x", F.col("t").alias("y"),
                    (F.col(val) + F.col("w")).alias(val),
                )
            )
        if affected is not None:
            # re-derivation base: edges and surviving-prefix extensions
            # landing in the affected region.
            base = new_edges.select(
                F.col("s").alias("x"), F.col("t").alias("y"),
                F.col("w").alias(val),
            ).join(affected, ["x", "y"], "left_semi")
            seeds.append(base)
            seeds.append(
                surviving.join(new_edges, surviving["y"] == new_edges["s"])
                .select(
                    "x", F.col("t").alias("y"),
                    (F.col(val) + F.col("w")).alias(val),
                )
                .join(affected, ["x", "y"], "left_semi")
            )
        delta = None
        if seeds:
            cand0 = seeds[0]
            for s in seeds[1:]:
                cand0 = cand0.unionByName(s)
            cand0 = cand0.groupBy("x", "y").agg(F.min(val).alias(val))
            # improvements vs surviving state only
            delta, n_delta = materialize_count(
                cand0.join(
                    surviving.select("x", "y", F.col(val).alias("__h")),
                    ["x", "y"], "left",
                )
                .filter(F.col("__h").isNull() | (F.col(val) < F.col("__h")))
                .select("x", "y", val)
            )
            if not n_delta:
                delta = None
        if delta is None and affected is None:
            self.edges = new_edges
            return old_dist.limit(0).withColumn("diff", F.lit(1))

        dist = surviving
        if delta is not None:
            # -- the batch operators' relaxation, seeded with the
            # improving rows --
            dist = (
                _relax(
                    surviving.unionByName(delta)
                    .groupBy("x", "y")
                    .agg(F.min(val).alias("cost")),
                    delta.withColumnRenamed(val, "cost"),
                    new_edges,
                    1,
                    self.max_iters,
                )
                .withColumnRenamed("cost", val)
                .transform(materialize)
            )
        removed_rows = old_dist.exceptAll(dist).withColumn("diff", F.lit(-1))
        added_rows = dist.exceptAll(old_dist).withColumn("diff", F.lit(1))
        self.dist = dist
        self.edges = new_edges
        return removed_rows.unionByName(added_rows)


class IncrementalShortestHops(IncrementalShortestPaths):
    """Unweighted form: every edge costs one hop (output column
    ``hops``). Kept as its own name because it is the maintained twin
    of the ``shortest_hops`` batch operator and the declared
    ``shortest_hops`` query."""

    def __init__(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        sources: Optional[DataFrame] = None,
        max_iters: int = 100,
    ) -> None:
        super().__init__(
            edges, src=src, dst=dst, cost=None, sources=sources,
            max_iters=max_iters,
        )


class IncrementalCC:
    """Incrementally-maintained connected components over a changing
    undirected edge set — the maintained twin of
    ``operators/dedup.py::connected_components`` (and hence of the
    declared ``graph_cc`` / ``dedup_groups`` pairs→clusters step).

    CC is not a per-key aggregate — one edge can merge or split
    label sets spanning many vertices — so the maintenance unit is
    the COMPONENT, not the key:

    - affected components = the maintained labels of every endpoint
      touched by the epoch's delta (adds and retracts alike);
    - the affected SUBGRAPH is the surviving edges with an endpoint
      in those components (old components are closed under old edges,
      and a new edge's endpoints are touched by construction, so the
      one-sided semi-join covers every relevant edge);
    - the batch operator recomputes labels on that subgraph only —
      merges (an add bridging two components) and splits (a retract
      disconnecting one) both fall out of the recompute, no DRed
      bookkeeping — and new-minus-old on the restricted labelings is
      the epoch's ± diff stream. Unaffected components are never
      read, never recomputed, never re-emitted.

    Work per epoch is O(delta + affected components' edges). Edge
    semantics are SET semantics, exactly the batch operator's
    (it distincts its input): re-adding a present edge is a no-op and
    a retract removes the edge outright; when one epoch adds and
    retracts the same edge, the retract wins. State (edge set +
    labels) is localCheckpointed per epoch; ``current()`` is the
    maintained labeling, gated equal to the batch operator on the
    surviving edges in test_incremental.py.
    """

    def __init__(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        max_iters: int = 25,
        step: int = 6,
    ) -> None:
        from ..operators.dedup import connected_components

        self.max_iters = max_iters
        self.step = step
        self.edges = materialize(
            self._norm(edges.select(F.col(src), F.col(dst)))
        )
        self.labels = connected_components(
            self.edges, "u", "v", max_iters=max_iters, step=step
        ).transform(materialize)

    @staticmethod
    def _norm(df: DataFrame) -> DataFrame:
        """(u, v) with u <= v, distinct — undirected set form; takes
        the frame's first two columns as endpoints."""

        a, b = df.columns[:2]
        return df.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        ).distinct()

    def current(self) -> DataFrame:
        return self.labels

    def apply(
        self,
        added: Optional[DataFrame] = None,
        retracted: Optional[DataFrame] = None,
    ) -> DataFrame:
        from ..operators.dedup import connected_components

        spark = self.edges.sparkSession
        empty_pairs = spark.createDataFrame([], self.edges.schema)
        add_e = self._norm(added) if added is not None else empty_pairs
        ret_e = (
            self._norm(retracted) if retracted is not None else empty_pairs
        )
        new_edges = (
            self.edges.unionByName(add_e)
            .distinct()
            .join(ret_e, ["u", "v"], "left_anti")
            .transform(materialize)
        )
        delta_verts = (
            add_e.select(F.col("u").alias("id"))
            .unionByName(add_e.select(F.col("v").alias("id")))
            .unionByName(ret_e.select(F.col("u").alias("id")))
            .unionByName(ret_e.select(F.col("v").alias("id")))
            .distinct()
        )
        touched_comps = (
            self.labels.join(delta_verts, "id", "left_semi")
            .select("component")
            .distinct()
        )
        old_sub = self.labels.join(
            touched_comps, "component", "left_semi"
        ).transform(materialize)
        affected = (
            old_sub.select("id").unionByName(delta_verts).distinct()
        )
        sub_edges = new_edges.join(
            affected.withColumnRenamed("id", "u"), "u", "left_semi"
        )
        new_sub = connected_components(
            sub_edges, "u", "v", max_iters=self.max_iters, step=self.step
        ).transform(materialize)
        diffs = materialize(
            _fold(
                old_sub.select("id", "component", F.lit(-1).alias("diff"))
                .unionByName(
                    new_sub.select("id", "component", F.lit(1).alias("diff"))
                ),
                ("diff",),
            )
        )
        self.labels = (
            self.labels.join(old_sub, "id", "left_anti")
            .unionByName(new_sub)
            .transform(materialize)
        )
        self.edges = new_edges
        return diffs


class IncrementalPageRank:
    """Incrementally-maintained PageRank with the batch operator's
    exact semantics (operators/graph.py::pagerank): fixed ``iters``
    iterations, per-iteration rounding to ``scale`` decimals, dangling
    nodes keep the random-jump term.

    Fixed-iteration PageRank is NOT a lattice fixpoint (rank changes
    are not monotone), so the shortest-paths delta relaxation does not
    apply. Instead the maintainer stores the PER-ITERATION rank tables
    pr_0..pr_iters and, per epoch of edge additions/retractions,
    re-evaluates each level ONLY on its affected frontier:

    - structurally affected (every level): targets of added/removed
      edges, plus out-neighbors of any node whose out-degree changed
      (their contribution term rank/deg changes at every level);
    - dynamically affected (level i): out-neighbors (under the new
      edge set) of nodes whose level i-1 rank actually CHANGED after
      rounding — rounding collapses far-field perturbations, so the
      frontier typically shrinks instead of flooding the graph.

    Each level recomputes ``in_sum`` only for frontier nodes (the join
    e ⋈ frontier restricts to their full in-neighborhoods) against the
    stored previous-level ranks overridden by that level's changes —
    work proportional to affected neighborhoods, never an edge-set
    scan. Changing the NODE SET changes N (hence the base term of
    every node), so such epochs fall back to a full rebuild —
    ``last_epoch_mode`` reports 'incremental' | 'rebuild' | 'noop' so
    callers (and the gate) can see which path ran.

    State: iters+1 rank tables of |V| rows plus edges and out-degrees,
    localCheckpointed per epoch. ``apply`` returns weighted diffs
    (node, rank, diff); ``current`` equals the batch operator on the
    current edge set (gated in test_incremental.py).
    """

    def __init__(
        self,
        edges: DataFrame,
        src: str = "src",
        dst: str = "dst",
        iters: int = 10,
        damping: float = 0.85,
        scale: int = 6,
    ) -> None:
        self.iters = iters
        self.damping = damping
        self.scale = scale
        self.edges = (
            edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
            .distinct()
            .transform(materialize)
        )
        self.last_epoch_mode: Optional[str] = None
        self._full_build()

    # -- batch-identical level construction --------------------------

    def _full_build(self) -> None:
        """(Re)build nodes, out-degrees, and the per-level rank tables
        with the batch operator's exact (decimal-sum, order-
        independent) arithmetic — graph.py::PR_CONTRIB_SQL /
        pr_rank_sql, so maintained levels and batch recomputation
        agree bit-for-bit."""

        from ..operators.graph import PR_CONTRIB_SQL, pr_rank_sql

        e = self.edges
        self.nodes, self.n = materialize_count(
            e.select(F.col("s").alias("node"))
            .unionByName(e.select(F.col("t").alias("node")))
            .distinct()
        )
        self.outdeg = (
            e.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .transform(materialize)
        )
        self._base = (
            f"{round((1.0 - self.damping) / self.n, self.scale):.{self.scale}f}"
        )
        pr = self.nodes.select(
            "node", F.lit(round(1.0 / self.n, self.scale)).alias("rank")
        ).transform(materialize)
        self.prs = [pr]
        for _ in range(self.iters):
            contrib = (
                pr.join(self.outdeg, "node")
                .join(e, pr["node"] == e["s"])
                .select(
                    F.col("t").alias("node"),
                    F.expr(
                        PR_CONTRIB_SQL.format(rank="rank", deg="deg")
                    ).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            pr = (
                self.nodes.join(contrib, "node", "left")
                .select(
                    "node",
                    F.expr(
                        pr_rank_sql(self._base, self.damping, self.scale)
                    ).alias("rank"),
                )
                .transform(materialize)
            )
            self.prs.append(pr)

    def current(self) -> DataFrame:
        return self.prs[-1]

    @staticmethod
    def _norm(df: Optional[DataFrame]) -> Optional[DataFrame]:
        if df is None:
            return None
        a, b = df.columns[0], df.columns[1]
        return df.select(F.col(a).alias("s"), F.col(b).alias("t")).distinct()

    def _diffs(self, old_final: DataFrame, new_final: DataFrame) -> DataFrame:
        """Weighted diffs between two rank tables: retract the old
        value and assert the new one for every node whose rank moved
        (node-set changes emit one-sided rows)."""

        o = old_final.select("node", F.col("rank").alias("old_rank"))
        nw = new_final.select("node", F.col("rank").alias("new_rank"))
        j = o.join(nw, "node", "full_outer")
        changed = j.filter(
            ~(F.col("old_rank").eqNullSafe(F.col("new_rank")))
        )
        retracts = changed.filter(F.col("old_rank").isNotNull()).select(
            "node",
            F.col("old_rank").alias("rank"),
            F.lit(-1).cast("long").alias("diff"),
        )
        asserts = changed.filter(F.col("new_rank").isNotNull()).select(
            "node",
            F.col("new_rank").alias("rank"),
            F.lit(1).cast("long").alias("diff"),
        )
        return retracts.unionByName(asserts)

    def apply(
        self,
        added: Optional[DataFrame] = None,
        retracted: Optional[DataFrame] = None,
    ) -> DataFrame:
        """One epoch of edge additions/retractions; returns weighted
        diffs (node, rank, diff) of the FINAL level."""

        add = self._norm(added)
        rem = self._norm(retracted)
        old_edges = self.edges
        old_final = self.prs[-1]

        # Effective change sets (no-op adds/removes drop out).
        add_eff = rem_eff = None
        if add is not None:
            add_eff, n = materialize_count(
                add.join(old_edges, ["s", "t"], "left_anti")
            )
            add_eff = add_eff if n else None
        if rem is not None:
            rem_eff, n = materialize_count(rem.join(old_edges, ["s", "t"]))
            rem_eff = rem_eff if n else None
        if add_eff is None and rem_eff is None:
            self.last_epoch_mode = "noop"
            return self._diffs(old_final, old_final)

        new_edges = old_edges
        if rem_eff is not None:
            new_edges = new_edges.join(rem_eff, ["s", "t"], "left_anti")
        if add_eff is not None:
            new_edges = new_edges.unionByName(add_eff)
        self.edges = materialize(new_edges)

        # Node-set change => N changes => every node's base term and
        # seed rank change: rebuild (the well-defined fallback).
        new_nodes = (
            self.edges.select(F.col("s").alias("node"))
            .unionByName(self.edges.select(F.col("t").alias("node")))
            .distinct()
        )
        node_delta = new_nodes.join(
            self.nodes, "node", "full_outer"
        ).count() != self.n or new_nodes.count() != self.n
        if node_delta:
            self.last_epoch_mode = "rebuild"
            self._full_build()
            return self._diffs(old_final, self.prs[-1])

        old_outdeg = self.outdeg
        self.outdeg = (
            self.edges.groupBy(F.col("s").alias("node"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .transform(materialize)
        )
        deg_changed = (
            self.outdeg.join(
                old_outdeg.withColumnRenamed("deg", "old_deg"),
                "node",
                "full_outer",
            )
            .filter(~F.col("deg").eqNullSafe(F.col("old_deg")))
            .select("node")
        )

        # Structurally affected at EVERY level: endpoints of changed
        # in-edges plus out-neighbors (new edge set) of deg-changed
        # nodes.
        parts = [
            self.edges.join(
                deg_changed.withColumnRenamed("node", "s"), "s"
            ).select(F.col("t").alias("node"))
        ]
        if add_eff is not None:
            parts.append(add_eff.select(F.col("t").alias("node")))
        if rem_eff is not None:
            parts.append(rem_eff.select(F.col("t").alias("node")))
        d_struct = parts[0]
        for p in parts[1:]:
            d_struct = d_struct.unionByName(p)
        d_struct = materialize(d_struct.distinct())

        from ..operators.graph import PR_CONTRIB_SQL, pr_rank_sql

        e = self.edges
        changed: Optional[DataFrame] = None  # (node, new_rank) at i-1
        new_prs = [self.prs[0]]  # level 0 is uniform; N unchanged
        for i in range(1, self.iters + 1):
            frontier = d_struct
            if changed is not None:
                dyn = e.join(
                    changed.select(F.col("node").alias("s")), "s"
                ).select(F.col("t").alias("node"))
                frontier = frontier.unionByName(dyn).distinct()
            # Previous-level ranks = stored table overridden by the
            # previous level's changes (only in-neighbors of the
            # frontier are ever read).
            prev = self.prs[i - 1]
            if changed is not None:
                prev = (
                    prev.join(
                        F.broadcast(
                            changed.withColumnRenamed("new_rank", "__nr")
                        ),
                        "node",
                        "left",
                    )
                    .select(
                        "node",
                        F.coalesce(F.col("__nr"), F.col("rank")).alias(
                            "rank"
                        ),
                    )
                )
            in_e = e.join(
                frontier.withColumnRenamed("node", "t"), "t"
            )  # (s, t) edges INTO the frontier
            contrib = (
                in_e.join(
                    prev.withColumnRenamed("node", "s"), "s"
                )
                .join(self.outdeg.withColumnRenamed("node", "s"), "s")
                .select(
                    F.col("t").alias("node"),
                    F.expr(
                        PR_CONTRIB_SQL.format(rank="rank", deg="deg")
                    ).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_sum"))
            )
            new_vals = (
                frontier.join(contrib, "node", "left")
                .select(
                    "node",
                    F.expr(
                        pr_rank_sql(self._base, self.damping, self.scale)
                    ).alias("new_rank"),
                )
            )
            changed, n_changed = materialize_count(
                new_vals.join(self.prs[i], "node")
                .filter(F.col("new_rank") != F.col("rank"))
                .select("node", "new_rank")
            )
            if not n_changed:
                changed = None
                new_pr = self.prs[i]
            else:
                new_pr = (
                    self.prs[i]
                    .join(F.broadcast(changed), "node", "left")
                    .select(
                        "node",
                        F.coalesce(
                            F.col("new_rank"), F.col("rank")
                        ).alias("rank"),
                    )
                    .transform(materialize)
                )
            new_prs.append(new_pr)
        self.prs = new_prs
        self.last_epoch_mode = "incremental"
        return self._diffs(old_final, self.prs[-1])


class IncrementalEdgeSupport(_TouchedKeyMaintainer):
    """Maintained per-edge triangle support (the k-truss measure,
    operators/graph.py::edge_triangle_support) under streaming edge
    adds AND retractions — the graph twin of the touched-key
    maintainers (ADR 0011): a delta edge {a, b} changes N(a) and N(b)
    ONLY, so support can move only for edges INCIDENT to a or b. The
    touched keys are those endpoints, and the slice recounts exactly
    the incident edges through the shared batch core (graph.support_of
    — wedge joins over the FULL adjacency state, canon restricted to
    the slice). Emits (a, b, support, diff) with -1 retracting an
    edge's previous support row and +1 asserting the new one; an
    untouched edge emits nothing.

    Per-epoch compute is O(batch + sum of touched endpoints' degrees)
    — never a full-graph triangle recount; state is the signed
    canonical edge multiset (a, b, cnt) on the generational store."""

    WEIGHTS = {"edges": ("cnt",)}
    OUT_KEY = None

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        src: str = "src",
        dst: str = "dst",
    ) -> None:
        super().__init__(spark, state_dir)
        self.src = src
        self.dst = dst

    def _project(self, edges: DataFrame) -> DataFrame:
        return edges.select(
            F.least(F.col(self.src), F.col(self.dst)).alias("a"),
            F.greatest(F.col(self.src), F.col(self.dst)).alias("b"),
        ).filter(F.col("a") != F.col("b"))

    @staticmethod
    def _und(canon: DataFrame) -> DataFrame:
        return canon.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).union(
            canon.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )

    def _touched(self, delta: DataFrame) -> DataFrame:
        return (
            delta.select(F.col("a").alias("node"))
            .union(delta.select(F.col("b").alias("node")))
            .distinct()
            .transform(materialize)
        )

    def _slice(self, state: DataFrame, touched: DataFrame) -> DataFrame:
        from ..operators.graph import support_of

        st = materialize(state.select("a", "b"), eager=False)
        # re-select (a, b) after each semijoin: a string-key join puts
        # the JOIN KEY first, so a positional union of the "a"-keyed
        # and "b"-keyed sides would swap pairs.
        t_a = st.join(
            touched.withColumnRenamed("node", "a"), "a", "left_semi"
        ).select("a", "b")
        t_b = st.join(
            touched.withColumnRenamed("node", "b"), "b", "left_semi"
        ).select("a", "b")
        tc = t_a.union(t_b).distinct()
        return support_of(materialize(self._und(st), eager=False), tc)

    def _core(self, state: DataFrame) -> DataFrame:
        from ..operators.graph import support_of

        st = materialize(state.select("a", "b"), eager=False)
        return support_of(materialize(self._und(st), eager=False), st)
