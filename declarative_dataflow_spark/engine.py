"""The Engine: attribute catalog + rule registry + query lifecycle.

Plays the role of the reference's ``Server``/``Domain`` pair
(reference: src/server/mod.rs, src/domain/mod.rs): clients create
attributes, transact weighted (e, a, v) datoms, register named rules
(plans), and ``interest`` in a rule to obtain results. Spark-first
differences:

- Attributes are DataFrames, not differential arrangements. A
  transacted attribute accumulates datom batches; a table-backed
  attribute is a lazy column-pruned view over a parquet table
  (the analog of the reference's per-attribute collections,
  docs/adr/0002-data-model.md) and carries lineage so the Hector
  compiler can fuse same-entity scans.
- ``interest`` compiles the rule bottom-up via ``plan.compiler`` and
  returns a DataFrame; recursion runs a driver-side semi-naive
  fixpoint (the reference's iterative scope + Variables,
  src/lib.rs:943-1019).
- Input semantics (Raw / LastWriteWins / Distinct,
  reference: src/lib.rs:341-357) are applied when an attribute is
  read, as window/dedup transformations.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import dataclasses
from dataclasses import dataclass, field
from enum import Enum
from typing import Any, Callable, Iterable, Optional

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType, _parse_datatype_string
from pyspark.sql.window import Window

from .plan.compiler import (
    DIFF,
    AttributeSource,
    Catalog,
    Relation,
    UnboundRule,
    _rule_refs,
    compile_plan,
    vcol,
)
from .plan.plans import (
    Aggregate,
    Antijoin,
    NameExpr,
    Negate,
    Plan,
    Union,
    children,
)
from .scratch import materialize_count


def _occurrence_count(plan: Plan, recursive: set[str]) -> int:
    """Number of NameExpr references to any rule in ``recursive``."""

    n = int(isinstance(plan, NameExpr) and plan.name in recursive)
    return n + sum(_occurrence_count(c, recursive) for c in children(plan))


def _substitute_occurrence(
    plan: Plan, recursive: set[str], target: int, counter: list[int]
) -> Plan:
    """Copy ``plan`` with recursive NameExpr occurrence ``target``
    renamed to ``<name>@delta`` and every other recursive occurrence to
    ``<name>@new`` (resolved against fixpoint iterates via bound_rules).
    ``counter`` carries the running occurrence index (pre-order)."""

    if isinstance(plan, NameExpr) and plan.name in recursive:
        idx = counter[0]
        counter[0] += 1
        suffix = "@delta" if idx == target else "@new"
        return NameExpr(list(plan.variables_), plan.name + suffix)
    changes: dict[str, Any] = {}
    for f in dataclasses.fields(plan):
        v = getattr(plan, f.name)
        if isinstance(v, Plan):
            changes[f.name] = _substitute_occurrence(
                v, recursive, target, counter
            )
        elif isinstance(v, list) and any(isinstance(x, Plan) for x in v):
            changes[f.name] = [
                _substitute_occurrence(x, recursive, target, counter)
                if isinstance(x, Plan)
                else x
                for x in v
            ]
    return dataclasses.replace(plan, **changes) if changes else plan


def _delta_step_plan(rule: Plan, recursive: set[str]) -> Plan:
    """The per-iteration step plan for generalized semi-naive: one
    rewritten branch per recursive occurrence, unioned. Base-case
    branches (no recursive reference) are dropped — they contribute
    nothing after iteration 0 — so per-iteration work tracks the delta.
    """

    variables = rule.variables()
    if isinstance(rule, Union):
        branches = list(rule.plans)
    else:
        branches = [rule]
    variants: list[Plan] = []
    for branch in branches:
        k = _occurrence_count(branch, recursive)
        for i in range(k):
            variants.append(
                _substitute_occurrence(branch, recursive, i, [0])
            )
    if not variants:
        # No recursive reference at all (defensive; such a rule is not
        # recursive) — iterating the rule itself is still correct.
        return rule
    return Union(list(variables), variants)


def _is_monotone(plan: Plan, recursive: Optional[set[str]] = None) -> bool:
    """True if the plan is monotone in the recursion variables: its
    fixpoint iterates only grow, so semi-naive evaluation applies and
    count equality implies convergence.

    With ``recursive`` given, the test is STRATIFICATION-aware: a
    Negate/Aggregate node — or an Antijoin's negated right side — only
    breaks monotonicity when its subtree references a rule in the
    cycle. Negation over static inputs or lower-stratum rules keeps
    the rule monotone w.r.t. its own cycle (the classic stratified
    semi-naive argument); an Antijoin's LEFT side is a positive
    position and is checked recursively. Without ``recursive`` the
    test is the conservative any-negation form."""

    if isinstance(plan, (Negate, Aggregate)):
        if recursive is None:
            return False
        return not (_rule_refs(plan) & recursive)
    if isinstance(plan, Antijoin):
        if recursive is None:
            return False
        if _rule_refs(plan.right_plan) & recursive:
            return False
        return _is_monotone(plan.left_plan, recursive)
    return all(_is_monotone(c, recursive) for c in children(plan))


class InputSemantics(str, Enum):
    """Reference: src/lib.rs:341-357."""

    RAW = "Raw"
    LAST_WRITE_WINS = "LastWriteWins"
    DISTINCT = "Distinct"
    # Declared but never implemented by the reference (the CAS operator
    # and its test are commented out, tests/input_semantics.rs:299-333;
    # no src/operators implementation exists). Completed here: each op
    # is (expected_old, proposed_new); the write applies iff the
    # entity's current value equals expected_old (NULL expected_old =
    # expect absent; NULL proposed_new = delete).
    COMPARE_AND_SWAP = "CompareAndSwap"


@dataclass
class AttributeConfig:
    """Per-attribute configuration (reference: src/lib.rs:389-401).

    ``trace_slack`` bounds retained history: ``Engine.advance_traces``
    compacts the attribute's transacted rows to ``frontier - slack``
    (the reference's Domain::advance_traces, src/domain/mod.rs:291-341),
    and ReactiveSession calls it every epoch. ``index_direction`` /
    ``query_support`` govern arrangement maintenance in the reference;
    on Spark indexes are not materialized (Catalyst plans scans/joins),
    so they are accepted for API parity only.
    """

    input_semantics: InputSemantics = InputSemantics.RAW
    trace_slack: Optional[int] = None
    index_direction: str = "Forward"
    query_support: str = "Basic"
    # SQL type of CompareAndSwap values (the op struct is
    # struct<old:cas_value_type, new:cas_value_type>).
    cas_value_type: str = "long"


@dataclass
class Datom:
    """(e, a, v, t, diff) — reference: src/lib.rs:216-239."""

    e: Any
    a: str
    v: Any
    t: Optional[int] = None
    diff: int = 1

    @staticmethod
    def add(e: Any, a: str, v: Any, t: Optional[int] = None) -> "Datom":
        return Datom(e, a, v, t, 1)

    @staticmethod
    def retract(e: Any, a: str, v: Any, t: Optional[int] = None) -> "Datom":
        return Datom(e, a, v, t, -1)

    @staticmethod
    def cas(
        e: Any,
        a: str,
        old: Any,
        new: Any,
        t: Optional[int] = None,
    ) -> "Datom":
        """A compare-and-swap op for a COMPARE_AND_SWAP attribute: the
        value is the (expected_old, proposed_new) pair — the reference's
        commented-out `(Eid, Option<Value>, Option<Value>)` input shape
        (tests/input_semantics.rs:313-330)."""

        return Datom(e, a, (old, new), t, 1)


@dataclass
class Rule:
    """Named plan (reference: src/lib.rs:456-462)."""

    name: str
    plan: Plan


def local_frame(
    spark: SparkSession,
    rows: list[tuple],
    names: list[str],
    schema: Optional[str] = None,
) -> DataFrame:
    """Rows held in Python as a ``LocalRelation`` built from one Arrow
    table: creating it runs no Spark job, and its exact size statistics
    let Catalyst broadcast it. ``schema`` is a DDL string over
    ``names``; without one the schema is the one ``createDataFrame(rows)``
    infers (Arrow's own inference differs, e.g. decimal(3,2) where
    Spark gives decimal(38,18)), so frames built here union with
    row-built ones. Spark keeps the relation local up to
    ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB by
    default) of Arrow data and ships anything larger as an RDD scan.
    ``rows`` must be non-empty."""

    struct = (
        spark._inferSchemaFromList(rows, names=names)
        if schema is None
        else _parse_datatype_string(schema)
    )
    table = pa.table(
        dict(zip(names, map(list, zip(*rows)))),
        schema=to_arrow_schema(struct),
    )
    return spark.createDataFrame(table, schema=struct)


def empty_frame(spark: SparkSession, schema: "str | StructType") -> DataFrame:
    """A frame with no rows, ``schema`` a DDL string or a StructType:
    an empty Arrow-built ``LocalRelation``, so reading it runs no Spark
    job (``createDataFrame([], schema)`` scans an empty RDD instead,
    one job per read)."""

    struct = (
        _parse_datatype_string(schema) if isinstance(schema, str) else schema
    )
    return spark.createDataFrame(
        to_arrow_schema(struct).empty_table(), schema=struct
    )


class _TransactedAttribute:
    """Accumulates datom batches for one attribute.

    Recent rows live in a driver-side list (cheap for the protocol /
    test path) and are read as one Arrow-built ``LocalRelation``
    (``local_frame``), so Catalyst sizes every read of them exactly;
    once the list passes ``SPILL_ROWS`` it is flushed to a parquet
    spill directory and read back as an ordinary scan, so a
    long-lived attribute's history is bounded on the driver by one
    spill threshold regardless of total volume (the streaming
    ``transact_frame`` path never touches the driver at all).
    """

    SPILL_ROWS = 250_000
    _SCHEMA = "e long, v string, t long, diff long, __seq long"

    def __init__(self, spark: SparkSession, config: AttributeConfig):
        self.spark = spark
        self.config = config
        self.rows: list[tuple] = []  # (e, v, t, diff, seq)
        # Arrival order, assigned at append time: an explicit column in
        # the data, so LWW tie-breaks are deterministic regardless of
        # partition layout (monotonically_increasing_id is not).
        self._seq = 0
        self._cached: Optional[DataFrame] = None
        self._spill_dir: Optional[str] = None
        self._spill_version = 0

    def append(self, rows: Iterable[tuple]) -> None:
        for r in rows:
            self.rows.append((*r, self._seq))
            self._seq += 1
        self._cached = None
        if len(self.rows) >= self.SPILL_ROWS:
            self._flush()

    # -- spill tier ------------------------------------------------------

    def _spill_path(self) -> str:
        if self._spill_dir is None:
            self._spill_dir = tempfile.mkdtemp(prefix="ddspark_attr_")
        return os.path.join(self._spill_dir, f"v{self._spill_version}")

    def _schema(self) -> Optional[str]:
        """Explicit schema for CAS attributes (a struct value with an
        all-NULL field defeats inference); None = infer from data."""

        if self.config.input_semantics == InputSemantics.COMPARE_AND_SWAP:
            vt = self.config.cas_value_type
            return (
                f"e long, v struct<old:{vt},new:{vt}>, "
                "t long, diff long, __seq long"
            )
        return None

    def _heap_df(self) -> DataFrame:
        # Types are inferred from the data (values may be ints for
        # entity refs, strings for scalars — consistent per attribute)
        # except for CAS ops, whose struct schema is explicit.
        return local_frame(
            self.spark,
            self.rows,
            ["e", "v", "t", "diff", "__seq"],
            self._schema(),
        )

    def _flush(self) -> None:
        """Move the driver-held rows into the parquet spill tier."""

        if not self.rows:
            return
        self._heap_df().write.mode("append").parquet(self._spill_path())
        self.rows = []
        self._cached = None

    def _raw_dataframe(self) -> DataFrame:
        pieces = []
        if self._spill_dir is not None:
            path = self._spill_path()
            if os.path.exists(path):
                pieces.append(self.spark.read.parquet(path))
        if self.rows:
            pieces.append(self._heap_df())
        if not pieces:
            return self.spark.createDataFrame(
                [], schema=self._schema() or self._SCHEMA
            )
        out = pieces[0]
        for p in pieces[1:]:
            out = out.unionByName(p)
        return out

    def compact(self, cutoff: int) -> int:
        """Consolidate history at times <= ``cutoff`` (the reference's
        advance_traces: merge diffs at times the compacted trace no
        longer distinguishes, src/domain/mod.rs:291-341). Rows newer
        than the cutoff are untouched, so any query or late write
        within the slack answers exactly as before. Returns the number
        of rows dropped.

        Per input semantics:
        - LastWriteWins keeps only each entity's winning row (and a
          winning retraction, so a resurrected older write cannot slip
          past a recorded delete);
        - Raw/Distinct fold (e, v) groups into one net-weight row
          stamped at the cutoff (zero-weight groups vanish).
        """

        if self._spill_dir is not None:
            return self._compact_spilled(cutoff)
        old = [r for r in self.rows if r[2] <= cutoff]
        if not old:
            return 0
        new = [r for r in self.rows if r[2] > cutoff]
        kept: list[tuple] = []
        if self.config.input_semantics == InputSemantics.LAST_WRITE_WINS:
            best: dict = {}
            for r in old:  # (e, v, t, diff, seq)
                b = best.get(r[0])
                if b is None or (r[2], r[4]) > (b[2], b[4]):
                    best[r[0]] = r
            kept = list(best.values())
        elif (
            self.config.input_semantics == InputSemantics.COMPARE_AND_SWAP
        ):
            # Fold each entity's ops below the cutoff into its current
            # value and keep ONE synthetic op (expect-absent -> cur):
            # replay starts from NULL, so the synthetic op re-derives
            # the folded state before any newer ops apply.
            hist: dict = {}
            for e, v, t, diff, seq in old:
                if diff > 0:
                    hist.setdefault(e, []).append((t, seq, v))
            for e, ops in hist.items():
                cur = None
                first_seq = min(s for _, s, _ in ops)
                for _, _, (o, n) in sorted(ops):
                    if cur == o:
                        cur = n
                if cur is not None:
                    kept.append((e, (None, cur), cutoff, 1, first_seq))
        else:
            net: dict = {}
            seqs: dict = {}
            for e, v, t, diff, seq in old:
                net[(e, v)] = net.get((e, v), 0) + diff
                seqs[(e, v)] = min(seq, seqs.get((e, v), seq))
            kept = [
                (e, v, cutoff, w, seqs[(e, v)])
                for (e, v), w in net.items()
                if w != 0
            ]
        dropped = len(old) - len(kept)
        if dropped:
            self.rows = sorted(kept, key=lambda r: r[4]) + new
            self._cached = None
        return dropped

    def _compact_spilled(self, cutoff: int) -> int:
        """Spark-side compaction once history has spilled: the same
        fold as the driver path, expressed as a group-by / window over
        the spill scan, rewritten to a fresh spill version. Runs where
        the data lives — driver memory stays bounded."""

        df = self._raw_dataframe()
        before = df.count()
        old = df.filter(F.col("t") <= cutoff)
        new = df.filter(F.col("t") > cutoff)
        if self.config.input_semantics == InputSemantics.LAST_WRITE_WINS:
            w = Window.partitionBy("e").orderBy(
                F.col("t").desc(), F.col("__seq").desc()
            )
            kept = (
                old.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        elif (
            self.config.input_semantics == InputSemantics.COMPARE_AND_SWAP
        ):
            # Same fold as the driver path, Spark-side: one synthetic
            # expect-absent op per entity carrying the folded value.
            vt = self.config.cas_value_type
            grouped = (
                old.filter(F.col("diff") > 0)
                .groupBy("e")
                .agg(
                    F.expr(
                        "array_sort(collect_list("
                        "struct(t AS __t, __seq AS __s, v AS __v)))"
                    ).alias("__ops"),
                    F.min("__seq").alias("__seq"),
                )
            )
            cur = F.expr(
                f"aggregate(__ops, CAST(NULL AS {vt}), "
                "(acc, op) -> CASE WHEN acc <=> op.__v.old "
                "THEN op.__v.new ELSE acc END)"
            )
            kept = (
                grouped.select(
                    "e",
                    cur.alias("__cur"),
                    F.lit(cutoff).cast("long").alias("t"),
                    F.lit(1).cast("long").alias("diff"),
                    "__seq",
                )
                .filter(F.col("__cur").isNotNull())
                .select(
                    "e",
                    F.expr(
                        f"named_struct('old', CAST(NULL AS {vt}), "
                        "'new', __cur)"
                    ).alias("v"),
                    "t",
                    "diff",
                    "__seq",
                )
            )
        else:
            kept = (
                old.groupBy("e", "v")
                .agg(
                    F.sum("diff").alias("diff"),
                    F.min("__seq").alias("__seq"),
                )
                .filter(F.col("diff") != 0)
                .select(
                    "e", "v", F.lit(cutoff).alias("t"), "diff", "__seq"
                )
            )
        out = kept.unionByName(new)
        self._spill_version += 1
        path = self._spill_path()
        out.write.mode("overwrite").parquet(path)
        after = self.spark.read.parquet(path).count()
        prev = os.path.join(
            self._spill_dir, f"v{self._spill_version - 1}"
        )
        shutil.rmtree(prev, ignore_errors=True)
        self.rows = []
        self._cached = None
        return before - after

    def dataframe(self) -> DataFrame:
        if self._cached is None:
            self._cached = _apply_input_semantics(
                self._raw_dataframe(), self.config
            )
        return self._cached


def _apply_input_semantics(df: DataFrame, config: AttributeConfig) -> DataFrame:
    """Reference applies these at ingest (src/server/mod.rs:355-361)."""

    if config.input_semantics == InputSemantics.DISTINCT:
        # Set semantics per (e, v): present iff net weight > 0
        # (reference: src/server/mod.rs:360).
        return (
            df.groupBy("e", "v")
            .agg(F.sum("diff").alias("__w"), F.max("t").alias("t"))
            .filter(F.col("__w") > 0)
            .select("e", "v", "t", F.lit(1).cast("long").alias("diff"))
        )
    if config.input_semantics == InputSemantics.LAST_WRITE_WINS:
        # Latest write per entity wins; equal event times resolve by
        # the explicit arrival-order __seq column — the reference sorts
        # batches by time and applies a per-entity state machine in
        # arrival order (src/operators/last_write_wins.rs:57-101), and
        # a data-carried seq keeps that total order deterministic on
        # any cluster partitioning. Out-of-order input is handled
        # because the window orders by event time, not arrival order.
        # Retractions (diff<0) delete the entity's value if they match
        # the current winner.
        w = Window.partitionBy("e").orderBy(
            F.col("t").desc(), F.col("__seq").desc()
        )
        ranked = df.withColumn("__rn", F.row_number().over(w))
        return (
            ranked.filter((F.col("__rn") == 1) & (F.col("diff") > 0))
            .select("e", "v", "t", F.lit(1).cast("long").alias("diff"))
        )
    if config.input_semantics == InputSemantics.COMPARE_AND_SWAP:
        # Completed from the reference's commented-out CAS operator
        # (tests/input_semantics.rs:299-333): fold each entity's ops in
        # (t, __seq) order; an op applies iff the current value equals
        # its expected_old (`<=>` makes NULL mean "expect absent"), and
        # a NULL proposed_new deletes. One uniform-key shuffle; state
        # per entity is its op history, bounded by trace-slack
        # compaction like every transacted attribute.
        vt = config.cas_value_type
        grouped = (
            df.filter(F.col("diff") > 0)
            .groupBy("e")
            .agg(
                F.expr(
                    "array_sort(collect_list("
                    "struct(t AS __t, __seq AS __s, v AS __v)))"
                ).alias("__ops"),
                F.max("t").alias("t"),
            )
        )
        cur = F.expr(
            f"aggregate(__ops, CAST(NULL AS {vt}), "
            "(acc, op) -> CASE WHEN acc <=> op.__v.old "
            "THEN op.__v.new ELSE acc END)"
        )
        return (
            grouped.select(
                "e", cur.alias("v"), "t",
                F.lit(1).cast("long").alias("diff"),
            )
            .filter(F.col("v").isNotNull())
        )
    return df.select("e", "v", "t", "diff")


class Engine:
    """Catalog of attributes + rules; compiles plans to DataFrames."""

    def __init__(self, spark: SparkSession, enable_optimizer: bool = False):
        self.spark = spark
        # Reference: server CLI flag `enable_optimizer` routes every
        # registered rule through implement_neu
        # (src/server/mod.rs:44,304-308).
        self.enable_optimizer = enable_optimizer
        self._attributes: dict[str, AttributeSource] = {}
        self._transacted: dict[str, _TransactedAttribute] = {}
        self.rules: dict[str, Plan] = {}
        self.next_tx: int = 0
        self._table_cache: dict[str, DataFrame] = {}

    # -- attribute management -------------------------------------------

    def create_attribute(
        self, name: str, config: Optional[AttributeConfig] = None
    ) -> None:
        """Reference: CreateAttribute (src/server/mod.rs:142-149)."""

        if name in self._attributes:
            raise ValueError(f"attribute {name} already exists")
        cfg = config or AttributeConfig()
        ta = _TransactedAttribute(self.spark, cfg)
        self._transacted[name] = ta
        self._attributes[name] = AttributeSource(
            loader=ta.dataframe,
            has_diff=True,
            distinct=cfg.input_semantics == InputSemantics.DISTINCT,
        )

    def register_table(self, table_name: str, df: DataFrame) -> None:
        """Register a base table for table-backed attributes."""

        self._table_cache[table_name] = df

    def deregister_table(self, table_name: str) -> None:
        """Drop a registered table (query-local scratch views: register
        under a unique name, compile, deregister — plans compiled while
        it was registered keep their DataFrame reference). Dropping a
        name that was never registered is a no-op."""

        self._table_cache.pop(table_name, None)

    def register_table_attribute(
        self,
        aid: str,
        table_name: str,
        e_expr: str,
        v_expr: str,
        t_expr: Optional[str] = None,
        semantics: InputSemantics = InputSemantics.RAW,
        seq_expr: Optional[str] = None,
        cas_value_type: str = "double",
    ) -> None:
        """Declare an attribute as a column view over a registered table:
        ``SELECT e_expr AS e, v_expr AS v FROM table WHERE v IS NOT NULL``.

        This is the scale path: the attribute is a column-pruned parquet
        scan (the analog of the reference's per-attribute collections),
        and the Hector compiler fuses same-entity attributes of one
        table into a single scan. With ``semantics=LAST_WRITE_WINS`` and
        a ``t_expr``, the view keeps only the latest write per entity
        (reference: src/operators/last_write_wins.rs); such attributes
        are not fusable.
        """

        if table_name not in self._table_cache:
            raise KeyError(f"unknown table {table_name}")
        table_df = self._table_cache[table_name]

        def loader() -> DataFrame:
            df = table_df.filter(F.expr(v_expr).isNotNull())
            if semantics == InputSemantics.LAST_WRITE_WINS:
                # Static tables carry no arrival order, so equal event
                # times resolve by the larger value — the same rule the
                # streaming state machine applies (streaming/lww.py),
                # deterministic under any partitioning.
                w = Window.partitionBy(F.expr(e_expr)).orderBy(
                    F.expr(t_expr).desc(), F.expr(v_expr).desc()
                )
                df = df.withColumn("__rn", F.row_number().over(w)).filter(
                    F.col("__rn") == 1
                )
            if semantics == InputSemantics.COMPARE_AND_SWAP:
                # v_expr must produce struct<old,new>; ops fold per
                # entity in (t_expr, seq_expr) order — the completed
                # form of the reference's commented-out CAS operator
                # (tests/input_semantics.rs:299-333).
                sq = seq_expr or t_expr
                grouped = df.groupBy(F.expr(e_expr).alias("e")).agg(
                    F.expr(
                        f"array_sort(collect_list(struct({t_expr} AS __t, "
                        f"{sq} AS __s, {v_expr} AS __v)))"
                    ).alias("__ops")
                )
                cur = F.expr(
                    f"aggregate(__ops, CAST(NULL AS {cas_value_type}), "
                    "(acc, op) -> CASE WHEN acc <=> op.__v.old "
                    "THEN op.__v.new ELSE acc END)"
                )
                return grouped.select("e", cur.alias("v")).filter(
                    F.col("v").isNotNull()
                )
            out = df.select(F.expr(e_expr).alias("e"), F.expr(v_expr).alias("v"))
            if semantics == InputSemantics.DISTINCT:
                out = out.dropDuplicates(["e", "v"])
            return out

        plain = semantics == InputSemantics.RAW
        self._attributes[aid] = AttributeSource(
            loader=loader,
            has_diff=False,
            table=table_name if plain else None,
            e_expr=e_expr if plain else None,
            v_expr=v_expr if plain else None,
            table_loader=(lambda: table_df) if plain else None,
            distinct=semantics == InputSemantics.DISTINCT,
        )

    def register_table_attributes(
        self, table_name: str, e_expr: str, mapping: dict[str, str]
    ) -> None:
        for aid, v_expr in mapping.items():
            self.register_table_attribute(aid, table_name, e_expr, v_expr)

    def cache_attribute(self, aid: str) -> None:
        """Pin an attribute's DataFrame in executor memory — the
        analog of the reference's shared index arrangements, built
        once and imported by every dataflow (import_frontier,
        src/domain/mod.rs:475-536, 605-617). Every query compiled
        afterwards reuses the cached relation instead of re-scanning.
        """

        if aid not in self._attributes:
            raise KeyError(f"unknown attribute {aid}")
        if aid in self._transacted:
            raise ValueError(
                "transacted attributes change per transaction; cache "
                "table-backed or derived attributes"
            )
        src = self._attributes[aid]
        cached = src.dataframe().persist()
        self._attributes[aid] = AttributeSource(
            loader=(lambda: cached), has_diff=src.has_diff
        )

    def uncache_attribute(self, aid: str) -> None:
        """Release a cached attribute (the reference's arrangement
        teardown on uninterest)."""

        if aid in self._attributes:
            self._attributes[aid].dataframe().unpersist()

    def bucket_attribute(
        self,
        aid: str,
        table_name: Optional[str] = None,
        buckets: int = 32,
        path: Optional[str] = None,
        key: str = "e",
    ) -> str:
        """Materialize an attribute bucketed+sorted by ``key`` and swap
        its source to the bucketed table — the engine-level analog of
        the reference's maintained index arrangements
        (src/domain/mod.rs:475-536): subsequent joins on the bucketed
        key skip their shuffles entirely. ``key="e"`` is the forward
        (e->v) index; ``key="v"`` is the reverse index the reference
        builds for ``IndexDirection::Both`` (src/lib.rs:364-370) —
        bucket both layouts for attributes queried in either direction.
        At 100 TB, bucket the hot attributes once at ingest."""

        from .layout import save_bucketed

        if key not in ("e", "v"):
            raise ValueError("bucket key must be 'e' or 'v'")
        table_name = table_name or (
            "__bucketed_" + key + "_" + aid.replace("/", "_")
        )
        if aid not in self._attributes:
            raise KeyError(f"unknown attribute {aid}")
        src = self._attributes[aid]
        save_bucketed(src.dataframe(), table_name, key, buckets, path)
        spark = self.spark

        def loader() -> DataFrame:
            return spark.table(table_name)

        self._attributes[aid] = AttributeSource(
            loader=loader, has_diff=src.has_diff
        )
        return table_name

    def register_derived_attribute(
        self,
        aid: str,
        plan: Plan,
        e_var: str,
        v_var: str,
        distinct: bool = False,
    ) -> None:
        """Attribute whose (e, v) pairs are a query result — the
        reference's Derive mechanism (src/derive/graphql.rs:34-120),
        where materialized pull paths become queryable attributes.

        The loader closes over the plan, so the derived attribute
        always reflects the current state of its inputs; downstream
        queries compose it like any other attribute.
        """

        if aid in self._attributes:
            raise ValueError(f"attribute {aid} already exists")

        def loader() -> DataFrame:
            rel = compile_plan(plan, self.catalog()).consolidated()
            sel = [
                F.col(vcol(e_var)).alias("e"),
                F.col(vcol(v_var)).alias("v"),
                (
                    F.col(DIFF)
                    if rel.has_diff
                    else F.lit(1).cast("long")
                ).alias("diff"),
            ]
            return rel.df.select(*sel)

        # ``distinct=True`` declares the deriving plan emits set
        # semantics (e.g. a Union, which distincts) — unlocks the WCO
        # lowering for cyclic conjunctions over this attribute.
        self._attributes[aid] = AttributeSource(
            loader=loader, has_diff=True, distinct=distinct
        )

    # -- transactions ----------------------------------------------------

    def transact(self, datoms: Iterable[Datom]) -> int:
        """Append a transaction batch (reference: Request::Transact,
        src/server/mod.rs:284-296). Returns the tx id."""

        tx = self.next_tx
        by_attr: dict[str, list[tuple]] = {}
        for d in datoms:
            t = d.t if d.t is not None else tx
            by_attr.setdefault(d.a, []).append((d.e, d.v, t, d.diff))
        # Transactions are atomic: validate every referenced attribute
        # before mutating any, so a failed transact leaves no partial
        # state behind.
        unknown = [aid for aid in by_attr if aid not in self._transacted]
        if unknown:
            raise KeyError(f"attribute {unknown[0]} not created")
        for aid, rows in by_attr.items():
            self._transacted[aid].append(rows)
        self.next_tx = tx + 1
        return tx

    def advance_traces(self, frontier: Optional[int] = None) -> dict[str, int]:
        """Compact transacted histories to ``frontier - trace_slack``
        per attribute (reference: Domain::advance_traces,
        src/domain/mod.rs:291-341 — traces advance to the frontier
        rewound by their configured slack).

        Attributes without ``trace_slack`` keep full history. Returns
        {aid: rows dropped} for the attributes that compacted. Called
        per epoch by ReactiveSession; batch users may call it directly
        after transacting.
        """

        if frontier is None:
            frontier = self.next_tx
        dropped: dict[str, int] = {}
        for aid, ta in self._transacted.items():
            slack = ta.config.trace_slack
            if slack is None:
                continue
            n = ta.compact(frontier - slack)
            if n:
                dropped[aid] = n
        return dropped

    # -- rules & queries ---------------------------------------------------

    def register(self, name: str, plan: Plan) -> None:
        """Reference: Request::Register (src/server/mod.rs:324-338)."""

        self.rules[name] = plan

    def catalog(
        self,
        bound: Optional[dict[str, Relation]] = None,
        unbound: Optional[set[str]] = None,
        static_cache: Optional[dict[str, Relation]] = None,
        dynamic_rules: Optional[set[str]] = None,
        static_dedup: bool = False,
    ) -> Catalog:
        """The compile catalog over this engine's attributes, rules and
        tables. Fixpoints pass their ``static_cache`` and
        ``dynamic_rules``, and ``static_dedup`` when the system is
        monotone (see ``Catalog.static_dedup``)."""

        cat = Catalog(self._attributes, self.rules, bound or {}, unbound)
        cat.tables = {
            name: (lambda df=df: df) for name, df in self._table_cache.items()
        }
        if static_cache is not None:
            cat.static_cache = static_cache
            cat.dynamic_rules = dynamic_rules or set()
            cat.static_dedup = static_dedup
        return cat

    def _dynamic_rules(self, recursive: set[str]) -> set[str]:
        """Rules whose results change across fixpoint iterations: the
        recursive set plus everything transitively referencing it."""

        dyn = set(recursive)
        changed = True
        while changed:
            changed = False
            for rn, plan in self.rules.items():
                if rn not in dyn and _rule_refs(plan) & dyn:
                    dyn.add(rn)
                    changed = True
        return dyn

    def interest(
        self, name: str, as_names: Optional[list[str]] = None
    ) -> DataFrame:
        """Compile a registered rule and return its consolidated result
        (reference: server.interest -> implement, src/server/mod.rs:304-308).
        """

        if name not in self.rules:
            raise KeyError(f"unknown rule {name}")
        rec = self._recursive_rules(name)
        if rec:
            rel = self._fixpoint(name, rec)
        else:
            plan = self.rules[name]
            if self.enable_optimizer:
                plan = self.optimized(plan)
            rel = compile_plan(plan, self.catalog()).consolidated()
        return self._finish(rel, as_names)

    def implement(
        self,
        plan: Plan,
        as_names: Optional[list[str]] = None,
        optimize: bool = False,
    ) -> DataFrame:
        """Compile an ad-hoc plan (test harness path, reference:
        Server::test_single, src/server/mod.rs:511-529).

        ``optimize=True`` is the implement_neu path
        (src/lib.rs:1026-1127): the plan is flattened to its Binding
        set and recompiled as one Hector conjunction — same-entity
        patterns then FUSE into single scans regardless of how the
        user nested their Joins. Falls back silently for plans
        outside the conjunctive fragment.
        """

        from .plan.compiler import push_scan_date_filters

        # Date-predicate pushdown prepass (guide §6): mirror
        # constant filters over derived epoch-us / year() bindings
        # into their Scan leaves as raw timestamp-column predicates,
        # so they land in the parquet scan's PushedFilters. Purely
        # additive — the mirrored conjunct is exactly equivalent, the
        # original Filter stays, the result multiset is unchanged.
        plan = push_scan_date_filters(plan)
        if optimize:
            plan = self.optimized(plan)
        rel = compile_plan(plan, self.catalog()).consolidated()
        return self._finish(rel, as_names)

    def optimized(self, plan: Plan) -> Plan:
        """implement_neu rewrite: conjunctive plans become a single
        Hector over their flattened bindings (the reference's
        q(plan.variables(), plan.into_bindings()), src/lib.rs:1095);
        other plans return unchanged."""

        from .plan.plans import Hector, NotConjunctive, into_bindings

        try:
            return Hector(plan.variables(), into_bindings(plan))
        except NotConjunctive:
            return plan

    def _finish(self, rel: Relation, as_names: Optional[list[str]]) -> DataFrame:
        names = as_names or [str(v) for v in rel.variables]
        cols = [F.col(vcol(v)).alias(n) for v, n in zip(rel.variables, names)]
        if rel.has_diff:
            cols.append(F.col(DIFF).alias("diff"))
        return rel.df.select(*cols)

    # -- recursion ---------------------------------------------------------

    def _recursive_rules(self, name: str) -> set[str]:
        """Rules in the dependency cycle(s) reachable from ``name``."""

        graph: dict[str, set[str]] = {}
        stack = [name]
        while stack:
            n = stack.pop()
            if n in graph or n not in self.rules:
                continue
            graph[n] = {d for d in _rule_refs(self.rules[n]) if d in self.rules}
            stack.extend(graph[n])

        # A rule is recursive if it can reach itself.
        def reaches(start: str, target: str) -> bool:
            seen: set[str] = set()
            todo = list(graph.get(start, ()))
            while todo:
                n = todo.pop()
                if n == target:
                    return True
                if n in seen:
                    continue
                seen.add(n)
                todo.extend(graph.get(n, ()))
            return False

        return {n for n in graph if reaches(n, n)}

    def _fixpoint(
        self, name: str, recursive: set[str], max_iterations: int = 200
    ) -> Relation:
        """Driver-side fixpoint with set semantics.

        Mirrors the reference's iterative scope where each rule gets a
        differential Variable and all advance together
        (src/lib.rs:943-1019, distinct per Variable at 1012-1017).
        ``scratch.materialize`` truncates lineage each iteration so the plan
        does not grow unboundedly — the plan-blowup hazard called out in
        SURVEY §7 Phase 3.

        Monotone systems — any number of mutually recursive rules, any
        number of recursive references per rule (non-linear included) —
        run semi-naive: per iteration each rule evaluates only delta
        rewrites of its recursive branches. Systems with negation or
        aggregation in a recursive rule fall back to naive iteration
        with full change detection.
        """

        monotone = all(
            _is_monotone(self.rules[rn], recursive) for rn in recursive
        )
        if monotone:
            totals = self._run_semi_naive(recursive, max_iterations)
        else:
            totals = self._run_naive(recursive, max_iterations)
        if name in totals:
            return totals[name]
        # ``name`` sits outside the cycle (it depends on recursive
        # rules without being one), or its iterate stayed empty:
        # evaluate its plan once over the converged iterates.
        cat = self.catalog(bound=totals, unbound=set(recursive) - set(totals))
        return compile_plan(self.rules[name], cat).consolidated()

    def _run_naive(
        self, recursive: set[str], max_iterations: int
    ) -> dict[str, Relation]:
        """Naive iteration for non-monotone recursive systems: re-derive
        each iterate in full and compare against the previous one."""

        current: dict[str, Relation] = {}
        counts: dict[str, int] = {}
        static_cache: dict[str, Relation] = {}
        dynamic = self._dynamic_rules(recursive)

        for it in range(max_iterations):
            changed = False
            for rn in sorted(recursive):
                cat = self.catalog(
                    bound=dict(current),
                    unbound=recursive - set(current),
                    static_cache=static_cache,
                    dynamic_rules=dynamic,
                    static_dedup=False,
                )
                try:
                    new_rel = compile_plan(self.rules[rn], cat).distinct()
                except UnboundRule:
                    # Whole rule depends on a not-yet-bound variable
                    # outside a Union base case; try again next pass.
                    changed = True
                    continue
                df, new_count = materialize_count(new_rel.df)
                new_rel = Relation(new_rel.variables, df, new_rel.has_diff)
                old = current.get(rn)
                if (
                    old is None
                    or new_count != counts[rn]
                    or not df.exceptAll(old.df.select(*df.columns)).isEmpty()
                ):
                    changed = True
                    current[rn] = new_rel
                    counts[rn] = new_count
            if not changed:
                return current
        raise RuntimeError(
            f"fixpoint did not converge in {max_iterations} iterations"
        )

    def _run_semi_naive(
        self, recursive: set[str], max_iterations: int
    ) -> dict[str, Relation]:
        """Generalized semi-naive evaluation for monotone recursion
        (:func:`semi_naive`), seeded with every rule's base case.
        Static subtrees compile and checkpoint once per fixpoint."""

        static_cache: dict[str, Relation] = {}
        dynamic = self._dynamic_rules(recursive)
        # Synthetic per-occurrence names resolve against bound_rules and
        # must never enter the static-subtree cache.
        dynamic = dynamic | {f"{rn}@delta" for rn in recursive} | {
            f"{rn}@new" for rn in recursive
        }

        def cat(
            bound: dict[str, Relation], unbound: set[str]
        ) -> Catalog:
            return self.catalog(
                bound=bound,
                unbound=unbound,
                static_cache=static_cache,
                dynamic_rules=dynamic,
                static_dedup=True,
            )

        # Base cases: recursive references drop as unbound (Union
        # treats those branches as empty).
        base = new_facts(
            {rn: self.rules[rn] for rn in recursive},
            cat({}, set(recursive)),
            {},
        )
        steps = {
            rn: _delta_step_plan(self.rules[rn], recursive)
            for rn in recursive
        }
        totals, _ = semi_naive(steps, {}, base, cat, max_iterations)
        return totals


def delta_bindings(
    recursive: Iterable[str],
    deltas: dict[str, Relation],
    totals: dict[str, Relation],
) -> tuple[dict[str, Relation], set[str]]:
    """Catalog bindings for delta step plans (:func:`_delta_step_plan`):
    each rule's ``@delta`` occurrence reads ``deltas``, its ``@new``
    occurrences read ``totals``. A rule missing from either is unbound,
    so the branches reading it drop."""

    bound: dict[str, Relation] = {}
    unbound: set[str] = set()
    for rn in recursive:
        for suffix, rels in (("@delta", deltas), ("@new", totals)):
            if rn in rels:
                bound[rn + suffix] = rels[rn]
            else:
                unbound.add(rn + suffix)
    return bound, unbound


def new_facts(
    plans: dict[str, Plan],
    catalog: Catalog,
    totals: dict[str, Relation],
) -> dict[str, Relation]:
    """Per rule, the distinct result of its plan minus the rule's
    total: eagerly checkpointed, counted by the checkpoint's own jobs,
    and kept only when non-empty. A plan reading only unbound rules
    yields nothing."""

    out: dict[str, Relation] = {}
    for rn in sorted(plans):
        try:
            rel = compile_plan(plans[rn], catalog).distinct()
        except UnboundRule:
            continue
        cols = [vcol(v) for v in rel.variables]
        df = rel.df.select(*cols)
        if rn in totals:
            df = df.join(totals[rn].df, on=cols, how="left_anti")
        df, n = materialize_count(df)
        if n:
            out[rn] = Relation(rel.variables, df, False)
    return out


def semi_naive(
    steps: dict[str, Plan],
    totals: dict[str, Relation],
    deltas: dict[str, Relation],
    catalog: Callable[[dict[str, Relation], set[str]], Catalog],
    max_iterations: int,
) -> tuple[dict[str, Relation], dict[str, Relation]]:
    """Generalized semi-naive insertion, the one set-semantics fixpoint
    loop: fold the per-rule ``deltas`` (checkpointed, non-empty,
    disjoint from ``totals``) and everything derivable from them into
    the totals. Returns (totals, added).

    Per iteration each rule evaluates its delta step plan — one
    rewritten branch per recursive occurrence; that occurrence reads
    the previous delta, every other recursive reference reads the
    accumulated total — and anti-joins the result against its total,
    so derivations pairing new facts with old AND new facts are all
    covered (the classic non-linear semi-naive rewrite; differential's
    Variables give the reference the same asymptotic,
    src/lib.rs:943-1019). Work per iteration is proportional to the
    delta-derived facts, not the accumulated fixpoint. All rules
    advance together, matching the reference's iterative scope.
    ``catalog(bound, unbound)`` is the caller's Catalog factory."""

    totals = dict(totals)
    added: dict[str, Relation] = {}
    rounds = 0
    while deltas:
        if rounds == max_iterations:
            raise RuntimeError(
                f"semi-naive fixpoint did not converge in "
                f"{max_iterations} iterations"
            )
        rounds += 1
        # Totals are shallow unions of already-checkpointed deltas —
        # lineage stays O(iterations) deep with no extra
        # materialization.
        for rn, d in deltas.items():
            for acc in (totals, added):
                prev = acc.get(rn)
                acc[rn] = d if prev is None else Relation(
                    prev.variables,
                    prev.df.unionByName(d.df),
                    False,
                )
        bound, unbound = delta_bindings(steps, deltas, totals)
        deltas = new_facts(steps, catalog(bound, unbound), totals)
    return totals, added
