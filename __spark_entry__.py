"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H-Q1-style grouped
aggregation) at sf0.001. ``queries()`` exposes one callable per
implemented operator from SURVEY.md §2; ``oracle_sql()`` gives the
DuckDB-equivalent SQL for each (same column names — the driver's
compare hashes values after sorting columns by name).

Aggregates over doubles are rounded (2-4 decimals) IN BOTH the Spark
query and the oracle SQL so cross-engine floating-point summation-order
noise cannot flip the value hash.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from declarative_dataflow_spark import (
    Aggregate,
    AggregationFn,
    Antijoin,
    AttributeBinding,
    BinaryPredicateBinding,
    ConstantBinding,
    Filter,
    Function,
    Hector,
    Join,
    MatchA,
    MatchAV,
    MatchEA,
    NameExpr,
    Negate,
    Predicate,
    Project,
    Pull,
    PullAll,
    PullLevel,
    Transform,
    Union,
    q,
)
from declarative_dataflow_spark.engine import Engine, InputSemantics
from declarative_dataflow_spark.operators import (
    curation,
    dedup,
    graph,
    multimodal,
    packing,
    profile,
    retrieval,
    similarity,
    sketch,
    text,
)
from declarative_dataflow_spark.operators.bitemporal import as_of
from declarative_dataflow_spark.plan import graphql
from declarative_dataflow_spark.plan.plans import Scan
from declarative_dataflow_spark.scratch import materialize
from declarative_dataflow_spark.sources.testdata import load_engine, load_table

DEFAULT_SF = "/root/testdata/sf0.001"

_ENGINES: dict[tuple[int, str], Engine] = {}


def _engine(spark: SparkSession, sf_dir: str) -> Engine:
    key = (id(spark), sf_dir)
    if key not in _ENGINES:
        eng = load_engine(spark, sf_dir)
        # Input-semantics attributes over the events stream table
        # (reference: src/operators/last_write_wins.rs and
        # src/server/mod.rs:355-361).
        eng.register_table_attribute(
            "user/last_value", "events", "user_id", "value", "ts",
            InputSemantics.LAST_WRITE_WINS,
        )
        eng.register_table_attribute(
            "user/event_type", "events", "user_id", "event_type",
            semantics=InputSemantics.DISTINCT,
        )
        eng.register_table_attribute(
            "event/bucket", "events", "event_id", "user_id % 50"
        )
        # CompareAndSwap register per user, driven by the event stream:
        # 'view' ops expect absence, 'error' ops propose deletion —
        # the input semantics the reference declares but stubs out
        # (tests/input_semantics.rs:299-333).
        eng.register_table_attribute(
            "user/cas_register",
            "events",
            "user_id",
            "named_struct("
            "'old', CASE WHEN event_type = 'view' "
            "THEN CAST(NULL AS DOUBLE) ELSE round(value) END, "
            "'new', CASE WHEN event_type = 'error' "
            "THEN CAST(NULL AS DOUBLE) ELSE round(value * 2) END)",
            t_expr="ts",
            semantics=InputSemantics.COMPARE_AND_SWAP,
            seq_expr="event_id",
            cas_value_type="double",
        )
        _ENGINES[key] = eng
    return _ENGINES[key]


# ---------------------------------------------------------------------------
# Core relational operators (SURVEY §2.1)
# ---------------------------------------------------------------------------


def q_match_a(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return eng.implement(MatchA("?o", "orders/totalprice", "?tp"), ["e", "v"])


def q_match_ea(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return eng.implement(MatchEA(42, "event/value", "?v"), ["v"])


def q_match_av(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    return eng.implement(
        MatchAV("?c", "customer/mktsegment", "BUILDING"), ["e"]
    )


def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Project(["?tp"], MatchA("?o", "orders/totalprice", "?tp"))
    return eng.implement(plan, ["v"])


def q_join_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Join(
        ["?o"],
        MatchA("?o", "orders/totalprice", "?tp"),
        MatchA("?o", "orders/custkey", "?c"),
    )
    return eng.implement(plan, ["o", "tp", "c"])


def q_hector_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiway conjunction; same-entity bindings fuse into one scan."""

    eng = _engine(spark, sf_dir)
    plan = q(
        ["?o", "?cname", "?nname"],
        [
            AttributeBinding("?o", "orders/custkey", "?c"),
            AttributeBinding("?o", "orders/totalprice", "?tp"),
            AttributeBinding("?c", "customer/name", "?cname"),
            AttributeBinding("?c", "customer/nationkey", "?n"),
            AttributeBinding("?n", "nation/name", "?nname"),
            BinaryPredicateBinding(["?lim", "?tp"], Predicate.GT),
            ConstantBinding("?lim", 100000.0),
        ],
    )
    return eng.implement(plan, ["o", "cname", "nname"])


def q_hector_constants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constant + predicate bindings push into the scan."""

    eng = _engine(spark, sf_dir)
    plan = q(
        ["?c", "?bal"],
        [
            AttributeBinding("?c", "customer/mktsegment", "?seg"),
            AttributeBinding("?c", "customer/acctbal", "?bal"),
            ConstantBinding("?seg", "MACHINERY"),
            BinaryPredicateBinding(["?zero", "?bal"], Predicate.GTE),
            ConstantBinding("?zero", 0.0),
        ],
    )
    return eng.implement(plan, ["c", "bal"])


def q_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders (reference: src/plan/antijoin.rs)."""

    eng = _engine(spark, sf_dir)
    plan = Antijoin(
        ["?c"],
        MatchA("?c", "customer/name", "?name"),
        MatchA("?o", "orders/custkey", "?c"),
    )
    return eng.implement(plan, ["c", "name"])


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalog or: BUILDING or MACHINERY customers, set semantics."""

    eng = _engine(spark, sf_dir)
    plan = Union(
        ["?c"],
        [
            MatchAV("?c", "customer/mktsegment", "BUILDING"),
            MatchAV("?c", "customer/mktsegment", "MACHINERY"),
        ],
    )
    return eng.implement(plan, ["c"])


def q_negate_setdiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference via Union + Negate (reference: Plan::Negate)."""

    eng = _engine(spark, sf_dir)
    neg_bal = q(
        ["?c"],
        [
            AttributeBinding("?c", "customer/acctbal", "?bal"),
            BinaryPredicateBinding(["?zero", "?bal"], Predicate.LT),
            ConstantBinding("?zero", 0.0),
        ],
    )
    plan = Union(
        ["?c"],
        [
            MatchAV("?c", "customer/mktsegment", "BUILDING"),
            Negate(neg_bal),
        ],
    )
    return eng.implement(plan, ["c"])


def q_filter_lt(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Filter(
        ["?qty"],
        Predicate.LT,
        Scan("lineitem", {"l_orderkey": "?o", "l_quantity": "?qty"}),
        {1: 5.0},
    )
    return eng.implement(plan, ["o", "qty"])


def q_filter_vars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate over two variables: discount > tax."""

    eng = _engine(spark, sf_dir)
    plan = Filter(
        ["?d", "?t"],
        Predicate.GT,
        Scan(
            "lineitem",
            {"l_orderkey": "?o", "l_discount": "?d", "l_tax": "?t"},
        ),
    )
    return eng.implement(plan, ["o", "d", "t"])


def q_transform_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Transform(
        ["?d"],
        "?day",
        MatchA("?o", "orders/date", "?d"),
        Function.TRUNCATE,
        {1: "day"},
    )
    return eng.implement(Project(["?o", "?day"], plan), ["o", "day"])


def q_transform_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Transform(
        ["?ep", "?tax"],
        "?s",
        Scan(
            "lineitem",
            {"l_orderkey": "?o", "l_extendedprice": "?ep", "l_tax": "?tax"},
        ),
        Function.ADD,
    )
    return eng.implement(Project(["?o", "?s"], plan), ["o", "s"])


def q_transform_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = Transform(
        ["?ep", "?disc"],
        "?s",
        Scan(
            "lineitem",
            {"l_orderkey": "?o", "l_extendedprice": "?ep", "l_discount": "?disc"},
        ),
        Function.SUBTRACT,
    )
    return eng.implement(Project(["?o", "?s"], plan), ["o", "s"])


# ---------------------------------------------------------------------------
# Aggregation (SURVEY §2.2) — grouped by order status / return flag
# ---------------------------------------------------------------------------


def _status_price_plan() -> Aggregate:
    hector = q(
        ["?s", "?tp"],
        [
            AttributeBinding("?o", "orders/status", "?s"),
            AttributeBinding("?o", "orders/totalprice", "?tp"),
        ],
    )
    return hector


def _agg(fn: AggregationFn) -> Aggregate:
    return Aggregate(
        ["?s", "?tp"], _status_price_plan(), [fn], ["?s"], ["?tp"]
    )


def q_agg_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).implement(_agg(AggregationFn.MIN), ["s", "v"])


def q_agg_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).implement(_agg(AggregationFn.MAX), ["s", "v"])


def q_agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).implement(_agg(AggregationFn.COUNT), ["s", "v"])


def q_agg_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _engine(spark, sf_dir).implement(_agg(AggregationFn.SUM), ["s", "v"])
    return df.select("s", F.round("v", 2).alias("v"))


def q_agg_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _engine(spark, sf_dir).implement(_agg(AggregationFn.AVG), ["s", "v"])
    return df.select("s", F.round("v", 4).alias("v"))


def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).implement(
        _agg(AggregationFn.MEDIAN), ["s", "v"]
    )


def q_agg_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    plan = Aggregate(
        ["?rf", "?qty"],
        Scan("lineitem", {"l_returnflag": "?rf", "l_quantity": "?qty"}),
        [AggregationFn.VARIANCE],
        ["?rf"],
        ["?qty"],
    )
    df = _engine(spark, sf_dir).implement(plan, ["rf", "v"])
    return df.select("rf", F.round("v", 4).alias("v"))


def q_topk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopK plan operator (beyond-reference; SURVEY §2.2 notes the
    reference delegates ordering to clients): top-10 orders by total
    price, o_orderkey tiebreak. Catalyst lowers the global form to
    TakeOrderedAndProject — per-partition k-row heaps, no full sort
    (plan gate in tests/test_plans.py)."""

    from declarative_dataflow_spark.plan.plans import TopK as TopKPlan

    plan = TopKPlan(
        ["?o", "?tp"],
        Scan("orders", {"o_orderkey": "?o", "o_totalprice": "?tp"}),
        [("?tp", False), ("?o", True)],
        10,
    )
    return _engine(spark, sf_dir).implement(plan, ["o", "tp"])


def q_agg_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STDDEV completes the aggregate the reference declares but stubs
    out (aggregate_neu.rs:37-38): sqrt(population variance)."""

    plan = Aggregate(
        ["?rf", "?qty"],
        Scan("lineitem", {"l_returnflag": "?rf", "l_quantity": "?qty"}),
        [AggregationFn.STDDEV],
        ["?rf"],
        ["?qty"],
    )
    df = _engine(spark, sf_dir).implement(plan, ["rf", "v"])
    return df.select("rf", F.round("v", 4).alias("v"))


def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping (beyond-reference; SURVEY §2.2 gap list):
    per-(returnflag, linestatus) sums plus per-returnflag subtotals and
    the grand total, in one Spark pass."""

    plan = Aggregate(
        ["?rf", "?ls", "?qty"],
        Scan(
            "lineitem",
            {
                "l_returnflag": "?rf",
                "l_linestatus": "?ls",
                "l_quantity": "?qty",
            },
        ),
        [AggregationFn.SUM],
        ["?rf", "?ls"],
        ["?qty"],
        grouping="rollup",
    )
    df = _engine(spark, sf_dir).implement(plan, ["rf", "ls", "s"])
    return df.select("rf", "ls", F.round("s", 2).alias("s"))


def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-style multi-aggregate over lineitem."""

    plan = Aggregate(
        ["?rf", "?ls", "?q", "?ep", "?disc", "?ok"],
        Scan(
            "lineitem",
            {
                "l_returnflag": "?rf",
                "l_linestatus": "?ls",
                "l_quantity": "?q",
                "l_extendedprice": "?ep",
                "l_discount": "?disc",
                "l_orderkey": "?ok",
            },
        ),
        [
            AggregationFn.SUM,
            AggregationFn.SUM,
            AggregationFn.AVG,
            AggregationFn.COUNT,
        ],
        ["?rf", "?ls"],
        ["?q", "?ep", "?disc", "?ok"],
    )
    df = _engine(spark, sf_dir).implement(
        plan, ["rf", "ls", "sum_qty", "sum_price", "avg_disc", "cnt"]
    )
    return df.select(
        "rf",
        "ls",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_price", 2).alias("sum_price"),
        F.round("avg_disc", 4).alias("avg_disc"),
        "cnt",
    )


_EPOCH_US_SQL = (
    "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {c})"
)


def _table_bytes(spark: SparkSession, sf_dir: str, name: str) -> int:
    """On-disk byte size of one input table — a Hadoop FileSystem
    metadata call (works for local/HDFS/object-store paths), NO Spark
    job. Size-conditional query forms key off this instead of a
    core-count or scale-factor constant; returns 0 when the
    filesystem can't answer, which keeps the bench-scale form."""

    try:
        jvm = spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
        fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(path).getLength())
    except Exception:
        return 0


def _q21_large_bytes() -> int:
    """tpch_q21's large-form threshold: SPARK_GRAFT_Q21_LARGE_BYTES, or
    1 GiB when unset or malformed — a bad knob keeps the default form
    rather than failing the query, as ``_table_bytes`` does."""

    try:
        return int(os.environ.get("SPARK_GRAFT_Q21_LARGE_BYTES", 1 << 30))
    except ValueError:
        return 1 << 30


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped shipping-priority query driven through the
    PLAN DSL: segment/date Filters over three Scans, a two-step Join
    chain (customer⋈orders on custkey, ⋈lineitem on orderkey — the
    compiler broadcasts the small filtered sides under AQE), then
    revenue as an exact DECIMAL sum of per-row rounded products
    (order-independent) and a top-10 that lowers to
    TakeOrderedAndProject. Dates ride as epoch-us scan expressions so
    the Filter constants are plain integers in both engines."""

    import datetime as _dt

    eng = _engine(spark, sf_dir)
    cutoff = int(
        _dt.datetime(1998, 6, 1, tzinfo=_dt.timezone.utc).timestamp()
        * 1_000_000
    )
    cust = Filter(
        ["?seg"],
        Predicate.EQ,
        Scan("customer", {"c_custkey": "?c", "c_mktsegment": "?seg"}),
        {1: "BUILDING"},
    )
    orders = Filter(
        ["?od"],
        Predicate.LT,
        Scan(
            "orders",
            {
                "o_orderkey": "?o",
                "o_custkey": "?c",
                _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
                "o_orderpriority": "?pri",
            },
        ),
        {1: cutoff},
    )
    li = Filter(
        ["?sd"],
        Predicate.GT,
        Scan(
            "lineitem",
            {
                "l_orderkey": "?o",
                "l_extendedprice": "?ep",
                "l_discount": "?disc",
                _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                "l_linenumber": "?ln",
            },
        ),
        {1: cutoff},
    )
    joined = Join(["?o"], Join(["?c"], cust, orders), li)
    # output order: join key ++ left rest ++ right rest
    df = eng.implement(
        joined,
        ["o", "c", "seg", "od", "pri", "ep", "disc", "sd", "ln"],
    )
    rev = F.round(F.col("ep") * (1 - F.col("disc")), 6).cast(
        "decimal(18,6)"
    )
    agg = df.groupBy("o", "od", "pri").agg(F.sum(rev).alias("__rev"))
    return (
        agg.orderBy(F.col("__rev").desc(), "o")
        .limit(10)
        .select(
            F.col("o").alias("orderkey"),
            F.col("od").alias("od_us"),
            F.col("pri").alias("priority"),
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
        )
    )


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped local-supplier-volume query through the PLAN
    DSL: a SIX-way join (customer⋈orders⋈lineitem⋈supplier⋈nation⋈
    region) where supplier joins on TWO shared vars (suppkey AND the
    customer's nationkey — the 'local supplier' condition), the
    region/nation dims are tiny and broadcast under AQE, and the date
    range is a pair of integer Filters over an epoch-us scan
    expression. Revenue aggregates per nation in exact DECIMAL.
    Output columns come from plan.variables() order — never
    hand-tracked."""

    eng = _engine(spark, sf_dir)
    lo = 788_918_400_000_000   # 1995-01-01 UTC, epoch us
    hi = 946_684_800_000_000   # 2000-01-01 UTC, epoch us
    cust = Scan("customer", {"c_custkey": "?c", "c_nationkey": "?nk"})
    ords = Filter(
        ["?od"],
        Predicate.LT,
        Filter(
            ["?od"],
            Predicate.GTE,
            Scan(
                "orders",
                {
                    "o_orderkey": "?o",
                    "o_custkey": "?c",
                    _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    li = Scan(
        "lineitem",
        {
            "l_orderkey": "?o",
            "l_suppkey": "?s",
            "l_extendedprice": "?ep",
            "l_discount": "?disc",
            "l_linenumber": "?ln",
        },
    )
    sup = Scan("supplier", {"s_suppkey": "?s", "s_nationkey": "?nk"})
    nat = Scan(
        "nation",
        {"n_nationkey": "?nk", "n_name": "?nname", "n_regionkey": "?rk"},
    )
    reg = Filter(
        ["?rname"],
        Predicate.EQ,
        Scan("region", {"r_regionkey": "?rk", "r_name": "?rname"}),
        {1: "ASIA"},
    )
    plan = Join(
        ["?rk"],
        Join(
            ["?nk"],
            Join(
                ["?s", "?nk"],
                Join(["?o"], Join(["?c"], cust, ords), li),
                sup,
            ),
            nat,
        ),
        reg,
    )
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    rev = F.round(F.col("ep") * (1 - F.col("disc")), 6).cast(
        "decimal(18,6)"
    )
    return df.groupBy(F.col("nname").alias("nation")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
    )


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped order-priority check through the PLAN DSL: a
    SEMIJOIN (EXISTS) realized as Join + distinct — orders in a
    one-year window that have at least one lineitem shipped more than
    60 days after the order date, counted per priority. The lateness
    test is a VAR-VAR Filter across the join (?sd > ?odp), with the
    +60d offset folded into the order scan expression so the
    predicate stays a pure two-variable comparison (the reference's
    BinaryPredicate binds variables, not arithmetic —
    src/binding/mod.rs:283-297). The distinct runs on (o, pri) —
    exactly the semijoin's output key — so lineitem multiplicity
    never reaches the count."""

    eng = _engine(spark, sf_dir)
    lo = 852_076_800_000_000   # 1997-01-01 UTC, epoch us
    hi = 883_612_800_000_000   # 1998-01-01 UTC, epoch us
    off = 60 * 86_400 * 1_000_000
    ords = Filter(
        ["?od"],
        Predicate.LT,
        Filter(
            ["?od"],
            Predicate.GTE,
            Scan(
                "orders",
                {
                    "o_orderkey": "?o",
                    "o_orderpriority": "?pri",
                    _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
                    _EPOCH_US_SQL.format(c="o_orderdate") + f" + {off}":
                        "?odp",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    # r12 batch 10 (guide §2.2 shuffle fewer bytes): ?odp = ?od + 60d
    # and ?od >= lo, so the lateness test ?sd > ?odp entails
    # ?sd > lo + 60d — a derived constant pre-filter on the lineitem
    # scan that drops every ship date at or below the window floor
    # BEFORE the join, without changing which rows can ever satisfy
    # the var-var filter (oracle-verified identical).
    li = Filter(
        ["?sd"],
        Predicate.GT,
        Scan(
            "lineitem",
            {
                "l_orderkey": "?o",
                _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                "l_linenumber": "?ln",
            },
        ),
        {1: lo + off},
    )
    plan = Filter(["?sd", "?odp"], Predicate.GT, Join(["?o"], ords, li))
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    return (
        df.select("o", "pri")
        .distinct()
        .groupBy(F.col("pri").alias("priority"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped shipping-mode priority split through the PLAN
    DSL (l_returnflag stands in for the testdata's missing
    l_shipmode): orders⋈lineitem over a one-year ship window, grouped
    by returnflag with a conditional split of line counts into
    high-priority (URGENT/HIGH) vs low-priority orders. The CASE
    aggregation is JVM expression arithmetic over the plan's output —
    whole-stage codegen, no UDF."""

    eng = _engine(spark, sf_dir)
    lo = 852_076_800_000_000   # 1997-01-01 UTC, epoch us
    hi = 883_612_800_000_000   # 1998-01-01 UTC, epoch us
    ords = Scan(
        "orders", {"o_orderkey": "?o", "o_orderpriority": "?pri"}
    )
    li = Filter(
        ["?sd"],
        Predicate.LT,
        Filter(
            ["?sd"],
            Predicate.GTE,
            Scan(
                "lineitem",
                {
                    "l_orderkey": "?o",
                    "l_returnflag": "?rf",
                    _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                    "l_linenumber": "?ln",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    plan = Join(["?o"], ords, li)
    df = eng.implement(plan, [v[1:] for v in plan.variables()])
    hi_pri = F.col("pri").isin("1-URGENT", "2-HIGH")
    return df.groupBy(F.col("rf").alias("returnflag")).agg(
        F.sum(F.when(hi_pri, 1).otherwise(0)).alias("high_lines"),
        F.sum(F.when(hi_pri, 0).otherwise(1)).alias("low_lines"),
    )


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19-shaped discounted-revenue query through the PLAN
    DSL: the disjunction of three (brand, size-range, quantity-range)
    clauses expressed as a UNION of three part⋈lineitem Join branches
    — the reference's idiom for OR (Plan::Union of conjunctive
    branches, src/plan/mod.rs). Each branch filters part BEFORE the
    join (predicate pushdown: the brand EQ reaches the part scan) so
    the join probes a few-hundred-row broadcast side; branches are
    disjoint by brand, so bag-vs-set union semantics coincide.
    Returns one (n_items, revenue) row in exact DECIMAL."""

    eng = _engine(spark, sf_dir)

    def branch(brand: str, size_hi: int, q_lo: float, q_hi: float):
        pt = Filter(
            ["?size"],
            Predicate.LTE,
            Filter(
                ["?size"],
                Predicate.GTE,
                Filter(
                    ["?brand"],
                    Predicate.EQ,
                    Scan(
                        "part",
                        {
                            "p_partkey": "?p",
                            "p_brand": "?brand",
                            "p_size": "?size",
                        },
                    ),
                    {1: brand},
                ),
                {1: 1},
            ),
            {1: size_hi},
        )
        li = Filter(
            ["?qty"],
            Predicate.LTE,
            Filter(
                ["?qty"],
                Predicate.GTE,
                Scan(
                    "lineitem",
                    {
                        "l_partkey": "?p",
                        "l_quantity": "?qty",
                        "l_extendedprice": "?ep",
                        "l_discount": "?disc",
                        "l_orderkey": "?o",
                        "l_linenumber": "?ln",
                    },
                ),
                {1: q_lo},
            ),
            {1: q_hi},
        )
        return Join(["?p"], pt, li)

    b1 = branch("Brand#12", 5, 1.0, 11.0)
    plan = Union(
        b1.variables(),
        [
            b1,
            branch("Brand#23", 10, 10.0, 20.0),
            branch("Brand#34", 15, 20.0, 30.0),
        ],
    )
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    rev = F.round(F.col("ep") * (1 - F.col("disc")), 6).cast(
        "decimal(18,6)"
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
    )


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped forecasting-revenue-change query through the
    PLAN DSL: a pure pushed-filter scan — ship-year window, discount
    band, quantity cap — with NO join at all, then one global exact
    DECIMAL sum of per-row rounded ep*disc products. The five Filter
    wrappers all collapse into the parquet scan's PushedFilters;
    the aggregation input is the narrowest possible projection
    (ep, disc ride, everything else pruned)."""

    eng = _engine(spark, sf_dir)
    lo = 852_076_800_000_000   # 1997-01-01 UTC, epoch us
    hi = 883_612_800_000_000   # 1998-01-01 UTC, epoch us
    plan = Filter(
        ["?qty"],
        Predicate.LT,
        Filter(
            ["?disc"],
            Predicate.LTE,
            Filter(
                ["?disc"],
                Predicate.GTE,
                Filter(
                    ["?sd"],
                    Predicate.LT,
                    Filter(
                        ["?sd"],
                        Predicate.GTE,
                        Scan(
                            "lineitem",
                            {
                                _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                                "l_discount": "?disc",
                                "l_quantity": "?qty",
                                "l_extendedprice": "?ep",
                                "l_orderkey": "?o",
                                "l_linenumber": "?ln",
                            },
                        ),
                        {1: lo},
                    ),
                    {1: hi},
                ),
                {1: 0.03},
            ),
            {1: 0.07},
        ),
        {1: 24.0},
    )
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    rev = F.round(F.col("ep") * F.col("disc"), 6).cast("decimal(18,6)")
    return df.agg(
        F.round(F.sum(rev).cast("double"), 2).alias("revenue")
    )


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped returned-item report through the PLAN DSL: a
    three-step Join chain (customer⋈orders on custkey, ⋈lineitem on
    orderkey, ⋈nation on nationkey) with the quarter window and the
    returnflag='R' literal pushed into their scans, exact DECIMAL
    revenue per customer, top-20 lowering to TakeOrderedAndProject.
    The nation side is a 25-row dim — AQE broadcasts it; the order
    window filter shrinks the fact side before the big join."""

    eng = _engine(spark, sf_dir)
    lo = 852_076_800_000_000   # 1997-01-01 UTC, epoch us
    hi = 859_852_800_000_000   # 1997-04-01 UTC, epoch us
    cust = Scan(
        "customer",
        {
            "c_custkey": "?c",
            "c_name": "?cn",
            "c_acctbal": "?bal",
            "c_nationkey": "?nk",
        },
    )
    ords = Filter(
        ["?od"],
        Predicate.LT,
        Filter(
            ["?od"],
            Predicate.GTE,
            Scan(
                "orders",
                {
                    "o_orderkey": "?o",
                    "o_custkey": "?c",
                    _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    li = Filter(
        ["?rf"],
        Predicate.EQ,
        Scan(
            "lineitem",
            {
                "l_orderkey": "?o",
                "l_returnflag": "?rf",
                "l_extendedprice": "?ep",
                "l_discount": "?disc",
                "l_linenumber": "?ln",
            },
        ),
        {1: "R"},
    )
    nat = Scan("nation", {"n_nationkey": "?nk", "n_name": "?nn"})
    plan = Join(
        ["?nk"], Join(["?o"], Join(["?c"], cust, ords), li), nat
    )
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    rev = F.round(F.col("ep") * (1 - F.col("disc")), 6).cast(
        "decimal(18,6)"
    )
    agg = df.groupBy("c", "cn", "bal", "nn").agg(F.sum(rev).alias("__rev"))
    return (
        agg.orderBy(F.col("__rev").desc(), "c")
        .limit(20)
        .select(
            F.col("c").alias("custkey"),
            F.col("cn").alias("name"),
            F.round(F.col("__rev").cast("double"), 2).alias("revenue"),
            F.col("bal").alias("acctbal"),
            F.col("nn").alias("nation"),
        )
    )


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped promotion-effect ratio through the PLAN DSL:
    part⋈lineitem on partkey with a one-month ship window pushed into
    the lineitem scan, then promo share = 100 * promo_rev / total_rev
    with BOTH sums exact decimals (the division is the only double
    step, performed identically by the DuckDB twin). The part side
    filters nothing — the month window alone shrinks the probe, and
    AQE broadcasts whichever side is smaller post-filter."""

    eng = _engine(spark, sf_dir)
    lo = 873_072_000_000_000   # 1997-09-01 UTC, epoch us
    hi = 875_664_000_000_000   # 1997-10-01 UTC, epoch us
    pt = Scan("part", {"p_partkey": "?p", "p_type": "?type"})
    li = Filter(
        ["?sd"],
        Predicate.LT,
        Filter(
            ["?sd"],
            Predicate.GTE,
            Scan(
                "lineitem",
                {
                    "l_partkey": "?p",
                    _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                    "l_extendedprice": "?ep",
                    "l_discount": "?disc",
                    "l_orderkey": "?o",
                    "l_linenumber": "?ln",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    plan = Join(["?p"], pt, li)
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    rev = F.round(F.col("ep") * (1 - F.col("disc")), 6).cast(
        "decimal(18,6)"
    )
    zero = F.lit(0).cast("decimal(18,6)")
    promo = F.sum(F.when(F.col("type") == "PROMO", rev).otherwise(zero))
    total = F.sum(rev)
    return df.agg(
        F.round(
            F.lit(100.0) * promo.cast("double") / total.cast("double"), 4
        ).alias("promo_revenue")
    )


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped large-volume-customer query through the PLAN
    DSL — the HAVING subquery as plan composition: Aggregate(SUM qty
    per orderkey, :with linenumber) feeding a Filter(> 300), then Join
    back to orders and customer. The aggregate pre-reduces lineitem to
    one row per qualifying order BEFORE any join, so the join probes
    carry only the filtered survivors — the plan a 100 TB warehouse
    wants for a selective HAVING."""

    eng = _engine(spark, sf_dir)
    big = Filter(
        ["?qty"],
        Predicate.GT,
        Aggregate(
            ["?o", "?qty", "?ln"],
            Scan(
                "lineitem",
                {
                    "l_orderkey": "?o",
                    "l_quantity": "?qty",
                    "l_linenumber": "?ln",
                },
            ),
            [AggregationFn.SUM],
            ["?o"],
            ["?qty"],
            ["?ln"],
        ),
        {1: 300.0},
    )
    ords = Scan(
        "orders",
        {
            "o_orderkey": "?o",
            "o_custkey": "?c",
            _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
            "o_totalprice": "?tp",
        },
    )
    cust = Scan("customer", {"c_custkey": "?c", "c_name": "?cn"})
    plan = Join(["?c"], Join(["?o"], big, ords), cust)
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    return (
        df.orderBy(F.col("tp").desc(), "o")
        .limit(20)
        .select(
            F.col("cn").alias("name"),
            F.col("c").alias("custkey"),
            F.col("o").alias("orderkey"),
            F.col("od").alias("od_us"),
            F.col("tp").alias("totalprice"),
            F.col("qty").alias("sum_qty"),
        )
    )


_REV_SQL = "CAST(round(l_extendedprice * (1 - l_discount), 6) AS DECIMAL(18,6))"


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q1 in FULL through the plan Aggregate (agg_multi is the
    4-agg shape; this is the whole 8-column pricing summary): one
    pushed shipdate filter, disc_price and charge as exact-decimal
    scan expressions (per-row round(…,6) on identical double chains in
    both engines), a single-pass grouped aggregate — 4 SUMs, 3 AVGs, 1
    COUNT — with map-side partial combine. Spark reads 6 physical
    columns for the 10-column answer; nothing shuffles but the
    per-group partials."""

    eng = _engine(spark, sf_dir)
    cutoff = 946_684_800_000_000   # 2000-01-01 UTC, epoch us
    li = Filter(
        ["?sd"],
        Predicate.LTE,
        Scan(
            "lineitem",
            {
                "l_returnflag": "?rf",
                "l_linestatus": "?ls",
                "l_quantity": "?qty",
                "l_extendedprice": "?ep",
                _REV_SQL: "?dp",
                "CAST(round(l_extendedprice * (1 - l_discount) * "
                "(1 + l_tax), 6) AS DECIMAL(18,6))": "?ch",
                "CAST(l_quantity AS DOUBLE)": "?qty2",
                "CAST(l_extendedprice AS DOUBLE)": "?ep2",
                "l_discount": "?disc",
                "l_orderkey": "?ok",
                _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
            },
        ),
        {1: cutoff},
    )
    plan = Aggregate(
        li.variables(),
        li,
        [
            AggregationFn.SUM,
            AggregationFn.SUM,
            AggregationFn.SUM,
            AggregationFn.SUM,
            AggregationFn.AVG,
            AggregationFn.AVG,
            AggregationFn.AVG,
            AggregationFn.COUNT,
        ],
        ["?rf", "?ls"],
        ["?qty", "?ep", "?dp", "?ch", "?qty2", "?ep2", "?disc", "?ok"],
    )
    df = eng.implement(
        plan,
        [
            "rf", "ls", "sum_qty", "sum_base_price", "sum_disc_price",
            "sum_charge", "avg_qty", "avg_price", "avg_disc",
            "count_order",
        ],
    )
    return df.select(
        "rf",
        "ls",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_base_price", 2).alias("sum_base_price"),
        F.round(F.col("sum_disc_price").cast("double"), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.col("sum_charge").cast("double"), 2).alias("sum_charge"),
        F.round("avg_qty", 2).alias("avg_qty"),
        F.round("avg_price", 2).alias("avg_price"),
        F.round("avg_disc", 4).alias("avg_disc"),
        "count_order",
    )


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-shaped bilateral shipping volume through the PLAN DSL:
    the (supp=N1 ∧ cust=N2) ∨ (supp=N2 ∧ cust=N1) disjunction as ONE
    5-join chain (r12): each nation dim is the 2-row Union of the two
    filtered nation scans, and a VAR-VAR NEQ Filter (?sn != ?cn)
    excludes the same-nation combinations — set-identical to the r8
    two-branch Union on ANY input (the branches were exactly the
    sn,cn ∈ {N1,N2}², sn≠cn rows, and the top-level Union wrapper
    keeps the reference's distinct semantics) while scanning lineitem
    / orders / customer / supplier ONCE instead of per branch — the
    r8 form compiled the whole fact-side chain twice (guide §2.4; at
    100 TB that is a full duplicate corpus pass). Ship years ride as
    year() scan expressions, revenue as the exact-decimal expression.
    Nation scans are 25-row dims: AQE broadcasts them."""

    eng = _engine(spark, sf_dir)

    def nat_pair(nk_var: str, n_var: str) -> Union:
        return Union(
            [nk_var, n_var],
            [
                Filter(
                    [n_var],
                    Predicate.EQ,
                    Scan("nation", {"n_nationkey": nk_var, "n_name": n_var}),
                    {1: lit},
                )
                for lit in ("NATION_1", "NATION_2")
            ],
        )

    sup = Scan("supplier", {"s_suppkey": "?s", "s_nationkey": "?snk"})
    li = Filter(
        ["?yr"],
        Predicate.LTE,
        Filter(
            ["?yr"],
            Predicate.GTE,
            Scan(
                "lineitem",
                {
                    "l_suppkey": "?s",
                    "l_orderkey": "?o",
                    _REV_SQL: "?rev",
                    "year(l_shipdate)": "?yr",
                    "l_linenumber": "?ln",
                },
            ),
            {1: 1996},
        ),
        {1: 1997},
    )
    ords = Scan("orders", {"o_orderkey": "?o", "o_custkey": "?c"})
    cust = Scan("customer", {"c_custkey": "?c", "c_nationkey": "?cnk"})
    j = Join(["?snk"], sup, nat_pair("?snk", "?sn"))
    j = Join(["?s"], j, li)
    j = Join(["?o"], j, ords)
    j = Join(["?c"], j, cust)
    j = Join(["?cnk"], j, nat_pair("?cnk", "?cn"))
    filt = Filter(["?sn", "?cn"], Predicate.NEQ, j)
    plan = Union(filt.variables(), [filt])
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    return (
        df.groupBy(
            F.col("sn").alias("supp_nation"),
            F.col("cn").alias("cust_nation"),
            F.col("yr").alias("l_year"),
        )
        .agg(F.round(F.sum("rev").cast("double"), 2).alias("revenue"))
    )


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8-shaped national market share through the PLAN DSL —
    the deepest relational chain in the suite: 7 Joins across part /
    lineitem / orders / customer / nation×2 / region / supplier, with
    the p_type and region literals pushed into their scans and the
    two-year order window as a year() expression filter. The share is
    a conditional-over-total ratio of exact decimal sums; the single
    double step is the final division."""

    eng = _engine(spark, sf_dir)
    pt = Filter(
        ["?ptype"],
        Predicate.EQ,
        Scan("part", {"p_partkey": "?p", "p_type": "?ptype"}),
        {1: "ECONOMY"},
    )
    li = Scan(
        "lineitem",
        {
            "l_partkey": "?p",
            "l_orderkey": "?o",
            "l_suppkey": "?s",
            _REV_SQL: "?rev",
            "l_linenumber": "?ln",
        },
    )
    ords = Filter(
        ["?yr"],
        Predicate.LTE,
        Filter(
            ["?yr"],
            Predicate.GTE,
            Scan(
                "orders",
                {
                    "o_orderkey": "?o",
                    "o_custkey": "?c",
                    "year(o_orderdate)": "?yr",
                },
            ),
            {1: 1996},
        ),
        {1: 1997},
    )
    cust = Scan("customer", {"c_custkey": "?c", "c_nationkey": "?cnk"})
    nat_c = Scan("nation", {"n_nationkey": "?cnk", "n_regionkey": "?rk"})
    reg = Filter(
        ["?rn"],
        Predicate.EQ,
        Scan("region", {"r_regionkey": "?rk", "r_name": "?rn"}),
        {1: "ASIA"},
    )
    sup = Scan("supplier", {"s_suppkey": "?s", "s_nationkey": "?snk"})
    nat_s = Scan("nation", {"n_nationkey": "?snk", "n_name": "?sn"})
    j = Join(["?p"], pt, li)
    j = Join(["?o"], j, ords)
    j = Join(["?c"], j, cust)
    j = Join(["?cnk"], j, nat_c)
    j = Join(["?rk"], j, reg)
    j = Join(["?s"], j, sup)
    plan = Join(["?snk"], j, nat_s)
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    zero = F.lit(0).cast("decimal(18,6)")
    nat_rev = F.sum(
        F.when(F.col("sn") == "NATION_3", F.col("rev")).otherwise(zero)
    )
    return (
        df.groupBy(F.col("yr").alias("o_year"))
        .agg(
            F.round(
                nat_rev.cast("double") / F.sum("rev").cast("double"), 4
            ).alias("mkt_share")
        )
    )


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13-shaped customer order-count distribution through the
    PLAN DSL: orders-per-customer as a plan Aggregate over the
    customer⋈orders join, zero-order customers recovered with the
    plan Antijoin (the reference's negation operator — never an outer
    join), unioned and re-grouped into the distribution. Both
    shuffles key on custkey (uniform); the distribution re-group is
    tiny-cardinality."""

    eng = _engine(spark, sf_dir)
    cust = Scan("customer", {"c_custkey": "?c"})
    ords = Scan("orders", {"o_custkey": "?c", "o_orderkey": "?o"})
    counts = Aggregate(
        ["?c", "?o"],
        Join(["?c"], cust, ords),
        [AggregationFn.COUNT],
        ["?c"],
        ["?o"],
    )
    zeros = Antijoin(["?c"], cust, ords)
    with_orders = eng.implement(counts, ["c", "c_count"])
    without = eng.implement(zeros, ["c"]).select(
        "c", F.lit(0).cast("long").alias("c_count")
    )
    return (
        with_orders.unionByName(without)
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15-shaped top supplier through the PLAN DSL: quarterly
    revenue per supplier as a plan Aggregate (exact decimal sums, :with
    linenumber), the global MAX as a second keyless Aggregate over the
    same name, and the view⋈max equality expressed as a JOIN ON THE
    AGGREGATE VALUE itself (Join(['?rev'], sums, max)) — no HAVING, no
    window; the max side is one row, so the equality join is a
    broadcast probe. Ties all surface, as in the spec.

    r12: the revenue view is materialized ONCE (lazy localCheckpoint,
    registered as a table both references Scan). The naive two-plan
    form compiled the lineitem scan + per-supplier aggregate TWICE and
    Spark could not deduplicate it even at runtime: the supplier join
    pushes isnotnull(l_suppkey) into only the view side's scan, so the
    twin exchanges are not canonically identical and AQE's exchange
    reuse never fires (verified on the executed plan — the
    hits/langid-eval boundary criterion from batch 9). The view is
    supplier-cardinality, so the checkpoint is dimension-sized state
    while the saved recompute is a full fact-table scan + shuffle; the
    max side's keyless aggregate scans every partition, so the lazy
    checkpoint materializes fully (no early-exit-probe hazard)."""

    eng = _engine(spark, sf_dir)
    lo = 852_076_800_000_000   # 1997-01-01 UTC, epoch us
    hi = 859_852_800_000_000   # 1997-04-01 UTC, epoch us
    li = Filter(
        ["?sd"],
        Predicate.LT,
        Filter(
            ["?sd"],
            Predicate.GTE,
            Scan(
                "lineitem",
                {
                    "l_suppkey": "?s",
                    _REV_SQL: "?rev",
                    _EPOCH_US_SQL.format(c="l_shipdate"): "?sd",
                    "l_linenumber": "?ln",
                },
            ),
            {1: lo},
        ),
        {1: hi},
    )
    sums = Aggregate(
        li.variables(), li, [AggregationFn.SUM], ["?s"], ["?rev"], ["?ln"]
    )
    # Query-local scratch view (ADVICE r12): a UNIQUE per-call name,
    # deregistered right after compilation — the shared process-cached
    # engine's table namespace is never left mutated, repeated bench /
    # gate invocations don't accumulate registered checkpoint frames,
    # and no future query can silently collide with the name. The
    # compiled plan keeps its DataFrame reference after deregistration.
    view_df = materialize(eng.implement(sums, ["s", "rev"]), eager=False)
    vname = f"__q15_rev_view_{id(view_df)}"
    eng.register_table(vname, view_df)
    try:
        view = Scan(vname, {"s": "?s", "rev": "?rev"})
        mx = Aggregate(
            ["?rev"],
            Project(["?rev"], view),
            [AggregationFn.MAX],
            [],
            ["?rev"],
        )
        top = Join(["?rev"], view, mx)
        sup = Scan("supplier", {"s_suppkey": "?s", "s_name": "?sn"})
        plan = Join(["?s"], top, sup)
        names = [v[1:] for v in plan.variables()]
        df = eng.implement(plan, names)
    finally:
        eng.deregister_table(vname)
    return df.select(
        F.col("s").alias("suppkey"),
        F.col("sn").alias("name"),
        F.round(F.col("rev").cast("double"), 2).alias("total_revenue"),
    )


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17-shaped small-quantity-order revenue through the PLAN
    DSL: per-part average quantity as a pre-join plan Aggregate, the
    qty < 0.2*avg test rewritten multiplication-free as 5*qty < avg —
    the 5x via three chained Transform ADDs (the reference's transform
    algebra has ADD/SUBTRACT only, src/plan/transform.rs:16-24) — and
    the final comparison a pure var-var Filter. The aggregate keys and
    the join key are both partkey, so the pre-aggregation and the
    probe co-partition."""

    eng = _engine(spark, sf_dir)
    pre = Aggregate(
        ["?p", "?qty", "?ln"],
        Scan(
            "lineitem",
            {
                "l_partkey": "?p",
                "l_quantity": "?qty",
                "l_linenumber": "?ln",
            },
        ),
        [AggregationFn.AVG],
        ["?p"],
        ["?qty"],
        ["?ln"],
    )
    li2 = Scan(
        "lineitem",
        {
            "l_partkey": "?p",
            "l_quantity": "?qty2",
            "CAST(round(l_extendedprice, 6) AS DECIMAL(18,6))": "?ep",
            "l_linenumber": "?ln2",
        },
    )
    j = Join(["?p"], li2, pre)
    t = Transform(["?qty2", "?qty2"], "?d2", j, Function.ADD)
    t = Transform(["?d2", "?d2"], "?d4", t, Function.ADD)
    t = Transform(["?d4", "?qty2"], "?d5", t, Function.ADD)
    plan = Filter(["?d5", "?qty"], Predicate.LT, t)
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    return df.agg(
        F.round(F.sum("ep").cast("double"), 2).alias("small_order_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21-shaped waiting-suppliers query through the PLAN DSL —
    the EXISTS / NOT-EXISTS pair as pure aggregate algebra: late
    (supplier, order) pairs deduped by a grouped COUNT, the number of
    DISTINCT late suppliers per order as a second-level COUNT over the
    first (== 1 keeps only sole-blame orders), the number of distinct
    suppliers per order from a parallel two-level chain (> 1 keeps
    multi-supplier orders), all equality-joined on orderkey. Lateness
    is the q4 surrogate (shipped > 60 days after order date, the
    testdata's receipt/commit stand-in); status F filters finished
    orders. Every shuffle keys on orderkey (uniform); the supplier
    name join is a dim broadcast."""

    eng = _engine(spark, sf_dir)
    off = 60 * 86_400 * 1_000_000

    def late_pairs(sv: str, lnv: str) -> Aggregate:
        ords = Filter(
            ["?st"],
            Predicate.EQ,
            Scan(
                "orders",
                {
                    "o_orderkey": "?o",
                    "o_orderstatus": "?st",
                    _EPOCH_US_SQL.format(c="o_orderdate") + f" + {off}":
                        "?odp",
                },
            ),
            {1: "F"},
        )
        li = Scan(
            "lineitem",
            {
                "l_orderkey": "?o",
                "l_suppkey": sv,
                _EPOCH_US_SQL.format(c="l_shipdate"): "?sd" + sv[2:],
                "l_linenumber": lnv,
            },
        )
        late = Filter(
            ["?sd" + sv[2:], "?odp"], Predicate.GT, Join(["?o"], ords, li)
        )
        # grouped count dedupes the (order, supplier) bag to one row
        return Aggregate(
            late.variables(), late, [AggregationFn.COUNT],
            ["?o", sv], [lnv],
        )

    # The late (order, supplier) pair relation feeds BOTH the per-pair
    # side of the final join AND the #late-suppliers-per-order count.
    # The r11 shape built the SAME DSL subtree twice under different
    # variable names (the DSL needs distinct names for the later Join,
    # which defeats Spark's canonical exchange reuse), so the
    # orders ⋈ lineitem lateness join + two-level aggregate ran TWICE
    # per query — visible as two full scan+join+agg chains in
    # plans/r12/tpch_q21_before.txt (nodes 1-12 vs 15-29). r12:
    # implement the subplan ONCE, checkpoint it, and derive both
    # consumers from the materialized pair table. The EXISTS/NOT-EXISTS
    # algebra is unchanged: n_late counts rows of the (o, s) pair
    # table per order (one row per distinct late supplier, exactly the
    # DSL's COUNT over group ["?o"]), and the == 1 / > 1 filters and
    # the final per-supplier count are the same operations on the same
    # multisets — oracle-verified identical.
    # NO checkpoint (r12 follow-up): materializing the pair table wins
    # at sf0.1 (job count) but LOSES ~30% at sf1 — the ExistingRDD
    # comes back with UnknownPartitioning, so every downstream o-keyed
    # join re-shuffles what the aggregate had already partitioned.
    # Referencing the ONE pairs_df twice is enough: the subtrees are
    # canonically IDENTICAL now (the r11 problem was the DSL's
    # α-renamed twin trees, which defeat canonicalization), so AQE's
    # runtime exchange reuse deduplicates the shared
    # scan+join+aggregate chain — the static plan still prints both
    # chains (plans/r12/tpch_q21_after.txt), but measured cost matches
    # one chain: sf0.1 noop 3.39 (r11) / 2.4 (checkpointed) / 1.9
    # (this form); sf1 noop 8.0 / 10.4 / 7.6.
    pairs_df = eng.implement(late_pairs("?s", "?ln"), ["o", "s", "ln"])
    # Size-conditional twin-chain dedup (r13, VERDICT r12 #4). The
    # duplicate pairs chain (AQE reuse can't dedupe the α-renamed
    # aggregate; all three materialization mechanisms measured WORSE
    # at <= ~1M pair rows in r12 batch 14) is the right form at bench
    # scale: its second run is an in-cache rescan. At 100 TB the
    # duplicate is a full corpus scan + shuffle, so ABOVE a
    # lineitem-size threshold the query switches to the batch-14
    # window + sole-slice form: ONE pairs chain, n_late as a window
    # count over its o-partition (bounded by suppliers-per-order —
    # no hot-key hazard), and the sole-blame slice — which IS
    # pairs ⋈ {n_late == 1}, each sole order owning exactly its one
    # pair row — lazily checkpointed (order-scale state). The
    # threshold derives from the INPUT's on-disk size (a filesystem
    # metadata call, no Spark job), not a core-count constant;
    # 1 GiB of lineitem parquet ≈ 10x the sf1 scale where the
    # duplicate chain last measured cheaper. Identical multisets
    # either way (oracle-pinned); SPARK_GRAFT_Q21_LARGE_BYTES
    # overrides for the forced-large test.
    if _table_bytes(spark, sf_dir, "lineitem") >= _q21_large_bytes():
        from pyspark.sql.window import Window as _W

        sole = (
            pairs_df.withColumn(
                "__nlate", F.count(F.lit(1)).over(_W.partitionBy("o"))
            )
            .filter(F.col("__nlate") == 1)
            .drop("__nlate")
            .transform(materialize, eager=False)
        )
        n_late_df = sole.select("o")
        late_joined = sole
    else:
        n_late_df = (
            pairs_df.groupBy("o")
            .agg(F.count(F.lit(1)).alias("__nlate"))
            .filter(F.col("__nlate") == 1)
            .select("o")
        )
        late_joined = pairs_df.join(n_late_df, "o")
    # r12 batch 10 (guide §3 semi-join pre-filter): n_supp_df is
    # consumed ONLY through an inner join with n_late_df, so the
    # distinct-supplier count need only run over sole-late orders —
    # a left-semi pre-filter on the n_late_df order set (tiny:
    # one row per sole-blame order, AQE broadcasts it) shrinks the
    # two-level aggregate's input from ALL lineitem rows to the
    # sole-late fraction BEFORE any shuffle. Restricting an
    # inner-join input to the join's own key set is an identity, so
    # the final multiset is unchanged (oracle-verified). The
    # two-level DSL COUNT chain (dedupe (o,s2), count per o) is
    # exactly countDistinct(s2) per o on never-null suppkeys.
    li_pairs = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").alias("o"),
            F.col("l_suppkey").alias("s2"),
        )
        .join(n_late_df, "o", "left_semi")
    )
    n_supp_df = (
        li_pairs.groupBy("o")
        .agg(F.count_distinct(F.col("s2")).alias("s2"))
        .filter(F.col("s2") > 1)
        .select("o")
    )
    sup_df = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("s"), F.col("s_name").alias("sn")
    )
    joined = late_joined.join(n_supp_df, "o").join(sup_df, "s")
    return (
        joined.groupBy(F.col("s").alias("suppkey"), F.col("sn").alias("name"))
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "suppkey")
        .limit(20)
    )


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22-shaped lost-customer report through the PLAN DSL: the
    above-average-balance cut as a keyless plan Aggregate joined in as
    a one-row broadcast scalar (Join([]) — the documented single-row
    cartesian pattern) feeding a var-var Filter, and the no-orders
    test as the plan Antijoin. Grouped by nation (the testdata's
    phone-prefix stand-in) with count + balance sum."""

    eng = _engine(spark, sf_dir)
    cust = Filter(
        ["?bal"],
        Predicate.GT,
        Scan(
            "customer",
            {
                "c_custkey": "?c",
                "c_acctbal": "?bal",
                "c_nationkey": "?nk",
            },
        ),
        {1: 0.0},
    )
    avgp = Aggregate(
        ["?bal2"],
        Project(
            ["?bal2"],
            Filter(
                ["?bal2"],
                Predicate.GT,
                Scan("customer", {"c_acctbal": "?bal2", "c_custkey": "?c2"}),
                {1: 0.0},
            ),
        ),
        [AggregationFn.AVG],
        [],
        ["?bal2"],
    )
    rich = Filter(["?bal", "?bal2"], Predicate.GT, Join([], cust, avgp))
    # "lost" = no orders since 2000-01-01 (an unwindowed no-orders test
    # matches nobody in this testdata — every rich customer has SOME
    # order — so the recency window keeps the antijoin load-bearing).
    recent = Filter(
        ["?od"],
        Predicate.GTE,
        Scan(
            "orders",
            {
                "o_custkey": "?c",
                "o_orderkey": "?o",
                _EPOCH_US_SQL.format(c="o_orderdate"): "?od",
            },
        ),
        {1: 946_684_800_000_000},   # 2000-01-01 UTC, epoch us
    )
    plan = Antijoin(["?c"], rich, recent)
    names = [v[1:] for v in plan.variables()]
    df = eng.implement(plan, names)
    return (
        df.groupBy(F.col("nk").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("bal"), 2).alias("totacctbal"),
        )
    )


def q_agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (keyless) aggregation."""

    plan = Aggregate(
        ["?tp"],
        Project(["?tp"], MatchA("?o", "orders/totalprice", "?tp")),
        [AggregationFn.MAX],
        [],
        ["?tp"],
    )
    return _engine(spark, sf_dir).implement(plan, ["v"])


# ---------------------------------------------------------------------------
# Rules, composition, recursion (SURVEY §2.1 #13)
# ---------------------------------------------------------------------------


def q_name_expr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule composition: big_orders referenced by another rule."""

    eng = _engine(spark, sf_dir)
    eng.register(
        "big_orders",
        q(
            ["?o", "?c"],
            [
                AttributeBinding("?o", "orders/custkey", "?c"),
                AttributeBinding("?o", "orders/totalprice", "?tp"),
                BinaryPredicateBinding(["?lim", "?tp"], Predicate.GT),
                ConstantBinding("?lim", 200000.0),
            ],
        ),
    )
    eng.register(
        "big_order_customers",
        Join(
            ["?c"],
            NameExpr(["?o", "?c"], "big_orders"),
            MatchA("?c", "customer/name", "?name"),
        ),
    )
    return eng.interest("big_order_customers", ["c", "o", "name"])


def q_tclosure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive transitive closure over a derived 100-node graph
    (reference: iterative scope + Variables, src/lib.rs:943-1019)."""

    eng = _engine(spark, sf_dir)
    eng.register(
        "reach",
        Union(
            ["?x", "?z"],
            [
                Scan(
                    "events",
                    {"user_id % 100": "?x", "event_id % 100": "?z"},
                ),
                Join(
                    ["?y"],
                    NameExpr(["?x", "?y"], "reach"),
                    Scan(
                        "events",
                        {"user_id % 100": "?y", "event_id % 100": "?z"},
                    ),
                ),
            ],
        ),
    )
    return eng.interest("reach", ["x", "z"])


def q_tclosure_nonlinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure via a NON-LINEAR rule (reach . reach) — two
    recursive references in one branch. Exercises the generalized
    semi-naive evaluator (one delta-rewritten variant per recursive
    occurrence; engine.semi_naive) and converges in O(log
    diameter) iterations where the linear rule needs O(diameter). The
    oracle is the independently-formulated LINEAR closure — same
    fixpoint, different derivation."""

    eng = _engine(spark, sf_dir)
    if "reach_nl" not in eng.rules:
        eng.register(
            "reach_nl",
            Union(
                ["?x", "?z"],
                [
                    Scan(
                        "events",
                        {"user_id % 100": "?x", "event_id % 100": "?z"},
                    ),
                    Join(
                        ["?y"],
                        NameExpr(["?x", "?y"], "reach_nl"),
                        NameExpr(["?y", "?z"], "reach_nl"),
                    ),
                ],
            ),
        )
    return eng.interest("reach_nl", ["x", "z"])


def q_shortest_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive AGGREGATE (min-hop shortest paths) over a derived DAG —
    the lattice-monotone recursion class set-semantics semi-naive cannot
    express; delta-driven relaxation (operators/graph.py). Oracle: an
    independently-formulated recursive CTE enumerating path lengths and
    taking the group-wise minimum."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 100).alias("src"),
        (F.col("user_id") % 100 + 1 + F.col("event_id") % 7).alias("dst"),
    )
    return graph.shortest_hops(edges).select("x", "y", "hops")


def q_shortest_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED recursive aggregate: minimum total cost between
    reachable pairs of the derived DAG (integer edge costs from
    event_id, so cross-engine hashing is exact). The cost-general
    delta relaxation (operators/graph.py::shortest_paths); oracle:
    recursive CTE enumerating path costs + group-wise minimum."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 100).alias("src"),
        (F.col("user_id") % 100 + 1 + F.col("event_id") % 7).alias("dst"),
        (1 + F.col("event_id") % 5).alias("cost"),
    )
    return graph.shortest_paths(edges).select("x", "y", "cost")


def _events_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with an exact microsecond TimestampType column ``t``.
    The testdata parquet stores TIMESTAMP(NANOS); depending on the
    reader config it surfaces as TIMESTAMP_NTZ (cast is exact under
    the session's UTC zone) or as a nanosecond long."""

    ev = load_table(spark, sf_dir, "events")
    dtype = dict(ev.dtypes)["ts"]
    if dtype == "bigint":
        # Integer division: float /1000 would round ~1.7e18 ns through
        # a double (ulp ~256 ns) and corrupt ~12% of microseconds.
        t = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        t = F.col("ts").cast("timestamp")
    return ev.withColumn("t", t)


def q_window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window grouped aggregation (streaming/windows.py::
    tumbling_agg — the same operator the streaming sink uses, with the
    watermark a no-op on batch input). Window bounds emitted as epoch
    seconds; oracle mirrors Spark's epoch-aligned hour buckets."""

    from declarative_dataflow_spark.streaming import windows

    out = windows.tumbling_agg(
        _events_ts(spark, sf_dir),
        "t",
        "1 hour",
        "0 seconds",
        ["event_type"],
        {"n": "count(*)", "total": "round(sum(value), 2)"},
    )
    return out.select(
        F.unix_timestamp("window_start").alias("w_start"),
        F.unix_timestamp("window_end").alias("w_end"),
        F.col("event_type").alias("etype"),
        "n",
        "total",
    )


def q_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2-hour window, 1-hour slide): every
    event lands in two overlapping panes (streaming/windows.py::
    sliding_agg); oracle unions the two shifted hour buckets."""

    from declarative_dataflow_spark.streaming import windows

    out = windows.sliding_agg(
        _events_ts(spark, sf_dir),
        "t",
        "2 hours",
        "1 hour",
        "0 seconds",
        ["event_type"],
        {"n": "count(*)", "total": "round(sum(value), 2)"},
    )
    return out.select(
        F.unix_timestamp("window_start").alias("w_start"),
        F.unix_timestamp("window_end").alias("w_end"),
        F.col("event_type").alias("etype"),
        "n",
        "total",
    )


def q_window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (10-minute gap) per event_type
    (streaming/windows.py::session_agg, F.session_window's native
    merging state): start = first event, end = last event + gap,
    sessions merge while intervals overlap. Bounds emitted as exact
    epoch MICROseconds; the oracle reproduces the merge with a lag()
    break + running session id."""

    from declarative_dataflow_spark.streaming import windows

    out = windows.session_agg(
        _events_ts(spark, sf_dir),
        "t",
        "10 minutes",
        "0 seconds",
        ["event_type"],
        {"n": "count(*)", "total": "round(sum(value), 2)"},
    )
    return out.select(
        F.unix_micros("window_start").alias("w_start"),
        F.unix_micros("window_end").alias("w_end"),
        F.col("event_type").alias("etype"),
        "n",
        "total",
    )


def q_coarsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-granularity coarsening (streaming/windows.py::coarsen —
    the reference's delay/coarsen output option, rounding each row's
    time UP to the next window multiple). Batch form over events."""

    from declarative_dataflow_spark.streaming import windows

    out = windows.coarsen(
        _events_ts(spark, sf_dir).select("event_id", "t"), "t", "1 hour"
    )
    return out.select(
        "event_id", F.unix_timestamp("coarsened").alias("coarsened")
    )


def q_datalog_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clj-3df Datalog TEXT front-end (plan/datalog.py) through
    the driver gate: pattern clauses + a predicate, compiled onto the
    plan algebra exactly as the reference's test descriptions are."""

    from declarative_dataflow_spark.plan.datalog import query as dquery

    eng = _engine(spark, sf_dir)
    return dquery(
        eng,
        "[:find ?c ?n ?b :where "
        "[?c :customer/name ?n] [?c :customer/acctbal ?b] "
        "[(< ?b 0.0)]]",
        ["c", "n", "b"],
    )


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the derived 100-node graph; ranks
    round to 6 decimals per iteration so the result is reproducible
    across engines and partition orders (see operators/graph.py)."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 100).alias("src"),
        (F.col("event_id") % 100).alias("dst"),
    )
    return graph.pagerank(edges, iters=10).select("node", "rank")


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the derived 1000-node event graph: shrink-to-
    fixpoint peel (degree agg + endpoint-restriction joins per round,
    all node-partitioned), converging in a handful of rounds; the
    operator raises if it has not actually converged."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.kcore(edges, k=12)


def q_graph_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components as a FIRST-CLASS declared query — the
    pairs->clusters step every dedup family composes with
    (dedup_groups uses it behind MinHash-LSH), here exposed directly
    over a sparse events-derived graph (1/7 sparsifier — a modulus the
    sf-scaler stride preserves, so replicas keep the topology; 10k-
    node domain: mixed component sizes at the gate sf, a giant
    component + fringe at sf0.1+). Hash-min
    label propagation to a CHECKED fixpoint; each round is one
    shuffle on vertex id with map-side min-combine. The DuckDB twin
    is the textbook recursive-CTE reachability closure + min — the
    operator never materializes that closure (quadratic per
    component), only the (id, component) frontier."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 7 == 0).select(
        (F.col("user_id") % 10000).alias("a"),
        (F.col("event_id") % 10000).alias("b"),
    )
    return dedup.connected_components(edges, "a", "b")


def q_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation to fixpoint — the reference's flagship
    recursive benchmark (experiments/src/bin/labelprop.rs:23-47):
    node labels flow along edges until closure."""

    eng = _engine(spark, sf_dir)
    if "labelprop" not in eng.rules:
        eng.register(
            "labelprop",
            Union(
                ["?x", "?l"],
                [
                    Scan(
                        "events",
                        {"user_id % 100": "?x", "user_id % 10": "?l"},
                    ),
                    Join(
                        ["?z"],
                        NameExpr(["?z", "?l"], "labelprop"),
                        Scan(
                            "events",
                            {"user_id % 100": "?z", "event_id % 100": "?x"},
                        ),
                    ),
                ],
            ),
        )
    return eng.interest("labelprop", ["x", "l"])


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over a derived edge attribute — the
    reference's WCO benchmark (experiments/src/bin/hector_wco.rs,
    hector_test.rs:230-251), counted with :with semantics.

    ``distinct=True`` lets the compiler detect the cyclic binding
    graph and lower it via generic WCO adjacency intersection instead
    of the wedge-materializing join chain."""

    eng = _engine(spark, sf_dir)
    if "graph/edge" not in eng._attributes:
        # Derived DISTINCT edge attribute (Union applies set semantics).
        eng.register_derived_attribute(
            "graph/edge",
            Union(
                ["?s", "?d"],
                [Scan("events", {"user_id % 100": "?s", "event_id % 100": "?d"})],
            ),
            "?s",
            "?d",
            distinct=True,
        )
    triangle = Hector(
        ["?a", "?b", "?c"],
        [
            AttributeBinding("?a", "graph/edge", "?b"),
            AttributeBinding("?b", "graph/edge", "?c"),
            AttributeBinding("?a", "graph/edge", "?c"),
        ],
    )
    count = Aggregate(
        ["?a"],
        triangle,
        [AggregationFn.COUNT],
        [],
        ["?a"],
        with_variables=["?b", "?c"],
    )
    return eng.implement(count, ["n"])


def q_triangle_wco(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Worst-case-optimal triangle count: adjacency intersection per
    edge (|E| intermediate rows) instead of the wedge join
    (reference's WCO extension protocol, hector.rs:934-978)."""

    from declarative_dataflow_spark.operators.wco import triangle_count_wco

    edges = (
        load_table(spark, sf_dir, "events")
        .selectExpr("user_id % 100 AS src", "event_id % 100 AS dst")
        .distinct()
    )
    return triangle_count_wco(edges)


def q_wco_4clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-clause cyclic conjunction (a 4-cycle) — the pattern where
    binary join chains materialize length-3 paths before the closing
    edge (reference 4-clause WCO cases: tests/query_test.rs:346-365).
    The compiler detects the cycle and lowers it via adjacency
    intersection; the count is over a sparser derived edge set so the
    oracle join stays tractable."""

    eng = _engine(spark, sf_dir)
    if "graph/sedge" not in eng._attributes:
        eng.register_table(
            "events_sparse",
            load_table(spark, sf_dir, "events").filter("event_id % 11 = 0"),
        )
        eng.register_derived_attribute(
            "graph/sedge",
            Union(
                ["?s", "?d"],
                [
                    Scan(
                        "events_sparse",
                        {"user_id % 1000": "?s", "event_id % 1000": "?d"},
                    )
                ],
            ),
            "?s",
            "?d",
            distinct=True,
        )
    cycle = Hector(
        ["?a", "?b", "?c", "?d"],
        [
            AttributeBinding("?a", "graph/sedge", "?b"),
            AttributeBinding("?b", "graph/sedge", "?c"),
            AttributeBinding("?c", "graph/sedge", "?d"),
            AttributeBinding("?a", "graph/sedge", "?d"),
        ],
    )
    count = Aggregate(
        ["?a"],
        cycle,
        [AggregationFn.COUNT],
        [],
        ["?a"],
        with_variables=["?b", "?c", "?d"],
    )
    return eng.implement(count, ["n"])


def q_wco_clique4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-binding 4-clique conjunction — the densest 4-variable cyclic
    pattern; binary join chains would materialize every 4-cycle before
    checking the two diagonals. Reuses wco_4clause's sparse derived
    edge set; the generic WCO lowering extends one variable at a time
    with per-row smallest-first adjacency intersection and validates
    closing edges as semi-joins."""

    q_wco_4clause(spark, sf_dir)  # ensures graph/sedge is registered
    eng = _engine(spark, sf_dir)
    clique = Hector(
        ["?a", "?b", "?c", "?d"],
        [
            AttributeBinding("?a", "graph/sedge", "?b"),
            AttributeBinding("?a", "graph/sedge", "?c"),
            AttributeBinding("?a", "graph/sedge", "?d"),
            AttributeBinding("?b", "graph/sedge", "?c"),
            AttributeBinding("?b", "graph/sedge", "?d"),
            AttributeBinding("?c", "graph/sedge", "?d"),
        ],
    )
    count = Aggregate(
        ["?a"],
        clique,
        [AggregationFn.COUNT],
        [],
        ["?a"],
        with_variables=["?b", "?c", "?d"],
    )
    return eng.implement(count, ["n"])


def q_wco_clique5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-binding 5-clique conjunction — pins the generic
    variable-elimination WCO lowering (plan/compiler.py::_hector_wco)
    at arity 5: four extension steps, each intersecting up to four
    adjacency lists smallest-first, with closing edges validated as
    semi-joins. Reuses wco_4clause's sparse derived edge set."""

    q_wco_4clause(spark, sf_dir)  # ensures graph/sedge is registered
    eng = _engine(spark, sf_dir)
    clique = Hector(
        ["?a", "?b", "?c", "?d", "?e"],
        [
            AttributeBinding("?a", "graph/sedge", "?b"),
            AttributeBinding("?a", "graph/sedge", "?c"),
            AttributeBinding("?a", "graph/sedge", "?d"),
            AttributeBinding("?a", "graph/sedge", "?e"),
            AttributeBinding("?b", "graph/sedge", "?c"),
            AttributeBinding("?b", "graph/sedge", "?d"),
            AttributeBinding("?b", "graph/sedge", "?e"),
            AttributeBinding("?c", "graph/sedge", "?d"),
            AttributeBinding("?c", "graph/sedge", "?e"),
            AttributeBinding("?d", "graph/sedge", "?e"),
        ],
    )
    count = Aggregate(
        ["?a"],
        clique,
        [AggregationFn.COUNT],
        [],
        ["?a"],
        with_variables=["?b", "?c", "?d", "?e"],
    )
    return eng.implement(count, ["n"])


def q_wco_clique4_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENCH-ONLY stress variant of q_wco_clique4 (not in queries()):
    the same 6-binding 4-clique over a ~3x DENSER edge set
    (`event_id % 11 < 3` keeps 3/11 of events vs the declared
    query's 1/11) — a bounded version of the output-bound instance
    the pre-r6 sf1 scaler accidentally created by shifting the %11
    filter per copy (the full 10/11 instance runs ~16s at sf0.1 —
    too heavy for a per-round row). Kept as a separately-labeled bench row so the output-bound
    WCO regime stays measured after the scaler fix made replicated
    graphs topology-preserving."""

    eng = _engine(spark, sf_dir)
    if "graph/dedge" not in eng._attributes:
        eng.register_table(
            "events_dense",
            load_table(spark, sf_dir, "events").filter("event_id % 11 < 3"),
        )
        eng.register_derived_attribute(
            "graph/dedge",
            Union(
                ["?s", "?d"],
                [
                    Scan(
                        "events_dense",
                        {"user_id % 1000": "?s", "event_id % 1000": "?d"},
                    )
                ],
            ),
            "?s",
            "?d",
            distinct=True,
        )
    clique = Hector(
        ["?a", "?b", "?c", "?d"],
        [
            AttributeBinding("?a", "graph/dedge", "?b"),
            AttributeBinding("?a", "graph/dedge", "?c"),
            AttributeBinding("?a", "graph/dedge", "?d"),
            AttributeBinding("?b", "graph/dedge", "?c"),
            AttributeBinding("?b", "graph/dedge", "?d"),
            AttributeBinding("?c", "graph/dedge", "?d"),
        ],
    )
    count = Aggregate(
        ["?a"],
        clique,
        [AggregationFn.COUNT],
        [],
        ["?a"],
        with_variables=["?b", "?c", "?d"],
    )
    return eng.implement(count, ["n"])


def q_confusion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-join: constant bindings on two attributes of one entity
    (reference: experiments/src/bin/confusion_filter.rs:23-38 — both
    constants push into one fused scan here)."""

    eng = _engine(spark, sf_dir)
    plan = Hector(
        ["?e", "?v"],
        [
            AttributeBinding("?e", "event/type", "?t"),
            ConstantBinding("?t", "click"),
            AttributeBinding("?e", "event/user", "?u"),
            AttributeBinding("?e", "event/value", "?v"),
            BinaryPredicateBinding(["?hi", "?v"], Predicate.GT),
            ConstantBinding("?hi", 50.0),
        ],
    )
    return eng.implement(plan, ["e", "v"])


def q_confusion_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped count by (user bucket, event type) (reference:
    experiments/src/bin/confusion_aggregate.rs:22-36)."""

    eng = _engine(spark, sf_dir)
    plan = Aggregate(
        ["?b", "?t", "?e"],
        Hector(
            ["?b", "?t", "?e"],
            [
                AttributeBinding("?e", "event/bucket", "?b"),
                AttributeBinding("?e", "event/type", "?t"),
            ],
        ),
        [AggregationFn.COUNT],
        ["?b", "?t"],
        ["?e"],
    )
    return eng.implement(plan, ["b", "t", "n"])


# ---------------------------------------------------------------------------
# Input semantics (SURVEY §2.3)
# ---------------------------------------------------------------------------


def q_cas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CompareAndSwap input semantics (completed from the reference's
    commented-out operator): per-user register folded from the events
    table in (ts, event_id) order."""

    eng = _engine(spark, sf_dir)
    return eng.implement(MatchA("?u", "user/cas_register", "?v"), ["e", "v"])


def q_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LastWriteWins: latest event value per user."""

    eng = _engine(spark, sf_dir)
    return eng.implement(MatchA("?u", "user/last_value", "?v"), ["u", "v"])


def q_distinct_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct input semantics: distinct (user, event_type)."""

    eng = _engine(spark, sf_dir)
    return eng.implement(MatchA("?u", "user/event_type", "?t"), ["u", "t"])


# ---------------------------------------------------------------------------
# Pull queries (SURVEY §2.1 #14-16)
# ---------------------------------------------------------------------------


def q_pull_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    base = q(
        ["?o"],
        [
            AttributeBinding("?o", "orders/totalprice", "?tp"),
            BinaryPredicateBinding(["?lim", "?tp"], Predicate.GT),
            ConstantBinding("?lim", 300000.0),
        ],
    )
    plan = PullLevel(
        ["?o"],
        base,
        "?o",
        ["orders/custkey", "orders/status"],
    )
    return eng.implement(plan, ["o", "a", "v"])


def q_pull_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _engine(spark, sf_dir)
    plan = PullAll(["?e"], ["nation/name", "nation/regionkey"])
    return eng.implement(plan, ["e", "a", "v"])


def q_graphql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphQL document query compiled to nested Pull plans
    (reference: src/plan/graphql.rs). Output follows the reference's
    PullLevel shape (src/plan/pull.rs:170-226): nested levels
    interleave the link attribute into the path, drop the
    cardinality-single child id from attribute rows, and synthesize
    db__id rows carrying it. The AssocIn sink assembles nested JSON
    from these flat rows (tested in pytest)."""

    eng = _engine(spark, sf_dir)
    plan = graphql.compile_graphql(
        'query { orders(status: "F") { priority custkey { name nationkey } } }',
        ref_namespaces={"custkey": "customer"},
    )
    return eng.implement(plan, ["root", "link", "a", "v"])


def q_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of: the latest correction per (entity, event day)
    visible at system time 2024-01-15 (reference: Pair timestamps,
    tests/input_semantics.rs:337-510)."""

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("ts").alias("sys_t"),
        F.col("value").alias("v"),
    )
    return as_of(
        ev, "2024-01-15 00:00:00", ["u"], ev_col="day", sys_col="sys_t"
    ).select("u", "day", "v")


def q_bitemporal_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time LWW changelog over the as-of snapshot: retract/assert
    diffs at each day the visible value changes (reference: bitemporal
    LWW diffs, tests/input_semantics.rs:381-510)."""

    from declarative_dataflow_spark.operators.bitemporal import lww_timeline

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("u"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("ts").alias("sys_t"),
        F.col("value").alias("v"),
    )
    snap = as_of(
        ev, "2024-01-15 00:00:00", ["u"], ev_col="day", sys_col="sys_t"
    ).select("u", "day", "v")
    return lww_timeline(snap, ["u"], v_col="v", ev_col="day").select(
        "u", "day", "v", F.col("diff").cast("long").alias("diff")
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (beyond-reference, BASELINE.json)
# ---------------------------------------------------------------------------


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: shard by content hash, pack greedily
    by cumulative token budget within each shard (one window shuffle,
    shards pack independently in parallel)."""

    return packing.seq_pack(load_table(spark, sf_dir, "documents"))


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over text seeded with deterministic synthetic
    emails/phones (the corpus itself is word soup), so the redaction
    and match counts are observable and oracle-checked."""

    docs = load_table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.lit("contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 "),
            F.col("text"),
        ).alias("text"),
    )
    return text.pii_redact(seeded)


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition ratio (boilerplate/spam signal that
    cross-document dedup misses)."""

    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per-document 3-gram overlap against a
    deterministic "eval set" (every 50th doc stands in for a held-out
    benchmark). Eval n-gram set broadcasts; corpus side is one
    scan + per-doc aggregation."""

    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 0)
    return curation.contamination(docs, eval_docs, n=3)


def q_dup_ngram_frac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicate-3-gram fraction per document (boilerplate
    signal): two uniform-key aggregations, no all-pairs work."""

    return curation.dup_ngram_frac(load_table(spark, sf_dir, "documents"), n=3)


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sharded shuffle for training-order reproducibility:
    hash-dealt shard + within-shard position via a PARTITIONED window
    (n_shards parallel sorts, never one global sort partition)."""

    return curation.global_shuffle(
        load_table(spark, sf_dir, "documents"), n_shards=8
    )


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture assembly under per-language token budgets, walked
    in deterministic hash order (window partitioned by language)."""

    return curation.token_budget_mix(
        load_table(spark, sf_dir, "documents"),
        budgets={"en": 3000, "es": 1500, "de": 1000},
    )


def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-k-documents-per-domain selection: quality-ranked window
    partitioned by (lang, source), deterministic doc_id tiebreak."""

    return curation.topk_per_group(
        load_table(spark, sf_dir, "documents"), k=3
    )


def q_image_meta_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode through the driver gate: each document's text
    seeds a deterministic 3x2 P6 PPM payload (18 ASCII pixel bytes from
    md5 hex), which the pure-numpy decoder parses back. The oracle
    knows the construction, so exact (n_bytes, format, width, height)
    certify the decoder on every row."""

    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(
        F.concat(F.lit("P6\n3 2\n255\n"), F.substring(F.md5("text"), 1, 18)),
        "UTF-8",
    )
    binaries = docs.select("doc_id", payload.alias("payload"))
    return multimodal.decode_image(binaries, fake=False)


def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(load_table(spark, sf_dir, "documents"))


def q_text_subwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.subword_token_count(load_table(spark, sf_dir, "documents"))


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocab induction: corpus-wide top-100 subword pieces
    (count aggregation; the final rank sorts the |vocab|-sized
    aggregate, not the corpus)."""

    return text.vocab_topk(load_table(spark, sf_dir, "documents"), k=100)


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(load_table(spark, sf_dir, "documents"))


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood blocking pairs (window 5 over a 16-char
    normalized sort key). Global order via range partition + offset
    shift — never a single-partition row_number window; neighbor join
    bucketized by window width (equi-join + residual, never a range
    join)."""

    return dedup.sorted_neighborhood_pairs(
        load_table(spark, sf_dir, "documents"), window=5, key_chars=16
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs with the PREFIX-FILTERED candidate join
    (AllPairs/PPJoin): rarest-first prefixes bound the fanout of
    frequent shingles while the output — and therefore the DuckDB
    oracle — is identical to the plain inverted-index join. r13 adds
    the PPJoin positional bound on candidates (zero extra joins) and
    identical-set grouping: docs with the same word set run the pair
    pipeline once per set and expand back — on this templated corpus
    that cuts the quadratic verify mass ~2x, and the output is
    provably the same multiset (identical sets have identical
    similarity to everything; within-group pairs are Jaccard 1.0)."""

    return dedup.jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        n=1,
        threshold=0.5,
        prefix_filter=True,
        group_identical=True,
    )


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        k=16,
        bands=4,
        n=3,
        threshold=0.2,
    )


def q_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup group resolution: LSH pairs -> connected components ->
    one canonical (min doc_id) survivor per duplicate cluster."""

    return dedup.dedup_groups(
        load_table(spark, sf_dir, "documents"),
        k=16,
        bands=4,
        n=3,
        threshold=0.2,
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-LSH near-duplicate pairs over SimHash fingerprints
    (Manku/Jain/Sarma web-dedup): 48-bit fingerprints split into 4
    12-bit blocks; pigeonhole guarantees any pair within 3 bit flips
    collides on at least one block, so candidates come from (band,
    block) key joins — never an all-pairs product — and
    bit_count(xor) verifies exactly. The block width is the density
    lever: 2^12 buckets per band keeps candidate volume ~n²·4/4096
    (8-bit blocks measured bucket-quadratic at 10x data — 81s vs this
    form's ~3s); a corpus that outgrows 4096 buckets widens the
    fingerprint further (bits=60), never the band count. The DuckDB
    twin mirrors band extraction and the Hamming verify
    bit-for-bit."""

    return dedup.simhash_neardup_pairs(
        load_table(spark, sf_dir, "documents"),
        max_distance=3,
        bits=48,
        bands=4,
    )


def q_cross_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup decontamination (NEW in r9): train docs
    whose shingle-set Jaccard with an eval/benchmark doc (every 50th
    doc, the contamination query's split) reaches threshold —
    bipartite MinHash-LSH band join (train-banded x eval-banded, no
    self-join work), exact-Jaccard verify inside buckets. The eval
    side is benchmark-sized so AQE broadcasts it at scale; dropping
    the returned train_ids is the GPT-3-style decontamination pass
    that n-gram overlap (q_contamination) approximates without pair
    attribution."""

    docs = load_table(spark, sf_dir, "documents")
    return dedup.cross_neardup(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        k=16,
        bands=4,
        n=3,
        threshold=0.2,
    )


def q_token_kl_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution drift between two corpus slices (NEW in
    r9): KL(P||Q), KL(Q||P), Jensen-Shannon divergence and union-vocab
    size over add-one-smoothed token distributions — the monitor a
    data mixer runs when a new source lands. Two token-count
    aggregates, one full-outer join on token, one global fold; the
    totals ride a one-row broadcast (allowlisted BNLJ)."""

    from declarative_dataflow_spark.operators import profile as profile_ops

    docs = load_table(spark, sf_dir, "documents")
    return profile_ops.token_kl_shift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
    )


def q_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two corpus slices (NEW in r9):
    cosine + norm ratio of the slices' mean vectors — the
    embedding-side complement of q_token_kl_shift. Dim-wise means via
    posexplode + groupBy(dim) (map-side partial aggregation makes the
    exchange d x partitions rows), d-row mean join, one scalar fold;
    the two count rows ride one-row broadcasts (allowlisted BNLJ)."""

    from declarative_dataflow_spark.operators import profile as profile_ops

    emb = load_table(spark, sf_dir, "embeddings")
    return profile_ops.embed_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff (NEW in r9): the audit a pipeline runs
    when a source re-lands. Old = docs without the % 7 slice, new =
    docs without the % 5 slice with every % 3 doc's text revised —
    deterministic stand-ins for a re-crawl's additions, removals, and
    edits. One full-outer join of (id, md5(text)) projections."""

    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0)
    new = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return curation.snapshot_diff(old, new)


def q_fuzzy_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end (NEW in r9): fuzzy_match pairs ->
    connected components -> canonical id. The % 7 slice keeps the
    distance-1 graph sparse (two multiples of 7 are edit-distance 1
    only via a digit differing by exactly 7), so the gate sees real
    cluster structure — mixed multi-member clusters and singletons —
    instead of one trivial giant component. The oracle is the brute-
    force pair join + recursive reachability closure."""

    return dedup.fuzzy_match_groups(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_custkey") % 7 == 0
        ),
        id_col="c_custkey",
        s_col="c_name",
        max_dist=1,
    )


def q_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-structural cleaning (NEW in r9): the corpus is word
    soup, so the declared query seeds deterministic sentence structure
    (a period + line break every 4 words — the q_line_dedup trick) and
    deterministic contamination (a brace for doc_id % 23, a lorem-
    ipsum placeholder for % 29, a javascript line for % 31) so every
    rule fires both ways. Map-only in both engines."""

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.regexp_replace(
                F.col("text"), r"((\S+ ){3}\S+) ", "$1.\n"
            ),
            F.when(F.col("doc_id") % 23 == 0, F.lit("\nbrace { line."))
            .when(
                F.col("doc_id") % 29 == 0,
                F.lit("\nthis page is lorem ipsum filler text."),
            )
            .when(
                F.col("doc_id") % 31 == 0,
                F.lit("\nenable javascript to view this page now."),
            )
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.c4_rules(docs, min_words_per_line=4, min_lines=3)


def q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components (NEW in r9): the DIRECTED
    complement of q_graph_cc — cycle families in a dependency/link
    graph (here the events-derived 500-node graph, 1/11 sparsifier;
    moduli the sf-scaler stride preserves). Iterative FW-BW coloring
    with pointer-jumped min fixpoints (O(log path) inner rounds); the
    DuckDB twin is the textbook mutual-reachability closure + min,
    which the operator never materializes (quadratic per component).
    At this graph: one 104-node SCC, two 2-cycles, a trimmed acyclic
    fringe."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 500).alias("src"),
        (F.col("event_id") % 500).alias("dst"),
    )
    return graph.scc(edges)


def q_link_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by the Resource-Allocation index (NEW in r9):
    top-100 NON-adjacent pairs of the events-derived 10k-node graph
    ranked by sum(1/deg) over common neighbors, plus the raw
    common-neighbor count — the graph-completion/recommendation
    companion to kcore/scc. RA over Adamic-Adar so the score is an
    exact decimal sum (PageRank's determinism discipline) instead of
    a libm ln(). Wedge volume is sum deg(v)^2, capped by the
    max-center-degree lever (inert at this density, load-bearing on a
    hub-skewed web graph); top-k lowers to TakeOrderedAndProject."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 5 == 0).select(
        (F.col("user_id") % 10000).alias("src"),
        (F.col("event_id") % 10000).alias("dst"),
    )
    return graph.link_prediction(edges, top_k=100)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dup resolution (NEW in r9): dedup_groups'
    LSH-pairs -> connected-components clustering, but the survivor is
    the cluster's LONGEST document (n_chars, ties to smallest doc_id)
    — "of these crawls of the same page, keep the best one", the form
    curation pipelines actually deploy. Extra cost over dedup_groups:
    one cluster-partitioned row_number window + one component-keyed
    join."""

    return dedup.dedup_keep_best(
        load_table(spark, sf_dir, "documents"),
        k=16,
        bands=4,
        n=3,
        threshold=0.2,
        quality_col="n_chars",
    )


def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-shift changepoint profile (NEW in r9): per event_type,
    daily value means compared across a 7-day-each-side sliding
    window (two-sided CUSUM-style drift test — the monitor a data
    pipeline runs on source metrics). The corpus's value column is
    stationary noise, so the declared instance SEEDS a +5 level shift
    on 2024-01-16T00:00Z (epoch-us constant, identical in both
    engines) that the profile must surface at the boundary. Exact
    decimal bin/window sums; the only float ops are final
    correctly-rounded divisions."""

    from declarative_dataflow_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    seeded = ev.withColumn(
        "value",
        F.col("value")
        + F.when(
            timeseries._epoch_us("ts") >= F.lit(1705363200000000),
            F.lit(5.0),
        ).otherwise(F.lit(0.0)),
    )
    return timeseries.changepoint(seeded, window=7)


def q_edge_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge triangle support (NEW in r9): the k-truss measure over
    the wco_4clause graph (1000 nodes, 1/11 sparsifier — moduli the
    sf-scaler preserves). Two node-keyed wedge joins + one uniform
    count; zero-support edges kept via the left join."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.edge_triangle_support(edges)


def q_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss (declared in r11 — closing the one §2-adjacent key with
    no driver-recordable oracle): recount-and-peel until every
    surviving edge closes >= t triangles within the subgraph. The
    declared instance peels the DENSER 200-node /5 graph (the /11
    wco_4clause graph converges to empty at sf0.01) at t=3 — measured
    peel depth 6 at sf0.01, 3 at sf0.001, 1 at sf0.1; the DuckDB twin
    unrolls the peel to 8 chained rounds (post-convergence rounds are
    exact no-ops: recount over a fixed set drops nothing), the
    _bpe_oracle_sql / _pca_oracle_sql discipline for iterative ops."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 5 == 0).select(
        (F.col("user_id") % 200).alias("src"),
        (F.col("event_id") % 200).alias("dst"),
    )
    return graph.ktruss(edges, t=3)


def _ktruss_oracle_sql(t: int = 3, rounds: int = 8) -> str:
    """DuckDB twin of q_ktruss: the recount-and-peel loop unrolled as
    chained CTEs. Round i recounts triangle support over the current
    canonical edge set e{i} (symmetrized per round for the wedge
    neighbor sets, zero-support edges kept via the left join) and
    e{i+1} keeps support >= t; after convergence every further round
    is a no-op, so any unroll depth >= the true peel depth yields the
    exact fixpoint. rounds=8 > the measured depth at every shipped
    sf (6 at sf0.01)."""

    # Every CTE is MATERIALIZED: DuckDB inlines plain CTEs at each
    # reference site, and each round references the previous ~5x — an
    # inlined 8-round unroll re-expands the base scan exponentially
    # (hundreds of thousands of parquet opens; observed as "Too many
    # open files"). Materialization makes the unroll linear in rounds.
    ctes = [
        "e1 AS MATERIALIZED (SELECT DISTINCT least(s, d) AS a, "
        "greatest(s, d) AS b "
        "FROM (SELECT user_id % 200 AS s, event_id % 200 AS d "
        "FROM events WHERE event_id % 5 = 0) WHERE s <> d)"
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"u{i} AS MATERIALIZED (SELECT a AS src, b AS dst FROM e{i} "
            f"UNION ALL SELECT b, a FROM e{i})"
        )
        ctes.append(
            f"s{i} AS MATERIALIZED (SELECT c.a, c.b, "
            "coalesce(t.n, 0::BIGINT) AS support "
            f"FROM e{i} c LEFT JOIN ("
            f"SELECT c2.a, c2.b, count(*)::BIGINT AS n FROM e{i} c2 "
            f"JOIN u{i} n1 ON n1.src = c2.a "
            f"JOIN u{i} n2 ON n2.src = c2.b AND n2.dst = n1.dst "
            "GROUP BY 1, 2) t ON t.a = c.a AND t.b = c.b)"
        )
        if i < rounds:
            ctes.append(
                f"e{i + 1} AS MATERIALIZED (SELECT a, b FROM s{i} "
                f"WHERE support >= {t})"
            )
    return (
        "WITH " + ", ".join(ctes)
        + f" SELECT a, b, support FROM s{rounds}"
    )


def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dyadic-exact EWMA smoothing (NEW in r11): per-user half-life
    smoothing truncated to 8 FIR taps — every weight a power of two,
    so each term is exact and the left-assoc chain is bit-identical
    in both engines. ONE key-partitioned window."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.ewma_dyadic(load_table(spark, sf_dir, "events"))


def _ewma_oracle_sql(taps: int = 8) -> str:
    """DuckDB twin of timeseries.ewma_dyadic: the IDENTICAL
    exact-decimal tap chain — each term comes from the shared
    ewma_term_sql generator, so both engines evaluate the same
    DECIMAL expression (a pure-double chain measured FAIL at .5e-6
    rounding midpoints: Spark rounds the exact decimal, DuckDB
    rounds x*1e6 in floats)."""

    from declarative_dataflow_spark.operators.timeseries import (
        ewma_term_sql,
    )

    term = " + ".join(ewma_term_sql(j, window="w") for j in range(taps))
    return (
        "WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS tu, "
        "CAST(value AS DOUBLE) AS value FROM events) "
        "SELECT event_id, user_id, tu, value, "
        f"CAST(round({term}, 6) AS DOUBLE) AS ewma "
        "FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)"
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (NEW in r11): per-user TWAP over the
    irregular event series — exact integer holding durations, exact
    DECIMAL(18,6) value x duration sums, one final IEEE division."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.time_weighted_avg(
        load_table(spark, sf_dir, "events")
    )


def q_markov_trans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (NEW in r11): first-order Markov
    (from, to, n, p) over consecutive same-user events — one lead()
    window, one uniform count, one broadcast normalization."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.transition_matrix(
        load_table(spark, sf_dir, "events")
    )


def q_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness (NEW in r11): per-user index of
    dispersion of event gaps — exact DECIMAL(38,0) gap moments, the
    anomalies/assortativity discipline."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.burstiness(load_table(spark, sf_dir, "events"))


def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded RFM segmentation (NEW in r11): per-customer recency/
    frequency/monetary with FIXED policy bands (quantile scoring would
    be a global sort over the dimension — the banned shape); exact
    DECIMAL(18,2) money sums, exact integer day arithmetic."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.rfm_segments(load_table(spark, sf_dir, "orders"))


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (NEW in r11): 2 fixed mutual-reinforcement
    iterations over the wco_4clause graph — exact DECIMAL(18,6) score
    sums, max-normalized round-6 per half-step (the pagerank
    determinism discipline); DuckDB twin unrolls the iterations as
    chained CTEs."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.hits(edges, iters=2)


def _hits_oracle_sql(iters: int = 2) -> str:
    """DuckDB twin of graph.hits: the mutual-reinforcement loop
    unrolled (MATERIALIZED — the ktruss inlining lesson), same exact
    DECIMAL(18,6) sums, same round-6 max-normalization per half-step."""

    dec = "DECIMAL(18,6)"
    ctes = [
        "e0 AS MATERIALIZED (SELECT DISTINCT user_id % 1000 AS s, "
        "event_id % 1000 AS t FROM events WHERE event_id % 11 = 0)",
        "e AS MATERIALIZED (SELECT s, t FROM e0 WHERE s <> t)",
        "nodes AS MATERIALIZED (SELECT s AS node FROM e "
        "UNION SELECT t FROM e)",
        f"h0 AS MATERIALIZED (SELECT node, CAST(1 AS {dec}) AS h "
        "FROM nodes)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"ar{i} AS MATERIALIZED (SELECT e.t AS node, "
            f"sum(h.h) AS a_raw FROM e JOIN h{i - 1} h ON h.node = e.s "
            "GROUP BY 1)"
        )
        ctes.append(
            f"a{i} AS MATERIALIZED (SELECT n.node, "
            "CAST(round(CAST(coalesce(r.a_raw, 0) AS DOUBLE) / "
            f"CAST((SELECT max(a_raw) FROM ar{i}) AS DOUBLE), 6) "
            f"AS {dec}) AS a FROM nodes n LEFT JOIN ar{i} r USING (node))"
        )
        ctes.append(
            f"hr{i} AS MATERIALIZED (SELECT e.s AS node, "
            f"sum(a.a) AS h_raw FROM e JOIN a{i} a ON a.node = e.t "
            "GROUP BY 1)"
        )
        ctes.append(
            f"h{i} AS MATERIALIZED (SELECT n.node, "
            "CAST(round(CAST(coalesce(r.h_raw, 0) AS DOUBLE) / "
            f"CAST((SELECT max(h_raw) FROM hr{i}) AS DOUBLE), 6) "
            f"AS {dec}) AS h FROM nodes n LEFT JOIN hr{i} r USING (node))"
        )
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT n.node, CAST(coalesce(h.h, 0) AS DOUBLE) AS hub, "
        "CAST(coalesce(a.a, 0) AS DOUBLE) AS authority "
        f"FROM nodes n LEFT JOIN h{iters} h USING (node) "
        f"LEFT JOIN a{iters} a USING (node)"
    )


PPR_SEEDS = (0, 1, 2)


def q_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (NEW in r11): 6 fixed iterations with the
    random jump pinned to seeds {0,1,2} over the pagerank graph — the
    PR_CONTRIB_SQL exact-decimal discipline, only the teleport vector
    changes."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.select(
        (F.col("user_id") % 100).alias("src"),
        (F.col("event_id") % 100).alias("dst"),
    )
    return graph.personalized_pagerank(
        edges, seeds=list(PPR_SEEDS), iters=6
    )


def _ppr_oracle_sql(iters: int = 6, d: float = 0.85) -> str:
    """DuckDB twin of graph.personalized_pagerank: _pagerank_oracle
    with the uniform base swapped for the seed-indicator CASE — the
    base/init literals come from the same Python round() as the Spark
    side, so both engines see identical scalars."""

    seeds = ", ".join(str(s) for s in PPR_SEEDS)
    base = f"{round((1.0 - d) / len(PPR_SEEDS), 6):.6f}"
    init = f"{round(1.0 / len(PPR_SEEDS), 6):.6f}"
    seed_term = (
        f"CASE WHEN n.node IN ({seeds}) "
        f"THEN CAST('{base}' AS DECIMAL(8,6)) "
        "ELSE CAST(0 AS DECIMAL(8,6)) END"
    )
    rank_expr = (
        f"CAST(round({seed_term} + CAST('{d:.8f}' AS DECIMAL(10,8)) * "
        "coalesce(CAST(c.in_sum AS DECIMAL(24,15)), "
        "CAST(0 AS DECIMAL(24,15))), 6) AS DOUBLE)"
    )
    parts = [
        "edges AS (SELECT DISTINCT user_id % 100 AS s, "
        "event_id % 100 AS t FROM events)",
        "nodes AS (SELECT s AS node FROM edges UNION SELECT t FROM edges)",
        "outdeg AS (SELECT s AS node, count(*) AS deg FROM edges "
        "GROUP BY s)",
        f"pr0 AS (SELECT node, CASE WHEN node IN ({seeds}) "
        f"THEN CAST('{init}' AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END "
        "AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"pr{i} AS (SELECT n.node, {rank_expr} AS rank "
            "FROM nodes n LEFT JOIN ("
            "SELECT e.t AS node, "
            "sum(CAST(round(p.rank / o.deg, 15) AS DECIMAL(24,15))) "
            "AS in_sum "
            f"FROM pr{i - 1} p JOIN outdeg o ON p.node = o.node "
            "JOIN edges e ON p.node = e.s GROUP BY e.t) c "
            "ON n.node = c.node)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT node, rank FROM pr{iters}"


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph (NEW in r11): reciprocated top-5 cosine
    neighbors within density-derived k-means cells — the graph whose
    components drive density-based dedup clustering. Cell-bucketed
    candidates, cell-bounded rank windows, mutual filter on the
    reduced edge set."""

    return similarity.knn_graph(
        load_table(spark, sf_dir, "embeddings"), k_neighbors=5
    )


def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path mining (NEW in r11): top-20 most frequent 3-step
    consecutive event-type sequences — one lead window, one uniform
    count, TakeOrderedAndProject with a total tie order."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.top_paths(load_table(spark, sf_dir, "events"))


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile (NEW in r11): per event type,
    (dow, n, share, avg_value) with dow from exact integer epoch-day
    arithmetic — engine dayofweek() builtins disagree on numbering."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.seasonality(load_table(spark, sf_dir, "events"))


def q_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source log-bucket quantiles (NEW in r11): p50/p90/p99 of
    n_chars per source from <= 41 rows of state per group — the
    hist_quantiles ladder with a key column; the cum table is a
    key-partitioned window over <= 41-row partitions."""

    return sketch.group_hist_quantiles(
        load_table(spark, sf_dir, "documents")
    )


def _group_hist_oracle_sql(
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB twin of sketch.group_hist_quantiles on documents.source
    x n_chars: same bit-length CASE ladder, same fraction-arithmetic
    ranks, cum via a bounded key-partitioned window."""

    from fractions import Fraction

    bits = sketch.HIST_BITS
    bl = sketch._bitlen_case_sql("n_chars", bits)
    rows = ", ".join(
        f"({float(q)!r}, {Fraction(str(q)).numerator}, "
        f"{Fraction(str(q)).denominator})"
        for q in qs
    )
    return (
        f"WITH h AS (SELECT source AS k, {bl} AS bucket, "
        "count(*)::BIGINT AS cnt FROM documents GROUP BY 1, 2), "
        "cum AS (SELECT k, bucket, sum(cnt) OVER (PARTITION BY k "
        "ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW)::BIGINT AS n_le FROM h), "
        "t AS (SELECT k, sum(cnt)::BIGINT AS n FROM h GROUP BY 1), "
        f"qv AS (SELECT CAST(q AS DOUBLE) AS q, num, den FROM "
        f"(VALUES {rows}) v(q, num, den)), "
        "r AS (SELECT t.k, qv.q, CAST((t.n * qv.num + qv.den - 1) "
        "// qv.den AS BIGINT) AS rk, t.n FROM t, qv), "
        "picked AS (SELECT r.k, r.q, r.rk, r.n, min(c.bucket) AS bucket "
        "FROM r JOIN cum c ON c.k = r.k AND c.n_le >= r.rk "
        "GROUP BY 1, 2, 3, 4) "
        "SELECT p.k AS source, p.q, p.bucket, "
        "(CASE WHEN p.bucket = 0 THEN 0 "
        "ELSE (1::BIGINT << (p.bucket - 1)) END)::BIGINT AS lb, "
        "((1::BIGINT << p.bucket) - 1)::BIGINT AS ub, "
        "c.n_le, p.rk, p.n "
        "FROM picked p JOIN cum c ON c.k = p.k AND c.bucket = p.bucket"
    )


def q_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label-noise detection (NEW in r11): each vector's label vs
    the majority label of its 5 nearest within-cell neighbors — the
    knn_graph directed edges + one vote count + a per-node argmax."""

    return similarity.label_noise(load_table(spark, sf_dir, "embeddings"))


def q_incremental_asof_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained bitemporal as-of view under a deterministic
    correction/retraction churn script (NEW in r12; VERDICT r11 ask
    #5): the events table becomes a correction stream — (user,
    event-day, sys_t=event_id, value) facts with every 31st correction
    a tombstone — pushed through streaming.IncrementalAsOf in 4
    epochs, each retracting some of the previous epoch's corrections
    (resurfacing the correction beneath, or un-deleting a tombstoned
    fact). The final current() equals the batch as_of over the
    SURVIVING corrections — the closed form the DuckDB twin states in
    one WHERE clause (streaming/churn.py has the fixed script).
    Reference: bitemporal corrections, tests/input_semantics.rs:337-510."""

    from declarative_dataflow_spark.streaming.churn import run_churn
    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalAsOf,
    )
    from declarative_dataflow_spark.operators.timeseries import _epoch_us

    ev = load_table(spark, sf_dir, "events")
    facts = ev.select(
        "event_id",
        "user_id",
        # integer DIV, exact at any magnitude (no double quotient)
        _epoch_us("ts").alias("__us"),
        F.col("event_id").alias("sys_t"),
        F.col("value").alias("v"),
        (F.col("event_id") % 31 == 0).alias("retracted"),
    ).withColumn("ev_t", F.expr("__us DIV 86400000000")).drop("__us")
    return run_churn(
        lambda d: IncrementalAsOf(spark, d, e_col="user_id"), facts
    )


def q_incremental_sessionize_churn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained session stats under the fixed churn script (NEW in
    r12): 4 epochs of adds with per-epoch retractions of bridging
    events — the session SPLIT / renumber case the maintainer's
    touched-key recompute must handle exactly. Final current() ==
    batch session_stats over the surviving events (the sessionize
    oracle with the surviving WHERE clause)."""

    from declarative_dataflow_spark.streaming.churn import run_churn
    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalSessionize,
    )

    ev = load_table(spark, sf_dir, "events")
    return run_churn(lambda d: IncrementalSessionize(spark, d), ev)


def q_incremental_funnel_churn(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maintained ordered-funnel depths under the fixed churn script
    (NEW in r12): retracting a step completion can REGRESS a user's
    depth and shift later completion times earlier/later — the
    new-minus-old diff machinery under genuine retraction. Final
    current() == batch funnel over the surviving events."""

    from declarative_dataflow_spark.streaming.churn import run_churn
    from declarative_dataflow_spark.streaming.event_stats import (
        IncrementalFunnel,
    )

    ev = load_table(spark, sf_dir, "events")
    return run_churn(
        lambda d: IncrementalFunnel(
            spark, d, ["view", "click", "purchase"]
        ),
        ev,
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease (NEW in r11): integer-exact word/sentence/
    vowel-group counts, one fixed IEEE combination — map-only."""

    return text.readability(load_table(spark, sf_dir, "documents"))


def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (NEW in r11): the marker-word
    classifier scored against the corpus's lang labels — (true, pred,
    n, rate), |langs|^2 output at any scale."""

    return text.langid_eval(load_table(spark, sf_dir, "documents"))


PIVOT_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot long->wide (NEW in r11): per-user event-kind count matrix
    with a PINNED value list — ONE hash aggregate of conditional sums
    (never the open pivot's distinct pre-pass)."""

    from declarative_dataflow_spark.operators import reshape

    return reshape.pivot_counts(
        load_table(spark, sf_dir, "events"),
        "user_id",
        "event_type",
        list(PIVOT_EVENT_TYPES),
    )


UNPIVOT_METRICS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot wide->long (NEW in r11): lineitem's four metric columns
    melted to (orderkey, linenumber, metric, val) through Spark's
    built-in Expand — map-side generator, no shuffle."""

    from declarative_dataflow_spark.operators import reshape

    return reshape.unpivot_metrics(
        load_table(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_linenumber"],
        list(UNPIVOT_METRICS),
    )


def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS aggregation (NEW in r11): the explicit-sets
    sibling of the rollup/cube family — (source), (lang),
    (source, lang), and the grand total in ONE Expand + hash
    aggregate pass."""

    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__r11_gs_docs")
    return spark.sql(
        "SELECT source, lang, count(*) AS n, "
        "CAST(sum(n_chars) AS BIGINT) AS chars FROM __r11_gs_docs "
        "GROUP BY GROUPING SETS ((source), (lang), (source, lang), ())"
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty scoring (NEW in r10): per document, the fraction
    of its distinct 3-gram shingles seen in no earlier doc_id — the
    curriculum/redundancy signal. Row-local shingles, one uniform
    min(doc_id) aggregation, shingle-keyed join back."""

    return curation.ngram_novelty(
        load_table(spark, sf_dir, "documents"), n=3
    )


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced subsampling (NEW in r10): keep at most 32
    members per deterministic k-means cell by reproducible md5 order —
    the topic-balancing pass before a training mix. k="auto" derives
    density_cells(n); one cell-partitioned window over ~256-row
    partitions."""

    return similarity.cluster_sample(
        load_table(spark, sf_dir, "embeddings"), quota=32, k="auto",
        iters=2,
    )


def q_period_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal coalesce/normalize (NEW in r10): each user's 30-min
    validity windows merged into maximal disjoint periods — the
    SQL:2011 temporal-table primitive over the events stream. One
    key-partitioned running-max window + one (key, island) aggregate."""

    from declarative_dataflow_spark.operators import bitemporal
    from declarative_dataflow_spark.operators.timeseries import _epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"),
        _epoch_us("ts").alias("s"),
        (_epoch_us("ts") + F.lit(1800000000)).alias("e"),
    )
    return bitemporal.period_coalesce(ev)


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (NEW in r10): each purchase credited to
    the user's most recent strictly-preceding click/view (NULL =
    direct). One key-partitioned window ordered (tu, event_id) with a
    1-PRECEDING frame; other event types drop at the scan."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.last_touch_attribution(
        load_table(spark, sf_dir, "events")
    )


def q_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based tumbling windows (NEW in r10): each user's events
    in (tu, event_id) order chopped into 50-row windows — the
    "every N events" trigger time windows can't express (volume
    micro-batching, N-event bars). One key-partitioned row_number
    window (exact integer DIV) + one (key, win_seq) aggregation."""

    from declarative_dataflow_spark.operators.timeseries import _epoch_us
    from declarative_dataflow_spark.streaming import windows

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", _epoch_us("ts").alias("tu")
    )
    return windows.count_window_agg(
        ev,
        50,
        ["user_id"],
        ["tu", "event_id"],
        {
            "start_us": "min(tu)",
            "end_us": "max(tu)",
            "total": "round(sum(value), 2)",
        },
    )


def q_node_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard node similarity (NEW in r10): per node,
    the top-5 most similar others by |N∩|/|N∪| over the edge_support
    graph — structural-role detection. link_pred's wedge machinery
    with a per-node rank window over wedge-bounded partitions."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.node_similarity(edges, top_k=5)


def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (NEW in r10): Newman's Pearson correlation
    of endpoint degrees over the edge_support graph — hubs-link-hubs
    vs hubs-link-leaves, one row. Exact DECIMAL(38,0) moment sums
    (partition-order-free, overflow-safe); floats only in the final
    sqrt/division, rounded to 6."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.degree_assortativity(edges)


def q_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient (NEW in r10): the
    Watts-Strogatz density measure over the edge_support graph
    (1000 nodes, 1/11 sparsifier — moduli the sf-scaler preserves).
    Wedge joins centered on the node + a left-semi closure probe, one
    uniform count; cc = round(2T/(d(d−1)), 6) — one IEEE division of
    exact ints, identical in both engines."""

    ev = load_table(spark, sf_dir, "events")
    edges = ev.filter(F.col("event_id") % 11 == 0).select(
        (F.col("user_id") % 1000).alias("src"),
        (F.col("event_id") % 1000).alias("dst"),
    )
    return graph.clustering_coefficient(edges)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by lift (NEW in r10): top-100 adjacent word
    pairs (seen >= 5 times) ranked by c(xy)·N / (c(x)·c(y)) — the
    exact monotone core of PMI with no libm log anywhere. Row-local
    bigrams, two uniform-key counts, word-keyed joins, one-row N
    broadcast, TakeOrderedAndProject top-k."""

    return text.collocations(
        load_table(spark, sf_dir, "documents"), min_count=5, top_k=100
    )


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking (NEW in r10): greedy top-5 from each
    probe's 20 most-relevant candidates, λ=0.5 relevance-vs-redundancy
    trade — the RAG diversity pass between ANN and the context window.
    Every post-candidate table is |q| x depth or smaller; the k-step
    greedy loop is driver-orchestrated, never driver-evaluated."""

    return retrieval.mmr_rerank(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        depth=20,
    )


def _mmr_oracle_sql(k: int = 5, depth: int = 20) -> str:
    """DuckDB twin of retrieval.mmr_rerank: the greedy steps unrolled
    as CTEs — candidate top-``depth`` by cosine (tie: neighbor asc),
    per-step score 0.5·rel − 0.5·max-sim-to-selected ordered UNROUNDED
    (the Spark argmax's exact key), winners rounded to 6."""

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        "q AS (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id < 10)",
        "xs AS (SELECT q.q, e.vec_id AS neighbor, "
        "round(list_dot_product(q.qv, e.v) / "
        "nullif(sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product(e.v, e.v)), 0.0), 4) AS rel "
        "FROM e CROSS JOIN q WHERE e.vec_id != q.q)",
        "cand AS (SELECT q, neighbor, rel FROM (SELECT *, row_number() "
        "OVER (PARTITION BY q ORDER BY rel DESC, neighbor) AS rn "
        f"FROM xs) WHERE rn <= {depth})",
        "ps AS (SELECT ca.q, ca.neighbor AS a, cb.neighbor AS b, "
        "round(list_dot_product(ea.v, eb.v) / "
        "nullif(sqrt(list_dot_product(ea.v, ea.v)) * "
        "sqrt(list_dot_product(eb.v, eb.v)), 0.0), 4) AS psim "
        "FROM cand ca JOIN cand cb ON cb.q = ca.q "
        "AND cb.neighbor != ca.neighbor "
        "JOIN e ea ON ea.vec_id = ca.neighbor "
        "JOIN e eb ON eb.vec_id = cb.neighbor)",
        "s1 AS (SELECT q, neighbor, 1 AS step, round(score, 6) AS score "
        "FROM (SELECT q, neighbor, 0.5 * rel AS score, row_number() "
        "OVER (PARTITION BY q ORDER BY 0.5 * rel DESC, neighbor) AS rn "
        "FROM cand) WHERE rn = 1)",
        "sel1 AS (SELECT q, neighbor FROM s1)",
    ]
    for t in range(2, k + 1):
        p = t - 1
        ctes.append(
            f"s{t} AS (SELECT q, neighbor, {t} AS step, "
            "round(score, 6) AS score FROM ("
            "SELECT r.q, r.neighbor, "
            "0.5 * r.rel - 0.5 * coalesce(m.msim, 0.0) AS score, "
            "row_number() OVER (PARTITION BY r.q ORDER BY "
            "0.5 * r.rel - 0.5 * coalesce(m.msim, 0.0) DESC, "
            "r.neighbor) AS rn "
            "FROM (SELECT c.* FROM cand c WHERE NOT EXISTS ("
            f"SELECT 1 FROM sel{p} s WHERE s.q = c.q "
            "AND s.neighbor = c.neighbor)) r "
            "LEFT JOIN (SELECT p.q, p.a AS neighbor, "
            f"max(p.psim) AS msim FROM ps p JOIN sel{p} s "
            "ON s.q = p.q AND s.neighbor = p.b GROUP BY 1, 2) m "
            "ON m.q = r.q AND m.neighbor = r.neighbor) WHERE rn = 1)"
        )
        ctes.append(
            f"sel{t} AS (SELECT q, neighbor FROM sel{p} "
            f"UNION ALL SELECT q, neighbor FROM s{t})"
        )
    union = " UNION ALL ".join(
        f"SELECT q, neighbor, step, score FROM s{t}"
        for t in range(1, k + 1)
    )
    return "WITH " + ", ".join(ctes) + " " + union


def q_trunc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation eval (NEW in r10): recall@5 of exact
    cosine search over the first 32 of 64 dims vs full-dim exact —
    the eval gating a 2x scan-cost dim cut (MRL serving). Two
    cosine_topk passes (truncated side = row-local array slice), one
    |q| x k intersection join; probe-bounded."""

    return similarity.truncation_recall(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        trunc_dim=32,
    )


def q_pca_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-iteration top singular direction + per-vector projection
    (NEW in r10): uncentered PCA by v ← normalize(Xᵀ(Xv)), two steps
    from the deterministic 1/sqrt(dim) start — the spectral primitive
    for whitening/spectral-hash init/1-D corpus ordering. Each step is
    one corpus pass; contributions round-15 into exact DECIMAL(38,15)
    sums (partition-order-free), components round to 6 — bit parity
    with the DuckDB twin at every step."""

    return similarity.top_component(
        load_table(spark, sf_dir, "embeddings"), iters=2
    )


def _pca_oracle_sql(iters: int = 2) -> str:
    """DuckDB twin of similarity.top_component: the power steps
    unrolled as CTEs — list_dot_product (left-assoc ascending, the
    Spark unroll's exact fold order), round-15 DECIMAL(38,15)
    contribution and norm-square sums, round-6 components."""

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        "d AS (SELECT max(len(v)) AS dim FROM e)",
        "v0 AS (SELECT list_transform(range(1, d.dim + 1), "
        "x -> 1.0 / sqrt(d.dim::DOUBLE)) AS v FROM d)",
    ]
    for t in range(1, iters + 1):
        p = t - 1
        ctes.append(
            f"s{t} AS (SELECT list_dot_product(e.v, "
            f"(SELECT v FROM v{p})) AS dot, e.v FROM e)"
        )
        ctes.append(
            f"c{t} AS (SELECT i, sum(CAST(round(dot * x, 15) AS "
            "DECIMAL(38,15))) AS w FROM (SELECT dot, unnest(v) AS x, "
            f"unnest(range(1, len(v) + 1)) AS i FROM s{t}) GROUP BY i)"
        )
        ctes.append(
            f"n{t} AS (SELECT sqrt(CAST(sum(CAST(round("
            "CAST(w AS DOUBLE) * CAST(w AS DOUBLE), 15) AS "
            f"DECIMAL(38,15))) AS DOUBLE)) AS nrm FROM c{t})"
        )
        ctes.append(
            f"v{t} AS (SELECT list(round(CAST(w AS DOUBLE) / "
            f"nullif((SELECT nrm FROM n{t}), 0.0), 6) ORDER BY i) "
            f"AS v FROM c{t})"
        )
    return (
        "WITH " + ", ".join(ctes)
        + " SELECT e.vec_id, round(list_dot_product(e.v, "
        f"(SELECT v FROM v{iters})), 6) AS proj FROM e"
    )


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (NEW in r10): corpus token mass
    covered by the top-{64, 256, 1024, 4096} words — the Zipf curve a
    tokenizer budget is sized against (OOV rate = 1 − coverage). One
    uniform count, one TakeOrdered of max(ks) rows, rank window over
    the survivors only, 4-row cut-point broadcast join."""

    return text.vocab_coverage(load_table(spark, sf_dir, "documents"))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (NEW in r10): variable-length token
    chunks split where the local bigram hash ≡ 0 mod 16 (the
    rsync/FastCDC alignment trick — an upstream edit perturbs only
    its own chunk, so shared passages keep matching), plus the
    corpus-wide count of documents sharing each chunk hash — the
    dedup granularity between md5-exact and dup_spans-substring.
    Boundary flags are row-local; chunk ids come from a DOC-
    partitioned running sum; n_docs is one hash-keyed aggregation."""

    return dedup.cdc_chunks(
        load_table(spark, sf_dir, "documents"), divisor=16
    )


def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash sketch-quality eval (NEW in r9): signature-estimated
    vs exact Jaccard with absolute error for every exact-band LSH
    candidate pair — the eval that qualifies a (k, bands) setting the
    way ann_recall qualifies nprobe. Same scale shape as minhash_lsh
    plus one row-local zip_with compare per candidate."""

    return dedup.minhash_est_error(
        load_table(spark, sf_dir, "documents"), k=16, bands=4, n=3
    )


def q_text_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization (NEW in r9): the pass every
    hash-keyed dedup runs first. The corpus is clean ASCII, so the
    declared query seeds the dirt deterministically — accented vowels
    for doc_id % 3, case + padding noise for % 5 — and the operator
    must fold all of it back while flagging exactly the touched rows.
    Map-only in both engines; the accent map is a FIXED table, not
    locale NFKD."""

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.translate(F.col("text"), "aeiou", "áéíóú"),
        )
        .when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("  "), F.upper(F.col("text")), F.lit("   ")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text.text_norm(docs)


def q_lsh_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-quality eval (NEW in r9): precision/recall of the
    production MinHash-LSH pair set against the exact prefix-filtered
    set-similarity join at the same threshold — what the banding
    LOSES end-to-end, completing the sketch-eval family beside
    ann_recall and minhash_est. The corpus's own pair distribution is
    bimodal (>= 0.9 near-dups the banding always finds, plus a ~0.05
    fringe whose exact join degenerates — a 0.05 threshold blunts the
    prefix filter to ~0.95|d| prefixes), so the declared instance
    SEEDS the interesting regime instead: every 10th doc gets a
    mutant twin diluted by a constant 60-word suffix, putting pair
    similarities on a 0.1-0.6 spread across the 16/4 banding's
    S-curve. At threshold 0.2 the truth join keeps its prefix-filter
    selectivity (scale-sane) and the gate exercises BOTH outcomes:
    the found near-dup mass and seeded pairs banding provably
    misses."""

    # Evals run on a sample by design (the ann_recall discipline):
    # the %5 slice keeps the exact-truth join's candidate work
    # sample-sized at every scale factor while the seeded pairs give
    # the banding a full similarity spread to lose.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 0
    )
    # Per-doc dilution tokens: a CONSTANT suffix would make every
    # mutant pair mutually similar (quadratic output); doc_id-salted
    # tokens keep each mutant similar ONLY to its original.
    suffix = F.expr(
        "array_join(transform(sequence(1, 60), "
        "i -> concat('d', doc_id, 'x', i)), ' ')"
    )
    mutants = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" "), suffix).alias("text"),
    )
    return dedup.lsh_precision_recall(
        docs.select("doc_id", "text").union(mutants),
        k=16,
        bands=4,
        n=3,
        threshold=0.5,
    )


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string self-join (NEW in r9): every customer-name
    pair within Levenshtein distance 1 — the record-linkage/entity-
    resolution primitive (near-identical titles, author names, product
    codes). Candidates come from COMPLETE symmetric-deletion blocking
    (FastSS): constant-width xxhash64 variant keys, one uniform
    equi-join, exact levenshtein verify per candidate — never an
    all-pairs comparison. The oracle IS the brute-force length-banded
    join, so the gate checks the blocking's completeness, not just
    the verify. Declared on the % 7 slice: the scale replicas carry
    duplicate names, so the full table's answer is Theta(replicas^2)
    rows per name — output-bound by construction, a scaler artifact
    rather than operator cost (full-table brute-force equality is
    pytest-gated instead)."""

    return dedup.fuzzy_match_pairs(
        load_table(spark, sf_dir, "customer").filter(
            F.col("c_custkey") % 7 == 0
        ),
        id_col="c_custkey",
        s_col="c_name",
        max_dist=1,
    )


def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding table (4x ANN memory
    cut; per-vector symmetric scale). Map-only higher-order array
    expressions; DuckDB twin mirrors the arithmetic.

    The declared query flattens ``qvec`` to a comma-joined string:
    the driver's canonicalizer sorts result columns with pandas, which
    cannot hash list cells (r04 err) — a deterministic string carries
    the identical information through the hash compare."""

    q = similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec"),
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(
        load_table(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (NEW in r9): per probe, the top-5
    most-similar vectors with a DIFFERENT label — the contrastive-
    training companion to cosine_topk. Same Arrow kernel and
    determinism contract; the label filter runs before the rank
    window, one corpus scan + broadcast probe labels."""

    return similarity.hard_negatives(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
    )


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR + nDCG@10 of cosine retrieval against label ground truth
    for 32 probe queries — probe-bounded (broadcast probes + label
    tables), never corpus-quadratic; log2 discounts are Python
    literals in BOTH engines (libm parity is not assumed)."""

    from declarative_dataflow_spark.operators import retrieval

    return retrieval.retrieval_eval(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(32)),
        k=10,
    )


def _retrieval_eval_oracle_sql(k: int = 10, n_queries: int = 32) -> str:
    """DuckDB twin of retrieval.retrieval_eval: same rounded-cosine
    ranking as the cosine_topk oracle, same Python-literal log2
    discounts, DECIMAL DCG, exact-operand final divisions."""

    import math

    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    idcg, acc = [], 0.0
    for d in disc:
        acc += d
        idcg.append(acc)

    def dlits(xs: list[float]) -> str:
        return ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in xs)

    return (
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "label FROM embeddings), "
        f"q AS (SELECT vec_id AS q, v AS qv, label AS qlbl FROM e "
        f"WHERE vec_id < {n_queries}), "
        "s AS (SELECT q.q, q.qlbl, e.vec_id AS neighbor, e.label AS nlbl, "
        "round(list_dot_product(q.qv, e.v) / "
        "(sqrt(list_dot_product(q.qv, q.qv)) * "
        "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
        "FROM e CROSS JOIN q WHERE e.vec_id != q.q), "
        "t AS (SELECT *, CAST(row_number() OVER (PARTITION BY q "
        "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM s), "
        f"tk AS (SELECT * FROM t WHERE rank <= {k}), "
        "lc AS (SELECT label, count(*) AS lcnt FROM embeddings "
        "GROUP BY label), "
        "sc AS (SELECT tk.q, tk.rank, "
        "CASE WHEN tk.nlbl = tk.qlbl THEN 1 ELSE 0 END AS rel, lc.lcnt "
        "FROM tk JOIN lc ON lc.label = tk.qlbl), "
        "a AS (SELECT q, max(lcnt) - 1 AS n_rel, "
        "CAST(sum(rel) AS BIGINT) AS hits, "
        "min(CASE WHEN rel = 1 THEN rank END) AS fr, "
        f"sum(CAST(round(list_extract([{dlits(disc)}], rank) * rel, 15) "
        "AS DECIMAL(24,15))) AS dcg FROM sc GROUP BY q) "
        "SELECT q, n_rel, hits, "
        "round(coalesce(CAST(1.0 AS DOUBLE) / fr, 0.0), 6) AS mrr, "
        "CASE WHEN n_rel <= 0 THEN 0.0 ELSE "
        f"round(CAST(dcg AS DOUBLE) / list_extract([{dlits(idcg)}], "
        f"CAST(least({k}, n_rel) AS INT)), 6) END AS ndcg FROM a"
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the int8-quantized corpus: quantize →
    row-local dequantize → exact cosine top-k. The quantized table is
    the serving corpus (4x smaller); reconstruction error shifts sims
    deterministically in both engines."""

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = similarity.dequantize_embeddings(
        similarity.quantize_embeddings(emb)
    )
    return similarity.cosine_topk(corpus, query_ids=list(range(10)), k=5)


def q_embed_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup clusters over embeddings: cosine pairs ->
    connected components -> min-id canonical per group. Declared with
    the DENSITY-ADJUSTED LSH-bucketed candidate path (planes =
    ceil(log2(n/32)) from the corpus count) like embed_neardup — no
    cartesian at scale, bucket occupancy constant as the corpus grows;
    the DuckDB twin derives the same plane count from count(*)."""

    return similarity.embed_dedup_groups(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        planes="auto",
        dim=64,
    )


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the DENSITY-ADJUSTED
    LSH-bucketed scale path: planes = ceil(log2(n/32)) derived from
    the corpus count, so bucket occupancy stays ~32 as the corpus
    densifies (a fixed plane count is bucket-quadratic at scale —
    measured 26x wall for 10x data at planes=6 vs 8x adjusted).
    Hyperplane buckets restrict the self-join; exact cosine only
    inside buckets — no cartesian in the plan, gated by
    tests/test_plans.py. The md5-parity plane weights are pure SQL,
    so the DuckDB twin reproduces both the plane COUNT (a count(*)
    scalar subquery) and the buckets exactly; the query is fully
    hash-checked. The exact all-pairs variant (planes=None) remains
    the pytest recall verifier."""

    return similarity.embedding_neardup(
        load_table(spark, sf_dir, "embeddings"),
        threshold=0.4,
        planes="auto",
        dim=64,
    )


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: deterministic seed centroids, nprobe
    nearest cells per query, exact cosine inside probed cells."""

    return similarity.ivf_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        n_centroids=16,
        nprobe=4,
    )


def q_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment after one Lloyd (k-means) refinement step.
    Per-component centroid means are rounded to 6 decimals each step,
    so DuckDB reproduces the refined centroids exactly and the final
    argmax-cosine assignment hash-matches."""

    return similarity.ivf_assign(
        load_table(spark, sf_dir, "embeddings"),
        n_centroids=16,
        iters=1,
        dim=64,
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the IVF index (16 cells, nprobe=4) against the
    exact cosine scan for 10 probe queries — the index-quality eval
    that decides whether an nprobe setting is shippable. Both sides
    and the intersection are probe-bounded; the DuckDB twin composes
    the cosine_topk and ann_ivf oracle pipelines verbatim."""

    return similarity.ann_recall(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        n_centroids=16,
        nprobe=4,
    )


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via hyperplane LSH buckets (scale path). The
    md5-parity plane weights are pure SQL, so DuckDB mirrors the
    bucket assignment exactly and the query is fully hash-checked.
    planes="auto" derives the signature width from the corpus count
    (density_planes) in BOTH engines — a pinned width lets per-query
    bucket probes grow linearly as the corpus densifies (the r5
    verdict's planes=6 note, closed for the last pinned site).
    dim=64 matches the testdata embeddings; passing it avoids the
    dimension-sniffing driver query."""

    return similarity.lsh_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        planes="auto",
        dim=64,
    )


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance): 64-dim vectors
    split into 8 subspaces with 16-entry codebooks each (deterministic
    seeds + one 6-decimal-rounded Lloyd step — the ivf_kmeans
    discipline, so DuckDB reproduces the codebooks exactly); corpus
    stored as 8 codes/vector (8 B vs 256 B float32); search is one
    broadcast m x n_codes distance table per query + a sum of 8 table
    lookups per corpus row."""

    return similarity.pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        m=8,
        n_codes=16,
        iters=1,
        dim=64,
    )


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by content
    hash — reproducible across runs, engines, and cluster sizes."""

    from declarative_dataflow_spark.operators import sampling

    return sampling.hash_split(
        load_table(spark, sf_dir, "documents"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select("doc_id", "split")


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language downsampling: keep 50% of 'en', 100% of 'fr',
    drop the rest — deterministic by hash."""

    from declarative_dataflow_spark.operators import sampling

    return sampling.stratified_sample(
        load_table(spark, sf_dir, "documents"),
        {"en": 0.5, "fr": 1.0},
        strata_col="lang",
    ).select("doc_id", "lang")


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_image(multimodal.attach_binary(docs), fake=True)


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.frame_sample(multimodal.attach_binary(docs))


# ---------------------------------------------------------------------------
# Corpus curation, round 6 additions: Gopher rules, line dedup, BM25,
# n-gram LM scoring, BPE merge induction
# ---------------------------------------------------------------------------


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style word-level quality gate (Rae et al. 2021 A1.1):
    five rules as one map-only codegen'd projection. min_words=40
    splits this corpus (docs run ~8-90 words) so both outcomes are
    exercised."""

    return text.gopher_rules(
        load_table(spark, sf_dir, "documents"), min_words=40
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb corpus-level line dedup. The corpus is word soup
    without newlines, so the declared query seeds deterministic line
    breaks every 3 words (regexp in both engines) — short lines off a
    ~40-word vocabulary collide across documents, making removals
    observable."""

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.col("text"), r"((\S+ ){2}\S+) ", "$1\n"
        ).alias("text"),
    )
    return curation.line_dedup(docs, min_docs=2)


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-25 lexical retrieval against a fixed probe query —
    the curation "find documents like this" primitive (classifier
    seeding, domain slicing, filter audits)."""

    return retrieval.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        ["spark", "query", "window", "vector"],
        k=25,
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/KenLM-shaped quality filter: per-document mean bigram
    log-probability under an add-0.5-smoothed model trained on the
    corpus itself."""

    return text.ngram_lm_score(load_table(spark, sf_dir, "documents"))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer training step two (after vocab_topk): the first 8 BPE
    merges learned over the corpus. The DuckDB twin unrolls the same
    8 argmax+fuse steps as chained CTEs."""

    return text.bpe_merges(
        load_table(spark, sf_dir, "documents"), n_merges=8
    )


def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (alpha=0.3) sampling weights per language —
    the multilingual-LM upsampling rule applied to the corpus's token
    shares."""

    return curation.mix_weights(load_table(spark, sf_dir, "documents"))


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords (corpus browsing / cluster
    labeling)."""

    return retrieval.tfidf_topk_terms(
        load_table(spark, sf_dir, "documents"), k=3
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-token estimate (256 registers) next to the
    exact count — the constant-state corpus-cardinality sketch. All
    register arithmetic is exact (md5-uint32 buckets, integer CASE
    bit-length, power-of-two sums), so the DuckDB twin hash-matches."""

    return sketch.hll_distinct(load_table(spark, sf_dir, "documents"))


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch heavy hitters: top-20 terms by CMS estimate
    (4x512 grid) with the exact count alongside. Pure integer
    arithmetic; the broadcast-sketch join is the scale path."""

    return sketch.cms_topk(load_table(spark, sf_dir, "documents"), k=20)


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-bucket histogram quantiles of document length: p50/p90/p99
    of n_chars from <= 41 rows of constant, sum-mergeable state (the
    third sketch family member next to HLL and CMS). Integer-exact in
    both engines: bit-length CASE ladder buckets, fraction-arithmetic
    ranks — no floating log2 or float-product ceil anywhere."""

    return sketch.hist_quantiles(load_table(spark, sf_dir, "documents"))


def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data card: per-column (rows, non-nulls, distinct count, min,
    max) for the documents table from ONE corpus pass — Catalyst plans
    the multi-distinct as a single Expand + two hash aggregates, never
    one scan per column."""

    return profile.corpus_profile(load_table(spark, sf_dir, "documents"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY step: per-document token counts after the first
    8 learned BPE merges — merges apply to the distinct-word table
    only; the DuckDB twin carries the word through the same unrolled
    argmax+fuse chain and joins per-doc word counts at the end."""

    return text.bpe_encode(load_table(spark, sf_dir, "documents"), n_merges=8)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: 32-token windows every 24 tokens, chunk identity
    as md5 of the joined tokens. Map-only — no shuffle at any scale."""

    return packing.chunk_docs(
        load_table(spark, sf_dir, "documents"), window=32, stride=24
    )


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering: k=8 Lloyd k-means assignments after 2
    refinement steps (deterministic seeds + 6-decimal-rounded means —
    the ivf_kmeans discipline, exposed as the assignment)."""

    return similarity.kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), k=8, iters=2
    )


def q_embed_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototypicality pruning (NEW in r9): the SemDeDup complement —
    within each deterministic k-means cell, flag the least-
    prototypical 25% by cosine-to-own-centroid (SSL-prototypes-style
    "prune the weird tail of every semantic cluster"). One n x 1
    scoring pass over the assignment (never n x k), cell-partitioned
    window, exact floor(cell_size * frac) cut in both engines.
    k="auto" (r10): density-derived cell count so each row_number
    partition stays ~target_cell rows at any corpus size — a fixed
    k=8 is 8 single-reducer sorts of n/8 rows each at 100x data."""

    return similarity.embed_prune(
        load_table(spark, sf_dir, "embeddings"), k="auto", iters=2,
        frac=0.25,
    )


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-based quality filter: multinomial NB trained on the
    corpus's own Gopher gate (min_words=40, the declared gopher_rules
    thresholds), scoring every doc by pass-class log-odds."""

    return text.nb_quality_score(
        load_table(spark, sf_dir, "documents"), min_words=40
    )


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup signal: maximal runs of 5-token windows
    shared by >= 2 distinct documents, as cut-ready (start, end)
    spans. Windows shuffle as md5 keys; the run merge is a
    doc-partitioned window."""

    return curation.dup_spans(
        load_table(spark, sf_dir, "documents"), n=5, min_docs=2
    )


def q_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tiers: head/middle/tail thirds of the
    corpus by bigram-LM mean log-prob. Cut points are k-th-largest
    tuples found by TakeOrderedAndProject + one-row broadcast — never
    a global rank window."""

    return text.lm_quality_buckets(
        load_table(spark, sf_dir, "documents"), buckets=3
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (c=60) of BM25
    top-50 and dense cosine top-50 for probe query 0."""

    return retrieval.rrf_fusion(
        load_table(spark, sf_dir, "documents"),
        load_table(spark, sf_dir, "embeddings"),
        ["spark", "query", "window", "vector"],
        query_vec_id=0,
        k=10,
        depth=50,
    )


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed-bigram
    importance of every document toward the 'en' target slice —
    two <=1024-row bucket models, one-row-broadcast totals, broadcast
    logratio join, DECIMAL(24,9) order-independent sums."""

    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_weights(
        docs, docs.filter(F.col("lang") == "en"), n_buckets=1024
    )


def q_bloom_contam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination (Dolma shape): eval 3-grams folded
    into an adaptively-sized (16 bits per eval n-gram) 3-hash filter;
    per-doc fraction of n-grams whose bits are all set. One-sided
    error; the filter broadcasts at any corpus size and its sizing
    tracks the eval set in BOTH engines (a fixed m would saturate as
    benchmarks accumulate — the planes=6 lesson)."""

    docs = load_table(spark, sf_dir, "documents")
    return curation.bloom_contamination(
        docs, docs.filter(F.col("doc_id") % 50 == 0), n=3
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted reservoir sampling (Efraimidis-Spirakis
    A-Res): 100 documents drawn proportional to n_chars via
    ln(u)/w keys; top-k lowers to TakeOrderedAndProject."""

    from declarative_dataflow_spark.operators import sampling

    return sampling.weighted_sample(
        load_table(spark, sf_dir, "documents"), k=100, weight_col="n_chars"
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketized interval join: clicks matched to the 4-hour window
    after each same-user purchase. The time axis buckets at the window
    width, so the range predicate runs as an EQUI-join on
    (user_id, bucket) + residual filter — never a
    BroadcastNestedLoopJoin/cartesian."""

    from declarative_dataflow_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 4 HOURS")).alias("end"),
    )
    return timeseries.interval_join(
        clicks, purchases, on=["user_id"], bucket_seconds=4 * 3600
    ).select("click_id", "purchase_id", "user_id")


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 1-hour count/mean/max over the event stream:
    RANGE window over epoch microseconds, PARTITIONED by user — never
    a global sort; DECIMAL sums keep the mean order-independent."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.rolling_stats(
        load_table(spark, sf_dir, "events"), window_seconds=3600
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time as-of join (the feature-store primitive): every
    click sees the most recent same-user purchase at-or-before its own
    event time. One union + one partitioned window — never an
    inequality join (plan-gated: no Join operator at all)."""

    from declarative_dataflow_spark.operators import timeseries

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("quote_id"), "user_id", "ts", "value"
    )
    return timeseries.asof_join(clicks, purchases, on=["user_id"]).select(
        "event_id", "user_id", "asof_quote_id", "asof_value"
    )


def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly-grid resample with last-observation-carried-
    forward gap fill: two uniform-key shuffles + a map-side explode
    whose volume IS the output — never a grid×events range join."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.resample_locf(
        load_table(spark, sf_dir, "events"), grid_seconds=3600
    )


def q_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection: events more than 2 sigma
    from their user's trailing 7-day distribution (min 8 supporting
    events). One partitioned RANGE window; DECIMAL moments, IEEE
    z arithmetic on identical operands in both engines."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.rolling_zscore(
        load_table(spark, sf_dir, "events"),
        window_seconds=604_800,
        min_n=8,
        threshold=2.0,
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key session labeling (gaps-and-islands, 30-min gap) rolled
    up to session stats — one window PARTITIONED by user plus a
    same-key aggregation, never a global sort."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.session_stats(
        load_table(spark, sf_dir, "events"), gap_seconds=1800
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel per user: earliest
    strictly-increasing completion chain. k filtered scans (type
    predicate pushed down) aggregated to per-user tables, chained by
    equi-joins — never an inequality join or event-stream window."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.funnel(
        load_table(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohort retention: users cohorted by first-event day,
    distinct-user counts per (cohort, offset). Two uniform-key
    shuffles; epoch-bucket arithmetic is exact-integer in both
    engines."""

    from declarative_dataflow_spark.operators import timeseries

    return timeseries.retention(
        load_table(spark, sf_dir, "events"), period_seconds=86_400
    )


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user, minute) — the
    multi-dimensional layout key whose sort keeps parquet min/max
    stats tight in BOTH dimensions (OPTIMIZE ZORDER as a plain column
    expression; pure bit arithmetic, map-only)."""

    from declarative_dataflow_spark import layout
    from declarative_dataflow_spark.operators.timeseries import _epoch_us

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("user_id") % 256).alias("u8"),
        (F.floor(_epoch_us("ts") / 60_000_000) % 256).alias("m8"),
    )
    return ev.select(
        "event_id", layout.zorder_key(["u8", "m8"], bits=8).alias("zkey")
    )


def q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate: word-delimited matching (one shingle
    explode per distinct phrase length + broadcast phrase set — never
    substring scans or a giant regex alternation). Blocklist mixes
    single words and a two-word phrase."""

    return text.blocklist_filter(
        load_table(spark, sf_dir, "documents"),
        ["slow", "spill", "skew", "slow scan"],
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy (the
    compressibility quality proxy): entirely row-local higher-order
    array expressions — zero shuffles; sorted alphabet pins the
    summation order across engines."""

    return text.char_entropy(load_table(spark, sf_dir, "documents"))


def q_quality_calibrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile calibration of the heuristic quality
    score (FineWeb-style): thresholds become comparable across
    languages. One window PARTITIONED by lang — never a global sort."""

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang").join(
        text.quality_score(docs).select("doc_id", "quality"), "doc_id"
    )
    return curation.quality_calibrate(scored, "quality", "lang")


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed schema-on-read over the embedded JSON sidecar column:
    one from_json with an EXPLICIT schema (JVM-side, codegen) projects
    props.k, then a per-k rollup — no inference job, no Python."""

    from declarative_dataflow_spark.sources.files import json_fields

    ev = json_fields(
        load_table(spark, sf_dir, "events"), "props", {"k": "bigint"}
    )
    v = F.col("value").cast("decimal(18,6)")
    return ev.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(v).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_value"
        ),
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language winsorization of document lengths: clamp to the
    nearest-rank [p05, p95] bounds computed in exact integer
    arithmetic — one partitioned window + broadcast bounds join."""

    return curation.winsorize(
        load_table(spark, sf_dir, "documents"), "n_chars", "lang"
    )


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): near-identical embedding pairs
    WITHIN k-means clusters — candidates are cluster-bucketed (equi-
    join on the cell id), never all-pairs. k is DENSITY-DERIVED
    (``k="auto"`` -> max(8, ceil(n/256)) in both engines): a fixed k
    makes the pair join ~n²/k — measured 20x wall for 10x data at
    k=8 — while the derived form caps cell occupancy and stays
    linear. At sf0.01 (n=500) the derived k IS 8, so the oracle
    row is unchanged."""

    return curation.semdedup(
        load_table(spark, sf_dir, "embeddings"), k="auto", iters=2,
        threshold=0.3,
    )


def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing document embeddings (hashing trick): model-free
    deterministic vectors straight off raw text — one explode + one
    doc_id aggregation with dim conditional sums; integer-exact
    normalization arithmetic."""

    return text.hash_embed(load_table(spark, sf_dir, "documents"), dim=16)


def q_tok_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (subword tokens per word,
    bytes per token) — the budget-fairness check run before fixing a
    multilingual training mix. One scan, map-side partials, one row
    per language."""

    return text.tokenizer_fertility(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""

    return q_agg_multi(spark, DEFAULT_SF)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Returned order: the 50 keys of ``front`` first, in the order
    # listed, then every other key in declaration order below. A
    # correctness run that records only the first 50 keys samples
    # exactly ``front``; ``oracle_check.py`` checks every key.
    q = {
        "embed_neardup": q_embed_neardup,
        "embed_groups": q_embed_groups,
        "kcore": q_kcore,
        "graph_cc": q_graph_cc,
        "retrieval_eval": q_retrieval_eval,
        "tpch_q5": q_tpch_q5,
        "tpch_q4": q_tpch_q4,
        "tpch_q12": q_tpch_q12,
        "tpch_q19": q_tpch_q19,
        "tpch_q6": q_tpch_q6,
        "tpch_q10": q_tpch_q10,
        "tpch_q14": q_tpch_q14,
        "tpch_q18": q_tpch_q18,
        "tpch_q1": q_tpch_q1,
        "tpch_q7": q_tpch_q7,
        "tpch_q8": q_tpch_q8,
        "tpch_q13": q_tpch_q13,
        "tpch_q15": q_tpch_q15,
        "tpch_q17": q_tpch_q17,
        "tpch_q21": q_tpch_q21,
        "tpch_q22": q_tpch_q22,
        "sorted_neighborhood": q_sorted_neighborhood,
        "simhash_neardup": q_simhash_neardup,
        "pq_topk": q_pq_topk,
        "gopher_rules": q_gopher_rules,
        "line_dedup": q_line_dedup,
        "bm25_topk": q_bm25_topk,
        "ngram_lm_score": q_ngram_lm_score,
        "bpe_merges": q_bpe_merges,
        "mix_weights": q_mix_weights,
        "tfidf_topk": q_tfidf_topk,
        "hll_distinct": q_hll_distinct,
        "cms_topk": q_cms_topk,
        "hist_quantiles": q_hist_quantiles,
        "corpus_profile": q_corpus_profile,
        "bpe_encode": q_bpe_encode,
        "chunk_docs": q_chunk_docs,
        "rrf_fusion": q_rrf_fusion,
        "lm_buckets": q_lm_buckets,
        "dup_spans": q_dup_spans,
        "nb_quality": q_nb_quality,
        "kmeans": q_kmeans,
        "embed_prune": q_embed_prune,
        "edge_support": q_edge_support,
        "ktruss": q_ktruss,
        "ewma": q_ewma,
        "twap": q_twap,
        "markov_trans": q_markov_trans,
        "burstiness": q_burstiness,
        "rfm": q_rfm,
        "hits": q_hits,
        "ppr": q_ppr,
        "knn_graph": q_knn_graph,
        "readability": q_readability,
        "langid_eval": q_langid_eval,
        "pivot_counts": q_pivot_counts,
        "unpivot_metrics": q_unpivot_metrics,
        "agg_grouping_sets": q_agg_grouping_sets,
        "top_paths": q_top_paths,
        "seasonality": q_seasonality,
        "group_quantiles": q_group_quantiles,
        "label_noise": q_label_noise,
        "incremental_asof_churn": q_incremental_asof_churn,
        "incremental_sessionize_churn": q_incremental_sessionize_churn,
        "incremental_funnel_churn": q_incremental_funnel_churn,
        "clustering_coef": q_clustering_coef,
        "cdc_chunks": q_cdc_chunks,
        "collocations": q_collocations,
        "vocab_coverage": q_vocab_coverage,
        "pca_top1": q_pca_top1,
        "trunc_recall": q_trunc_recall,
        "mmr_rerank": q_mmr_rerank,
        "assortativity": q_assortativity,
        "attribution": q_attribution,
        "period_coalesce": q_period_coalesce,
        "ngram_novelty": q_ngram_novelty,
        "cluster_sample": q_cluster_sample,
        "node_sim": q_node_sim,
        "window_count": q_window_count,
        "dsir_weights": q_dsir_weights,
        "bloom_contam": q_bloom_contam,
        "weighted_sample": q_weighted_sample,
        "interval_join": q_interval_join,
        "rolling_stats": q_rolling_stats,
        "resample_locf": q_resample_locf,
        "anomalies": q_anomalies,
        "tok_fertility": q_tok_fertility,
        "asof_join": q_asof_join,
        "zorder_key": q_zorder_key,
        "char_entropy": q_char_entropy,
        "blocklist": q_blocklist,
        "quality_calibrate": q_quality_calibrate,
        "winsorize": q_winsorize,
        "json_props": q_json_props,
        "semdedup": q_semdedup,
        "hash_embed": q_hash_embed,
        "sessionize": q_sessionize,
        "funnel": q_funnel,
        "retention": q_retention,
        "agg_multi": q_agg_multi,
        "tpch_q3": q_tpch_q3,
        "agg_global": q_agg_global,
        "tclosure": q_tclosure,
        "tclosure_nonlinear": q_tclosure_nonlinear,
        "shortest_hops": q_shortest_hops,
        "pagerank": q_pagerank,
        "labelprop": q_labelprop,
        "triangle_count": q_triangle_count,
        "triangle_wco": q_triangle_wco,
        "wco_4clause": q_wco_4clause,
        "wco_clique4": q_wco_clique4,
        "confusion_filter": q_confusion_filter,
        "confusion_agg": q_confusion_agg,
        "lww": q_lww,
        "cas": q_cas,
        "pull_level": q_pull_level,
        "text_tokens": q_text_tokens,
        "image_meta_ppm": q_image_meta_ppm,
        "contamination": q_contamination,
        "dup_ngram_frac": q_dup_ngram_frac,
        "cross_neardup": q_cross_neardup,
        "token_kl_shift": q_token_kl_shift,
        "embed_drift": q_embed_drift,
        "snapshot_diff": q_snapshot_diff,
        "fuzzy_match": q_fuzzy_match,
        "minhash_est": q_minhash_est,
        "graph_scc": q_graph_scc,
        "c4_rules": q_c4_rules,
        "fuzzy_groups": q_fuzzy_groups,
        "lsh_pr": q_lsh_pr,
        "text_norm": q_text_norm,
        "link_pred": q_link_pred,
        "dedup_keep_best": q_dedup_keep_best,
        "changepoint": q_changepoint,
        "global_shuffle": q_global_shuffle,
        "token_budget_mix": q_token_budget_mix,
        "topk_per_group": q_topk_per_group,
        "seq_pack": q_seq_pack,
        "dedup_exact": q_dedup_exact,
        "minhash_lsh": q_minhash_lsh,
        "dedup_groups": q_dedup_groups,
        "vocab_topk": q_vocab_topk,
        "pii_redact": q_pii_redact,
        "repetition": q_repetition,
        "text_subwords": q_text_subwords,
        "simhash": q_simhash,
        "cosine_topk": q_cosine_topk,
        "hard_negatives": q_hard_negatives,
        "ann_quantized": q_ann_quantized,
        "ann_ivf": q_ann_ivf,
        "ann_ivf_kmeans": q_ann_ivf_kmeans,
        "ann_recall": q_ann_recall,
        "embed_quantize": q_embed_quantize,
        "wco_clique5": q_wco_clique5,
        "window_tumbling": q_window_tumbling,
        "window_sliding": q_window_sliding,
        "window_session": q_window_session,
        "coarsen_batch": q_coarsen,
        "datalog_text": q_datalog_text,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "ann_lsh": q_ann_lsh,
        "ngram_jaccard": q_ngram_jaccard,
        "shortest_cost": q_shortest_cost,
        "graphql": q_graphql,
        "bitemporal_asof": q_bitemporal_asof,
        "stratified_sample": q_stratified_sample,
        "multimodal_meta": q_multimodal_meta,
        "frame_sample": q_frame_sample,
        "negate_setdiff": q_negate_setdiff,
        "transform_truncate": q_transform_truncate,
        "agg_variance": q_agg_variance,
        "hash_split": q_hash_split,
        "fingerprint": q_fingerprint,
        "match_ea": q_match_ea,
        "filter_vars": q_filter_vars,
        "transform_add": q_transform_add,
        "transform_subtract": q_transform_subtract,
        "agg_min": q_agg_min,
        "agg_max": q_agg_max,
        "agg_count": q_agg_count,
        "agg_sum": q_agg_sum,
        "agg_avg": q_agg_avg,
        "hector_constants": q_hector_constants,
        "name_expr": q_name_expr,
        "pull_all": q_pull_all,
        "distinct_ingest": q_distinct_ingest,
        "bitemporal_timeline": q_bitemporal_timeline,
        "union": q_union,
        "match_a": q_match_a,
        "match_av": q_match_av,
        "project": q_project,
        "join_binary": q_join_binary,
        "hector_fused": q_hector_fused,
        "antijoin": q_antijoin,
        "filter_lt": q_filter_lt,
        "agg_median": q_agg_median,
        "agg_stddev": q_agg_stddev,
        "topk_plan": q_topk_plan,
        "agg_rollup": q_agg_rollup,
    }
    front = [
        "anomalies", "asof_join", "blocklist", "bloom_contam",
        "bpe_encode", "char_entropy", "chunk_docs", "cms_topk",
        "corpus_profile", "dsir_weights", "dup_spans", "funnel",
        "hash_embed", "hist_quantiles", "hll_distinct",
        "interval_join", "json_props", "kmeans", "lm_buckets",
        "nb_quality", "quality_calibrate", "resample_locf",
        "retention", "rolling_stats", "rrf_fusion", "sessionize",
        "tok_fertility", "weighted_sample", "winsorize", "zorder_key",
        "ktruss", "ewma", "twap", "markov_trans", "burstiness",
        "rfm", "hits", "ppr", "knn_graph", "readability",
        "langid_eval", "pivot_counts", "unpivot_metrics",
        "agg_grouping_sets",
        "embed_prune", "semdedup",
        "tpch_q6", "tpch_q10", "tpch_q14", "tpch_q18",
    ]
    assert len(front) == 50 and set(front) <= set(q), "rotation list drift"
    return {**{k: q[k] for k in front}, **{k: v for k, v in q.items() if k not in front}}


def _sql_set(words) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


_SQL_STOP = _sql_set(text.STOPWORDS)


def _bpe_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB twin of text.bpe_merges: the same argmax+fuse loop
    unrolled as chained CTEs (the oracle being static SQL does not
    force a constant — each step's best pair is a one-row CTE the
    next step's replace() references)."""

    ctes = [
        "w0 AS (SELECT '  ' || array_to_string(string_split(word, ''), '  ')"
        " || '  ' AS seq, cnt FROM ("
        "SELECT word, count(*)::BIGINT AS cnt FROM ("
        "SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        "AS word FROM documents) GROUP BY 1))"
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"p{i} AS (SELECT l[i] AS lt, l[i+1] AS rt, cnt FROM ("
            f"SELECT string_split(trim(seq, ' '), '  ') AS l, cnt "
            f"FROM {prev}), "
            "unnest(generate_series(1, len(l) - 1)) AS t(i))"
        )
        ctes.append(
            f"b{i} AS (SELECT lt, rt, sum(cnt)::BIGINT AS n FROM p{i} "
            "GROUP BY 1, 2 ORDER BY n DESC, lt, rt LIMIT 1)"
        )
        ctes.append(
            f"w{i} AS (SELECT replace({prev}.seq, "
            f"' ' || b{i}.lt || '  ' || b{i}.rt || ' ', "
            f"' ' || b{i}.lt || b{i}.rt || ' ') AS seq, {prev}.cnt "
            f"FROM {prev}, b{i})"
        )
    selects = [
        f"SELECT {i} AS rk, lt AS \"left\", rt AS \"right\", "
        f"lt || rt AS merged, n FROM b{i}"
        for i in range(1, n_merges + 1)
    ]
    return (
        "WITH " + ", ".join(ctes) + " SELECT rk, \"left\", \"right\", "
        "merged, n FROM (" + " UNION ALL ".join(selects) + ")"
    )
def _bpe_encode_oracle_sql(n_merges: int = 8) -> str:
    """DuckDB twin of text.bpe_encode: the training chain of
    _bpe_oracle_sql with the word column carried through each fuse
    step, then per-doc word counts joined against the final
    symbol-count table."""

    ctes = [
        "toks AS (SELECT doc_id, "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        "AS word FROM documents)",
        "w0 AS (SELECT word, "
        "'  ' || array_to_string(string_split(word, ''), '  ') || '  ' "
        "AS seq, cnt FROM ("
        "SELECT word, count(*)::BIGINT AS cnt FROM toks GROUP BY 1))",
    ]
    for i in range(1, n_merges + 1):
        prev = f"w{i - 1}"
        ctes.append(
            f"p{i} AS (SELECT l[i] AS lt, l[i+1] AS rt, cnt FROM ("
            f"SELECT string_split(trim(seq, ' '), '  ') AS l, cnt "
            f"FROM {prev}), "
            "unnest(generate_series(1, len(l) - 1)) AS t(i))"
        )
        ctes.append(
            f"b{i} AS (SELECT lt, rt, sum(cnt)::BIGINT AS n FROM p{i} "
            "GROUP BY 1, 2 ORDER BY n DESC, lt, rt LIMIT 1)"
        )
        ctes.append(
            f"w{i} AS (SELECT {prev}.word, replace({prev}.seq, "
            f"' ' || b{i}.lt || '  ' || b{i}.rt || ' ', "
            f"' ' || b{i}.lt || b{i}.rt || ' ') AS seq, {prev}.cnt "
            f"FROM {prev}, b{i})"
        )
    ctes.append(
        "dt AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM toks "
        "GROUP BY 1, 2)"
    )
    ctes.append(
        f"ns AS (SELECT word, len(string_split(trim(seq, ' '), '  '))"
        f"::BIGINT AS n_sym FROM w{n_merges})"
    )
    return (
        "WITH " + ", ".join(ctes) + " "
        "SELECT doc_id, sum(c)::BIGINT AS n_words, "
        "sum(c * n_sym)::BIGINT AS n_tokens "
        "FROM dt JOIN ns USING (word) GROUP BY 1"
    )


def _kcore_oracle_sql(k: int = 12, iters: int = 8) -> str:
    """DuckDB twin of graph.kcore: the shrink-to-fixpoint peel
    unrolled ``iters`` times (idempotent past the fixpoint, so any
    unroll depth >= the actual peel depth yields the converged core;
    the Spark side RAISES if it has not converged, so a mismatch can
    only mean the unroll is too shallow — deepen it, don't loosen)."""

    # AS MATERIALIZED is load-bearing: each stage references the
    # previous one three times (directly + via both endpoint
    # restrictions), so default CTE inlining expands the chain
    # 3^iters-fold and the planner never returns.
    parts = [
        "WITH e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM ("
        "SELECT user_id % 1000 AS src, event_id % 1000 AS dst FROM events "
        "UNION ALL SELECT event_id % 1000, user_id % 1000 FROM events"
        ") WHERE src <> dst)"
    ]
    for i in range(iters):
        parts.append(
            f", n{i + 1} AS MATERIALIZED (SELECT src AS node FROM e{i} "
            f"GROUP BY src HAVING count(*) >= {k})"
            f", e{i + 1} AS MATERIALIZED (SELECT e{i}.src, e{i}.dst FROM e{i} "
            f"JOIN n{i + 1} a ON e{i}.src = a.node "
            f"JOIN n{i + 1} b ON e{i}.dst = b.node)"
        )
    parts.append(
        f" SELECT src AS node, count(*) AS deg FROM e{iters} GROUP BY src"
    )
    return "".join(parts)


def _kmeans_oracle_sql(
    k: int = 8, iters: int = 2, k_sql: str = "", tail: str = ""
) -> str:
    """DuckDB twin of similarity.kmeans_assign: the ann_ivf_kmeans
    one-step Lloyd CTE unrolled ``iters`` times (lowest-id seeds,
    cosine argmax assignment with cell tiebreak, per-component means
    rounded to 6 decimals, empty cells keep their centroid).

    ``k_sql`` (a scalar SQL expression over the corpus, e.g. the
    density_cells form) overrides the literal ``k`` — the seed CTE
    then takes the lowest-rn rows under a row_number filter instead
    of a LIMIT, mirroring semdedup's k="auto".

    ``tail`` replaces the default final SELECT: it runs after an extra
    ``af`` CTE holding the final assignment WITH vectors (vec_id, v,
    cell) beside the final centroid CTE ``cf`` (cell, cv) — the hook
    consumers like embed_prune use to share the exact Lloyd CTEs."""

    def assign(src: str, cents: str, cols: str) -> str:
        return (
            f"(SELECT {cols} FROM ("
            f"SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * "
            "sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            f"c.cell) AS rn FROM {src} e CROSS JOIN {cents} c) "
            "WHERE rn = 1)"
        )

    ctes = [
        "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
        "FROM embeddings)",
        (
            "c0 AS (SELECT vec_id AS cell, v AS cv FROM "
            "(SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn "
            f"FROM e) WHERE rn <= (SELECT {k_sql} FROM e))"
            if k_sql
            else f"c0 AS (SELECT vec_id AS cell, v AS cv FROM e "
            f"ORDER BY vec_id LIMIT {k})"
        ),
    ]
    for i in range(1, iters + 1):
        prev = f"c{i - 1}"
        ctes.append(
            f"a{i} AS " + assign("e", prev, "vec_id, v, cell")
        )
        ctes.append(
            f"comp{i} AS (SELECT cell, i, round(avg(x), 6) AS m FROM ("
            f"SELECT cell, unnest(v) AS x, "
            f"unnest(range(1, len(v) + 1)) AS i FROM a{i}) "
            "GROUP BY cell, i)"
        )
        ctes.append(
            f"m{i} AS (SELECT cell, list(m ORDER BY i) AS mv "
            f"FROM comp{i} GROUP BY cell)"
        )
        ctes.append(
            f"c{i} AS (SELECT {prev}.cell, coalesce(m{i}.mv, {prev}.cv) "
            f"AS cv FROM {prev} LEFT JOIN m{i} USING (cell))"
        )
    if tail:
        ctes.append(
            f"af AS " + assign("e", f"c{iters}", "vec_id, v, cell")
        )
        ctes.append(f"cf AS (SELECT cell, cv FROM c{iters})")
        return "WITH " + ", ".join(ctes) + " " + tail
    return (
        "WITH " + ", ".join(ctes) + " SELECT vec_id, cell FROM "
        + assign("e", f"c{iters}", "vec_id, cell") + " t"
    )


_DUCK_H32 = "(('0x' || substr(md5({t}), 1, 8))::BIGINT)"


def _hll_oracle_sql() -> str:
    """DuckDB twin of sketch.hll_distinct — same md5-uint32 buckets,
    same integer CASE bit-length ladder, alpha*m^2 folded to one
    Python double literal so both engines see the identical scalar."""

    m, vb = sketch.HLL_M, sketch.HLL_VBITS
    am2 = sketch.HLL_ALPHA * m * m
    h32 = _DUCK_H32.format(t="term")
    bitlen = sketch._bitlen_case_sql(f"({h32} // {m})", vb)
    raw = f"CAST({am2!r} AS DOUBLE) / (s_used + ({m} - used))"
    return (
        "WITH toks AS (SELECT "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        "AS term FROM documents), "
        f"reg AS (SELECT {h32} % {m} AS bucket, "
        f"max({vb + 1} - {bitlen}) AS r FROM toks GROUP BY 1), "
        "agg AS (SELECT count(*) AS used, sum(pow(2.0, -r)) AS s_used "
        "FROM reg), "
        "ex AS (SELECT count(DISTINCT term) AS exact FROM toks) "
        f"SELECT {m}::BIGINT AS m, used::BIGINT AS used, "
        f"round(CASE WHEN {raw} <= {2.5 * m} AND ({m} - used) > 0 "
        f"THEN CAST({float(m)!r} AS DOUBLE) * "
        f"ln({float(m)!r} / ({m} - used)) "
        f"ELSE {raw} END, 6) AS est, exact, "
        "round((est - exact) / exact * 100.0, 6) AS err_pct "
        "FROM agg, ex"
    )


def _profile_oracle_sql(cols: tuple[str, ...]) -> str:
    """DuckDB twin of profile.corpus_profile on the documents table:
    one UNION ALL branch per column (DuckDB reads the parquet once per
    branch — the one-pass Expand is the Spark-side win being gated)."""

    branches = " UNION ALL ".join(
        f"SELECT '{c}' AS col, count(*)::BIGINT AS n_rows, "
        f"count({c})::BIGINT AS n_nonnull, "
        f"(count(*) - count({c}))::BIGINT AS n_nulls, "
        f"count(DISTINCT {c})::BIGINT AS ndv, "
        f"CAST(min({c}) AS VARCHAR) AS min_val, "
        f"CAST(max({c}) AS VARCHAR) AS max_val FROM documents"
        for c in sorted(cols)
    )
    return branches


def _hist_oracle_sql(qs: tuple[float, ...] = (0.5, 0.9, 0.99)) -> str:
    """DuckDB twin of sketch.hist_quantiles — identical bit-length
    CASE ladder, integer fraction ranks ((n*num + den - 1) // den),
    shift-left bucket bounds. The q fractions come from the same
    Fraction(str(q)) conversion as the Spark side."""

    from fractions import Fraction

    bitlen = sketch._bitlen_case_sql("n_chars", sketch.HIST_BITS)
    vals = ", ".join(
        f"(CAST({q!r} AS DOUBLE), {Fraction(str(q)).numerator}::BIGINT, "
        f"{Fraction(str(q)).denominator}::BIGINT)"
        for q in qs
    )
    return (
        f"WITH h AS (SELECT {bitlen} AS bucket, count(*)::BIGINT AS cnt "
        "FROM documents GROUP BY 1), "
        "tot AS (SELECT sum(cnt)::BIGINT AS n FROM h), "
        "cum AS (SELECT a.bucket, sum(b.cnt)::BIGINT AS n_le "
        "FROM h a JOIN h b ON b.bucket <= a.bucket GROUP BY a.bucket), "
        f"qs AS (SELECT * FROM (VALUES {vals}) t(q, num, den)), "
        "r AS (SELECT q, (n * num + den - 1) // den AS rk, n "
        "FROM qs, tot), "
        "p AS (SELECT q, rk, n, min(bucket) AS bucket FROM r "
        "JOIN cum ON n_le >= rk GROUP BY 1, 2, 3) "
        "SELECT q, p.bucket, "
        "(CASE WHEN p.bucket = 0 THEN 0 "
        "ELSE (1::BIGINT << (p.bucket - 1)) END)::BIGINT AS lb, "
        "((1::BIGINT << p.bucket) - 1)::BIGINT AS ub, "
        "n_le, rk, n FROM p JOIN cum ON cum.bucket = p.bucket "
        "ORDER BY q"
    )


def _cms_oracle_sql(k: int = 20) -> str:
    """DuckDB twin of sketch.cms_topk (d x w grid, min over rows)."""

    d, w = sketch.CMS_DEPTH, sketch.CMS_WIDTH
    sk_cells = " UNION ALL ".join(
        f"SELECT {j} AS j, "
        + _DUCK_H32.format(t=f"'{j}_' || term")
        + f" % {w} AS c FROM toks"
        for j in range(d)
    )
    cand_cells = " UNION ALL ".join(
        f"SELECT term, exact, {j} AS j, "
        + _DUCK_H32.format(t=f"'{j}_' || term")
        + f" % {w} AS c FROM ex"
        for j in range(d)
    )
    return (
        "WITH toks AS (SELECT "
        "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
        "AS term FROM documents), "
        f"sk AS (SELECT j, c, count(*)::BIGINT AS cnt FROM ({sk_cells}) "
        "GROUP BY 1, 2), "
        "ex AS (SELECT term, count(*)::BIGINT AS exact FROM toks "
        "GROUP BY 1), "
        f"est AS (SELECT term, exact, min(cnt) AS est FROM "
        f"({cand_cells}) JOIN sk USING (j, c) GROUP BY 1, 2), "
        "r AS (SELECT term, est, exact, (ROW_NUMBER() OVER "
        "(ORDER BY est DESC, term))::BIGINT AS rk FROM est) "
        f"SELECT term, est, exact, rk FROM r WHERE rk <= {k}"
    )


_SQL_EN = _sql_set(text.LANG_MARKERS["en"])
_SQL_ES = _sql_set(text.LANG_MARKERS["es"])
_SQL_DE = _sql_set(text.LANG_MARKERS["de"])
_SQL_FR = _sql_set(text.LANG_MARKERS["fr"])

# MinHash LSH oracle: k=16 signature mins, 4 bands of 4 rows, word
# 3-gram shingles, exact-Jaccard verify at 0.2 — mirrors
# declarative_dataflow_spark.operators.dedup.minhash_lsh_pairs
# (linear permutations over one md5-derived uint32 per shingle).
_MINHASH_MINS = ", ".join(
    "min(({a} * h + {b}) % {p}) AS m{i}".format(
        a=a, b=b, p=dedup.MINHASH_P, i=i
    )
    for i, (a, b) in enumerate(dedup.minhash_coeffs(16))
)
_MINHASH_BANDS = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
        b=b,
        key=" || '_' || ".join(f"m{b * 4 + r}::VARCHAR" for r in range(4)),
    )
    for b in range(4)
)
# Cumulative split boundaries accumulated with the SAME float
# arithmetic as sampling.hash_split, so the SQL literals match the
# Spark plan bit-for-bit (0.8 + 0.1 != 0.9 exactly in binary).
def _pagerank_oracle(iters: int = 10, d: float = 0.85) -> str:
    # Mirrors graph.py::PR_CONTRIB_SQL / pr_rank_sql exactly:
    # contributions round to 15 decimals in double (engine-identical
    # for small integer degrees), sum EXACTLY as DECIMAL(24,15), and
    # the damping/base combine + HALF_UP round run in decimal — so the
    # in_sum is independent of partitioning/aggregation order and the
    # two engines agree even when an update lands exactly on a .5e-6
    # rounding midpoint (which 6-decimal ranks over integer degrees do
    # routinely).
    base = (
        "CAST((SELECT round((1 - {d}) / count(*), 6) FROM nodes) "
        "AS DECIMAL(8,6))"
    ).format(d=d)
    rank_expr = (
        "CAST(round({base} + CAST('{damp:.8f}' AS DECIMAL(10,8)) * "
        "coalesce(CAST(c.in_sum AS DECIMAL(24,15)), "
        "CAST(0 AS DECIMAL(24,15))), 6) AS DOUBLE)"
    ).format(base=base, damp=d)
    parts = [
        "edges AS (SELECT DISTINCT user_id % 100 AS s, "
        "event_id % 100 AS t FROM events)",
        "nodes AS (SELECT s AS node FROM edges UNION SELECT t FROM edges)",
        "outdeg AS (SELECT s AS node, count(*) AS deg FROM edges GROUP BY s)",
        "pr0 AS (SELECT node, round(1.0 / (SELECT count(*) FROM nodes), 6) "
        "AS rank FROM nodes)",
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"pr{i} AS (SELECT n.node, "
            f"{rank_expr} AS rank "
            "FROM nodes n LEFT JOIN ("
            "SELECT e.t AS node, "
            "sum(CAST(round(p.rank / o.deg, 15) AS DECIMAL(24,15))) "
            "AS in_sum "
            f"FROM pr{i - 1} p JOIN outdeg o ON p.node = o.node "
            "JOIN edges e ON p.node = e.s GROUP BY e.t) c "
            "ON n.node = c.node)"
        )
    return "WITH " + ", ".join(parts) + f" SELECT node, rank FROM pr{iters}"


def _hash_split_oracle() -> str:
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    cases = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name] / total
        cases.append(f"WHEN pos < {acc!r} THEN '{name}'")
    return (
        "SELECT doc_id, CASE "
        + " ".join(cases)
        + f" ELSE '{names[-1]}' END AS split FROM ("
        "SELECT doc_id, "
        "('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT "
        "/ 4294967296.0 AS pos FROM documents)"
    )


_HASH_SPLIT_ORACLE = _hash_split_oracle()

_MINHASH_ORACLE = (
    "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w "
    "FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, "
    "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
    "for i in range(1, len(w) - 1)]) AS shingle "
    "FROM words WHERE len(w) >= 3), "
    # hashed shingle sets: everything downstream works on the uint32
    "shh AS (SELECT DISTINCT doc_id, "
    "('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh), "
    f"sig AS (SELECT doc_id, {_MINHASH_MINS} FROM shh GROUP BY doc_id), "
    f"banded AS ({_MINHASH_BANDS}), "
    "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b "
    "FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key "
    "AND l.doc_id < r.doc_id), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1), "
    "inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c "
    "JOIN shh sa ON sa.doc_id = c.a "
    "JOIN shh sb ON sb.doc_id = c.b AND sb.h = sa.h "
    "GROUP BY 1, 2) "
    "SELECT a, b, round(i / (za.sz + zb.sz - i), 4) AS jaccard "
    "FROM inter JOIN sizes za ON za.doc_id = a "
    "JOIN sizes zb ON zb.doc_id = b "
    "WHERE round(i / (za.sz + zb.sz - i), 4) >= 0.2"
)

# minhash_est oracle: the same shingle/signature/banding CTEs, exact-
# band candidates, then the per-pair estimator (equal signature
# components / k) beside the exact Jaccard. inter LEFT-joins so a
# candidate with zero common shingles keeps jaccard 0 (the estimator
# can still be positive — that IS the error being measured).
_MINHASH_EQ = " + ".join(
    f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(16)
)
_MINHASH_EST_ORACLE = (
    "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w "
    "FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, "
    "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
    "for i in range(1, len(w) - 1)]) AS shingle "
    "FROM words WHERE len(w) >= 3), "
    "shh AS (SELECT DISTINCT doc_id, "
    "('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh), "
    f"sig AS (SELECT doc_id, {_MINHASH_MINS} FROM shh GROUP BY doc_id), "
    f"banded AS ({_MINHASH_BANDS}), "
    "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b "
    "FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key "
    "AND l.doc_id < r.doc_id), "
    f"eq AS (SELECT c.a, c.b, ({_MINHASH_EQ}) AS neq "
    "FROM cand c JOIN sig sa ON sa.doc_id = c.a "
    "JOIN sig sb ON sb.doc_id = c.b), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1), "
    "inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c "
    "JOIN shh sa ON sa.doc_id = c.a "
    "JOIN shh sb ON sb.doc_id = c.b AND sb.h = sa.h "
    "GROUP BY 1, 2), "
    "scored AS (SELECT e.a, e.b, round(e.neq / 16.0, 4) AS est, "
    "round(coalesce(i.i, 0) / (za.sz + zb.sz - coalesce(i.i, 0)), 4) "
    "AS jaccard "
    "FROM eq e JOIN sizes za ON za.doc_id = e.a "
    "JOIN sizes zb ON zb.doc_id = e.b "
    "LEFT JOIN inter i ON i.a = e.a AND i.b = e.b) "
    "SELECT a, b, est, jaccard, round(abs(est - jaccard), 4) AS abs_err "
    "FROM scored"
)

# dedup_groups oracle: the same LSH pair pipeline, then a recursive
# reachability closure over the undirected pair graph; canonical =
# min reachable doc_id (independent formulation of the hash-min label
# propagation in dedup.connected_components).
# Shared LSH-pair + reachability-closure CTE prefix: both the
# dedup_groups and dedup_keep_best oracles append their final SELECT
# to this named constant (never substring surgery — a reworded final
# SELECT can't silently change the derived SQL).
_DEDUP_CLOSURE_CTES = (
    "WITH RECURSIVE words AS (SELECT doc_id, "
    "string_split(lower(text), ' ') AS w FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, "
    "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
    "for i in range(1, len(w) - 1)]) AS shingle "
    "FROM words WHERE len(w) >= 3), "
    "shh AS (SELECT DISTINCT doc_id, "
    "('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh), "
    f"sig AS (SELECT doc_id, {_MINHASH_MINS} FROM shh GROUP BY doc_id), "
    f"banded AS ({_MINHASH_BANDS}), "
    "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b "
    "FROM banded l JOIN banded r ON l.band = r.band AND l.key = r.key "
    "AND l.doc_id < r.doc_id), "
    "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1), "
    "inter AS (SELECT c.a, c.b, count(*) AS i FROM cand c "
    "JOIN shh sa ON sa.doc_id = c.a "
    "JOIN shh sb ON sb.doc_id = c.b AND sb.h = sa.h "
    "GROUP BY 1, 2), "
    "pairs AS (SELECT a, b FROM inter "
    "JOIN sizes za ON za.doc_id = a JOIN sizes zb ON zb.doc_id = b "
    "WHERE round(i / (za.sz + zb.sz - i), 4) >= 0.2), "
    "edges AS (SELECT a AS u, b AS v FROM pairs "
    "UNION SELECT b, a FROM pairs), "
    "reach(u, v) AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM edges) "
    "UNION SELECT e.u, r.v FROM edges e JOIN reach r ON r.u = e.v), "
    "comp AS (SELECT u, min(v) AS component FROM reach GROUP BY u) "
)

_DEDUP_GROUPS_ORACLE = _DEDUP_CLOSURE_CTES + (
    "SELECT d.doc_id, coalesce(c.component, d.doc_id) AS canonical "
    "FROM documents d LEFT JOIN comp c ON c.u = d.doc_id"
)

# dedup_keep_best oracle: identical LSH-pair + reachability-closure
# CTEs (the shared _DEDUP_CLOSURE_CTES constant), but the survivor
# per component is the highest-n_chars member (ties to the smallest
# doc_id) via a component-partitioned row_number.
_DEDUP_KEEP_BEST_ORACLE = _DEDUP_CLOSURE_CTES + (
    ", memb AS (SELECT d.doc_id, "
    "coalesce(c.component, d.doc_id) AS component, d.n_chars "
    "FROM documents d LEFT JOIN comp c ON c.u = d.doc_id), "
    "best AS (SELECT component, doc_id AS canonical FROM ("
    "SELECT component, doc_id, row_number() OVER ("
    "PARTITION BY component ORDER BY n_chars DESC, doc_id) AS rn "
    "FROM memb) WHERE rn = 1) "
    "SELECT m.doc_id, b.canonical "
    "FROM memb m JOIN best b USING (component)"
)


def _zorder_oracle_sql(bits: int) -> str:
    """DuckDB twin of layout.zorder_key over (u8, m8): the identical
    bit interleave spelled as |-combined shift/mask terms."""

    terms = []
    for j, c in enumerate(("u8", "m8")):
        for b in range(bits):
            pos = b * 2 + (1 - j)
            terms.append(f"((({c} >> {b}) & 1) << {pos})")
    expr = " | ".join(terms)
    return (
        "WITH e AS (SELECT event_id, user_id % 256 AS u8, "
        "(epoch_us(ts) // 60000000) % 256 AS m8 FROM events) "
        f"SELECT event_id, CAST({expr} AS BIGINT) AS zkey FROM e"
    )


def _hash_embed_oracle_sql(dim: int) -> str:
    """DuckDB twin of text.hash_embed: identical md5 hash, sign bit,
    conditional sums, and integer-exact normalization."""

    cs = ", ".join(
        f"sum(CASE WHEN d = {i} THEN sg ELSE 0 END)::BIGINT AS c{i}"
        for i in range(dim)
    )
    sq = " + ".join(f"c{i} * c{i}" for i in range(dim))
    es = ", ".join(
        f"CASE WHEN nrm = 0 THEN 0.0 ELSE round(c{i} / nrm, 6) END AS e{i}"
        for i in range(dim)
    )
    return (
        "WITH t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) "
        "AS w FROM documents), "
        "hh AS (SELECT doc_id, "
        "(('0x' || substr(md5('he_' || w), 1, 8))::BIGINT) AS h FROM t), "
        f"s AS (SELECT doc_id, h % {dim} AS d, "
        "CASE WHEN ((h >> 16) & 1) = 1 THEN 1 ELSE -1 END AS sg FROM hh), "
        f"c AS (SELECT doc_id, {cs} FROM s GROUP BY 1), "
        f"n AS (SELECT *, sqrt({sq}) AS nrm FROM c) "
        f"SELECT doc_id, {es} FROM n"
    )


def _churn_surviving_sql(
    id_col: str = "event_id", key_col: str = "user_id"
) -> str:
    """Parenthesized surviving-set predicate of the fixed churn script
    (streaming/churn.py) — the DuckDB side of the maintained-twin
    churn keys, generated from the SAME policy constants the Spark
    driver loop uses so the two can never drift."""

    from declarative_dataflow_spark.streaming.churn import surviving_sql

    return "(" + surviving_sql(id_col, key_col) + ")"


def oracle_sql() -> dict[str, str]:
    return {
        "match_a": (
            "SELECT o_orderkey AS e, o_totalprice AS v FROM orders "
            "WHERE o_totalprice IS NOT NULL"
        ),
        "match_ea": "SELECT value AS v FROM events WHERE event_id = 42",
        "match_av": (
            "SELECT c_custkey AS e FROM customer "
            "WHERE c_mktsegment = 'BUILDING'"
        ),
        "project": (
            "SELECT o_totalprice AS v FROM orders "
            "WHERE o_totalprice IS NOT NULL"
        ),
        "join_binary": (
            "SELECT o_orderkey AS o, o_totalprice AS tp, o_custkey AS c "
            "FROM orders WHERE o_totalprice IS NOT NULL "
            "AND o_custkey IS NOT NULL"
        ),
        "hector_fused": (
            "SELECT o.o_orderkey AS o, c.c_name AS cname, n.n_name AS nname "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE o.o_totalprice > 100000.0"
        ),
        "hector_constants": (
            "SELECT c_custkey AS c, c_acctbal AS bal FROM customer "
            "WHERE c_mktsegment = 'MACHINERY' AND c_acctbal >= 0.0"
        ),
        "antijoin": (
            "SELECT c_custkey AS c, c_name AS name FROM customer "
            "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders "
            "WHERE o_custkey IS NOT NULL)"
        ),
        "union": (
            "SELECT DISTINCT c_custkey AS c FROM customer "
            "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')"
        ),
        "negate_setdiff": (
            "SELECT c_custkey AS c FROM customer "
            "WHERE c_mktsegment = 'BUILDING' "
            "EXCEPT SELECT c_custkey AS c FROM customer WHERE c_acctbal < 0.0"
        ),
        "filter_lt": (
            "SELECT l_orderkey AS o, l_quantity AS qty FROM lineitem "
            "WHERE l_quantity < 5.0"
        ),
        "filter_vars": (
            "SELECT l_orderkey AS o, l_discount AS d, l_tax AS t "
            "FROM lineitem WHERE l_discount > l_tax"
        ),
        "transform_truncate": (
            "SELECT o_orderkey AS o, "
            "CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day "
            "FROM orders WHERE o_orderdate IS NOT NULL"
        ),
        "transform_add": (
            "SELECT l_orderkey AS o, l_extendedprice + l_tax AS s "
            "FROM lineitem"
        ),
        "transform_subtract": (
            "SELECT l_orderkey AS o, l_extendedprice - l_discount AS s "
            "FROM lineitem"
        ),
        "agg_min": (
            "SELECT o_orderstatus AS s, min(o_totalprice) AS v "
            "FROM orders GROUP BY 1"
        ),
        "agg_max": (
            "SELECT o_orderstatus AS s, max(o_totalprice) AS v "
            "FROM orders GROUP BY 1"
        ),
        "agg_count": (
            "SELECT o_orderstatus AS s, count(*) AS v FROM orders GROUP BY 1"
        ),
        "agg_sum": (
            "SELECT o_orderstatus AS s, round(sum(o_totalprice), 2) AS v "
            "FROM orders GROUP BY 1"
        ),
        "agg_avg": (
            "SELECT o_orderstatus AS s, round(avg(o_totalprice), 4) AS v "
            "FROM orders GROUP BY 1"
        ),
        "agg_median": (
            "SELECT s, v FROM ("
            "SELECT o_orderstatus AS s, o_totalprice AS v, "
            "row_number() OVER (PARTITION BY o_orderstatus "
            "ORDER BY o_totalprice) AS rn, "
            "count(*) OVER (PARTITION BY o_orderstatus) AS n "
            "FROM orders) WHERE rn = (n // 2) + 1"
        ),
        "agg_variance": (
            "SELECT l_returnflag AS rf, "
            "round(sum(l_quantity * l_quantity) / count(*) "
            "- (sum(l_quantity) / count(*)) * (sum(l_quantity) / count(*)), "
            "4) AS v FROM lineitem GROUP BY 1"
        ),
        "topk_plan": (
            "SELECT o_orderkey AS o, o_totalprice AS tp FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"
        ),
        "agg_rollup": (
            "SELECT l_returnflag AS rf, l_linestatus AS ls, "
            "round(sum(l_quantity), 2) AS s FROM lineitem "
            "GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "agg_stddev": (
            "SELECT l_returnflag AS rf, "
            "round(sqrt(sum(l_quantity * l_quantity) / count(*) "
            "- (sum(l_quantity) / count(*)) * (sum(l_quantity) / count(*))), "
            "4) AS v FROM lineitem GROUP BY 1"
        ),
        "sorted_neighborhood": (
            # Same normalized sort key and positional-window pairs;
            # the oracle's plain rank-range join equals the bucketized
            # equi-join by construction.
            "WITH base AS (SELECT doc_id AS id, "
            "substring(lower(regexp_replace(text, '\\s+', ' ', 'g')), "
            "1, 16) AS k FROM documents), "
            "r AS (SELECT id, row_number() OVER (ORDER BY k, id) AS rn "
            "FROM base) "
            "SELECT a.id AS a, b.id AS b, (b.rn - a.rn) AS gap "
            "FROM r a JOIN r b ON b.rn > a.rn AND b.rn - a.rn <= 5"
        ),
        "tpch_q5": (
            "SELECT n.n_name AS nation, count(*) AS n_items, "
            "round(CAST(sum(CAST(round(l.l_extendedprice "
            "* (1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), 2) "
            "AS revenue "
            "FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "JOIN supplier s ON l.l_suppkey = s.s_suppkey "
            "AND c.c_nationkey = s.s_nationkey "
            "JOIN nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN region rg ON n.n_regionkey = rg.r_regionkey "
            "WHERE rg.r_name = 'ASIA' "
            "AND epoch_us(o.o_orderdate) >= 788918400000000 "
            "AND epoch_us(o.o_orderdate) < 946684800000000 "
            "GROUP BY n.n_name"
        ),
        "tpch_q3": (
            "WITH j AS (SELECT l.l_orderkey AS o, "
            "epoch_us(o.o_orderdate) AS od_us, "
            "o.o_orderpriority AS pri, "
            "CAST(round(l.l_extendedprice * (1 - l.l_discount), 6) "
            "AS DECIMAL(18,6)) AS rev "
            "FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "WHERE c.c_mktsegment = 'BUILDING' "
            "AND epoch_us(o.o_orderdate) < 896659200000000 "
            "AND epoch_us(l.l_shipdate) > 896659200000000) "
            "SELECT o AS orderkey, od_us, pri AS priority, "
            "round(CAST(sum(rev) AS DOUBLE), 2) AS revenue "
            "FROM j GROUP BY o, od_us, pri "
            "ORDER BY sum(rev) DESC, o LIMIT 10"
        ),
        "tpch_q4": (
            # EXISTS as a plain semijoin; the +60d lateness offset in
            # exact integer micros, the same constant the Spark scan
            # expression folds in.
            "SELECT o.o_orderpriority AS priority, "
            "CAST(count(*) AS BIGINT) AS n_orders FROM orders o "
            "WHERE epoch_us(o.o_orderdate) >= 852076800000000 "
            "AND epoch_us(o.o_orderdate) < 883612800000000 "
            "AND EXISTS (SELECT 1 FROM lineitem l "
            "WHERE l.l_orderkey = o.o_orderkey "
            "AND epoch_us(l.l_shipdate) > "
            "epoch_us(o.o_orderdate) + 5184000000000::BIGINT) "
            "GROUP BY 1"
        ),
        "tpch_q12": (
            "SELECT l.l_returnflag AS returnflag, "
            "CAST(sum(CASE WHEN o.o_orderpriority IN "
            "('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) "
            "AS high_lines, "
            "CAST(sum(CASE WHEN o.o_orderpriority IN "
            "('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) "
            "AS low_lines "
            "FROM orders o JOIN lineitem l "
            "ON l.l_orderkey = o.o_orderkey "
            "WHERE epoch_us(l.l_shipdate) >= 852076800000000 "
            "AND epoch_us(l.l_shipdate) < 883612800000000 "
            "GROUP BY 1"
        ),
        "tpch_q19": (
            # Disjoint-by-brand OR clauses: the flat OR equals the
            # Spark side's Union of three conjunctive join branches.
            "SELECT CAST(count(*) AS BIGINT) AS n_items, "
            "round(CAST(sum(CAST(round(l.l_extendedprice "
            "* (1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), "
            "2) AS revenue "
            "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
            "WHERE (p.p_brand = 'Brand#12' "
            "AND p.p_size BETWEEN 1 AND 5 "
            "AND l.l_quantity BETWEEN 1.0 AND 11.0) "
            "OR (p.p_brand = 'Brand#23' "
            "AND p.p_size BETWEEN 1 AND 10 "
            "AND l.l_quantity BETWEEN 10.0 AND 20.0) "
            "OR (p.p_brand = 'Brand#34' "
            "AND p.p_size BETWEEN 1 AND 15 "
            "AND l.l_quantity BETWEEN 20.0 AND 30.0)"
        ),
        "tpch_q6": (
            "SELECT round(CAST(sum(CAST(round("
            "l_extendedprice * l_discount, 6) AS DECIMAL(18,6))) "
            "AS DOUBLE), 2) AS revenue FROM lineitem "
            "WHERE epoch_us(l_shipdate) >= 852076800000000 "
            "AND epoch_us(l_shipdate) < 883612800000000 "
            "AND l_discount >= 0.03 AND l_discount <= 0.07 "
            "AND l_quantity < 24.0"
        ),
        "tpch_q10": (
            # Top-20 ordering on the EXACT decimal revenue sum then
            # custkey — the same deterministic key the Spark side
            # sorts on before the double cast.
            "SELECT c.c_custkey AS custkey, c.c_name AS name, "
            "round(CAST(sum(CAST(round(l.l_extendedprice "
            "* (1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), "
            "2) AS revenue, "
            "c.c_acctbal AS acctbal, n.n_name AS nation "
            "FROM customer c "
            "JOIN orders o ON c.c_custkey = o.o_custkey "
            "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
            "JOIN nation n ON n.n_nationkey = c.c_nationkey "
            "WHERE epoch_us(o.o_orderdate) >= 852076800000000 "
            "AND epoch_us(o.o_orderdate) < 859852800000000 "
            "AND l.l_returnflag = 'R' "
            "GROUP BY 1, 2, 4, 5 "
            "ORDER BY sum(CAST(round(l.l_extendedprice "
            "* (1 - l.l_discount), 6) AS DECIMAL(18,6))) DESC, "
            "c.c_custkey LIMIT 20"
        ),
        "tpch_q14": (
            # Both sums exact decimals; the single double step is the
            # final 100*promo/total division, identical in Spark.
            "SELECT round(100.0 * "
            "CAST(sum(CASE WHEN p.p_type = 'PROMO' THEN "
            "CAST(round(l.l_extendedprice * (1 - l.l_discount), 6) "
            "AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) "
            "AS DOUBLE) / "
            "CAST(sum(CAST(round(l.l_extendedprice "
            "* (1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), "
            "4) AS promo_revenue "
            "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
            "WHERE epoch_us(l.l_shipdate) >= 873072000000000 "
            "AND epoch_us(l.l_shipdate) < 875664000000000"
        ),
        "tpch_q1": (
            "SELECT l_returnflag AS rf, l_linestatus AS ls, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(CAST(sum(CAST(round(l_extendedprice * "
            "(1 - l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), 2) "
            "AS sum_disc_price, "
            "round(CAST(sum(CAST(round(l_extendedprice * "
            "(1 - l_discount) * (1 + l_tax), 6) AS DECIMAL(18,6))) "
            "AS DOUBLE), 2) AS sum_charge, "
            "round(avg(l_quantity), 2) AS avg_qty, "
            "round(avg(l_extendedprice), 2) AS avg_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "CAST(count(*) AS BIGINT) AS count_order FROM lineitem "
            "WHERE epoch_us(l_shipdate) <= 946684800000000 "
            "GROUP BY 1, 2"
        ),
        "tpch_q7": (
            "SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation, "
            "year(l.l_shipdate) AS l_year, "
            "round(CAST(sum(CAST(round(l.l_extendedprice * "
            "(1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), 2) "
            "AS revenue "
            "FROM supplier s "
            "JOIN nation sn ON sn.n_nationkey = s.s_nationkey "
            "JOIN lineitem l ON l.l_suppkey = s.s_suppkey "
            "JOIN orders o ON o.o_orderkey = l.l_orderkey "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "JOIN nation cn ON cn.n_nationkey = c.c_nationkey "
            "WHERE year(l.l_shipdate) BETWEEN 1996 AND 1997 "
            "AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2') "
            "OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')) "
            "GROUP BY 1, 2, 3"
        ),
        "tpch_q8": (
            "SELECT year(o.o_orderdate) AS o_year, "
            "round(CAST(sum(CASE WHEN sn.n_name = 'NATION_3' THEN "
            "CAST(round(l.l_extendedprice * (1 - l.l_discount), 6) "
            "AS DECIMAL(18,6)) ELSE CAST(0 AS DECIMAL(18,6)) END) "
            "AS DOUBLE) / "
            "CAST(sum(CAST(round(l.l_extendedprice * "
            "(1 - l.l_discount), 6) AS DECIMAL(18,6))) AS DOUBLE), 4) "
            "AS mkt_share "
            "FROM part p "
            "JOIN lineitem l ON l.l_partkey = p.p_partkey "
            "JOIN orders o ON o.o_orderkey = l.l_orderkey "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "JOIN nation ncust ON ncust.n_nationkey = c.c_nationkey "
            "JOIN region r ON r.r_regionkey = ncust.n_regionkey "
            "JOIN supplier s ON s.s_suppkey = l.l_suppkey "
            "JOIN nation sn ON sn.n_nationkey = s.s_nationkey "
            "WHERE p.p_type = 'ECONOMY' AND r.r_name = 'ASIA' "
            "AND year(o.o_orderdate) BETWEEN 1996 AND 1997 "
            "GROUP BY 1"
        ),
        "tpch_q13": (
            # Inner-count + antijoin-zeros on the Spark side == one
            # LEFT JOIN count here.
            "WITH counts AS (SELECT c.c_custkey AS c, "
            "CAST(count(o.o_orderkey) AS BIGINT) AS c_count "
            "FROM customer c "
            "LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
            "GROUP BY 1) "
            "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist "
            "FROM counts GROUP BY 1"
        ),
        "tpch_q15": (
            "WITH rev AS (SELECT l_suppkey AS s, "
            "sum(CAST(round(l_extendedprice * (1 - l_discount), 6) "
            "AS DECIMAL(18,6))) AS r FROM lineitem "
            "WHERE epoch_us(l_shipdate) >= 852076800000000 "
            "AND epoch_us(l_shipdate) < 859852800000000 GROUP BY 1) "
            "SELECT s AS suppkey, sup.s_name AS name, "
            "round(CAST(r AS DOUBLE), 2) AS total_revenue "
            "FROM rev JOIN supplier sup ON sup.s_suppkey = rev.s "
            "WHERE r = (SELECT max(r) FROM rev)"
        ),
        "tpch_q17": (
            # The addition chain mirrors the Spark Transform ADDs:
            # whole-number doubles, so ((q+q)+(q+q))+q == 5*q exactly.
            "WITH pa AS (SELECT l_partkey AS p, avg(l_quantity) AS aq "
            "FROM lineitem GROUP BY 1) "
            "SELECT round(CAST(sum(CAST(round(l.l_extendedprice, 6) "
            "AS DECIMAL(18,6))) AS DOUBLE), 2) AS small_order_revenue, "
            "CAST(count(*) AS BIGINT) AS n_lines "
            "FROM lineitem l JOIN pa ON pa.p = l.l_partkey "
            "WHERE l.l_quantity + l.l_quantity + l.l_quantity "
            "+ l.l_quantity + l.l_quantity < pa.aq"
        ),
        "tpch_q21": (
            # Lateness surrogate == tpch_q4's (+60d in integer micros);
            # the two-level distinct-count chains mirror the plan
            # aggregates exactly.
            "WITH late AS (SELECT l.l_orderkey AS o, l.l_suppkey AS s "
            "FROM lineitem l "
            "JOIN orders o2 ON o2.o_orderkey = l.l_orderkey "
            "WHERE o2.o_orderstatus = 'F' "
            "AND epoch_us(l.l_shipdate) > "
            "epoch_us(o2.o_orderdate) + 5184000000000::BIGINT "
            "GROUP BY 1, 2), "
            "nlate AS (SELECT o, count(*) AS nl FROM late GROUP BY 1), "
            "np AS (SELECT o, count(*) AS ns FROM ("
            "SELECT l_orderkey AS o, l_suppkey AS s2 FROM lineitem "
            "GROUP BY 1, 2) GROUP BY 1) "
            "SELECT late.s AS suppkey, sup.s_name AS name, "
            "CAST(count(*) AS BIGINT) AS numwait "
            "FROM late JOIN nlate ON nlate.o = late.o "
            "JOIN np ON np.o = late.o "
            "JOIN supplier sup ON sup.s_suppkey = late.s "
            "WHERE nlate.nl = 1 AND np.ns > 1 "
            "GROUP BY 1, 2 ORDER BY numwait DESC, suppkey LIMIT 20"
        ),
        "tpch_q22": (
            "WITH pos AS (SELECT c_custkey AS c, c_acctbal AS bal, "
            "c_nationkey AS nk FROM customer WHERE c_acctbal > 0.0), "
            "a AS (SELECT avg(bal) AS ab FROM pos), "
            "rich AS (SELECT pos.* FROM pos, a WHERE bal > ab), "
            "lost AS (SELECT * FROM rich WHERE c NOT IN ("
            "SELECT o_custkey FROM orders "
            "WHERE epoch_us(o_orderdate) >= 946684800000000)) "
            "SELECT nk AS nationkey, CAST(count(*) AS BIGINT) AS numcust, "
            "round(sum(bal), 2) AS totacctbal FROM lost GROUP BY 1"
        ),
        "tpch_q18": (
            # HAVING as a pre-join aggregate, the Spark plan's shape:
            # only qualifying orders reach the orders/customer joins.
            "WITH big AS (SELECT l_orderkey AS o, "
            "sum(l_quantity) AS sum_qty FROM lineitem "
            "GROUP BY 1 HAVING sum(l_quantity) > 300.0) "
            "SELECT c.c_name AS name, c.c_custkey AS custkey, "
            "b.o AS orderkey, epoch_us(o.o_orderdate) AS od_us, "
            "o.o_totalprice AS totalprice, b.sum_qty AS sum_qty "
            "FROM big b "
            "JOIN orders o ON o.o_orderkey = b.o "
            "JOIN customer c ON c.c_custkey = o.o_custkey "
            "ORDER BY o.o_totalprice DESC, b.o LIMIT 20"
        ),
        "agg_multi": (
            "SELECT l_returnflag AS rf, l_linestatus AS ls, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_price, "
            "round(avg(l_discount), 4) AS avg_disc, "
            "count(*) AS cnt FROM lineitem GROUP BY 1, 2"
        ),
        "agg_global": "SELECT max(o_totalprice) AS v FROM orders",
        "name_expr": (
            "SELECT o.o_custkey AS c, o.o_orderkey AS o, c.c_name AS name "
            "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_totalprice > 200000.0"
        ),
        "tclosure": (
            "WITH RECURSIVE edges AS ("
            "SELECT DISTINCT user_id % 100 AS src, event_id % 100 AS dst "
            "FROM events), "
            "reach(x, z) AS ("
            "SELECT src, dst FROM edges "
            "UNION "
            "SELECT r.x, e.dst FROM reach r JOIN edges e ON r.z = e.src) "
            "SELECT x, z FROM reach"
        ),
        # Non-linear Spark rule, LINEAR oracle: both compute the unique
        # closure fixpoint, so the independently-derived SQL certifies
        # the generalized semi-naive evaluator.
        "tclosure_nonlinear": (
            "WITH RECURSIVE edges AS ("
            "SELECT DISTINCT user_id % 100 AS src, event_id % 100 AS dst "
            "FROM events), "
            "reach(x, z) AS ("
            "SELECT src, dst FROM edges "
            "UNION "
            "SELECT r.x, e.dst FROM reach r JOIN edges e ON r.z = e.src) "
            "SELECT x, z FROM reach"
        ),
        "pagerank": _pagerank_oracle(),
        "embed_quantize": (
            # qvec flattened to a comma-joined string in BOTH engines:
            # the driver's canonicalizer cannot hash list cells.
            "WITH s AS (SELECT vec_id, embedding, "
            "round(list_max(list_transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale "
            "FROM embeddings) "
            "SELECT vec_id, scale, array_to_string("
            "CASE WHEN scale = 0 THEN list_transform(embedding, x -> 0) "
            "ELSE list_transform(embedding, "
            "x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT)) END"
            ", ',') AS qvec FROM s"
        ),
        "shortest_hops": (
            "WITH RECURSIVE edges AS ("
            "SELECT DISTINCT user_id % 100 AS s, "
            "user_id % 100 + 1 + event_id % 7 AS t FROM events), "
            "paths(x, y, d) AS ("
            "SELECT s, t, 1 FROM edges "
            "UNION "
            "SELECT p.x, e.t, p.d + 1 FROM paths p JOIN edges e ON p.y = e.s) "
            "SELECT x, y, min(d) AS hops FROM paths GROUP BY x, y"
        ),
        "coarsen_batch": (
            "SELECT event_id, "
            "(epoch_ns(ts) // 3600000000000) * 3600 + 3600 AS coarsened "
            "FROM events"
        ),
        "datalog_text": (
            "SELECT c_custkey AS c, c_name AS n, c_acctbal AS b "
            "FROM customer WHERE c_acctbal < 0.0"
        ),
        "window_tumbling": (
            "SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS w_start, "
            "(epoch_ns(ts) // 3600000000000) * 3600 + 3600 AS w_end, "
            "event_type AS etype, count(*) AS n, "
            "round(sum(value), 2) AS total "
            "FROM events GROUP BY 1, 2, 3"
        ),
        "window_sliding": (
            # 2h window / 1h slide: each event in the pane starting at
            # its hour and the one before.
            "WITH b AS (SELECT epoch_ns(ts) // 3600000000000 AS hb, "
            "event_type AS etype, value FROM events), "
            "p AS (SELECT hb * 3600 AS w_start, etype, value FROM b "
            "UNION ALL SELECT (hb - 1) * 3600, etype, value FROM b) "
            "SELECT w_start, w_start + 7200 AS w_end, etype, "
            "count(*) AS n, round(sum(value), 2) AS total "
            "FROM p GROUP BY 1, 2, 3"
        ),
        "window_session": (
            # Sessions merge while [t, t+gap] intervals overlap OR
            # TOUCH: an event at exactly prev + gap still merges
            # (verified against F.session_window by the randomized
            # property gate in test_streaming.py, which caught the
            # earlier >= break — latent here because microsecond event
            # times never land exactly 10 minutes apart). Break only
            # when t - prev > gap; end = last event + gap.
            "WITH b AS (SELECT event_type AS etype, epoch_us(ts) AS tu, "
            "value FROM events), "
            "m AS (SELECT *, CASE WHEN tu - lag(tu) OVER "
            "(PARTITION BY etype ORDER BY tu) > 600000000 "
            "THEN 1 ELSE 0 END AS brk FROM b), "
            "s AS (SELECT *, SUM(brk) OVER (PARTITION BY etype "
            "ORDER BY tu ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
            "SELECT min(tu) AS w_start, max(tu) + 600000000 AS w_end, "
            "etype, count(*) AS n, round(sum(value), 2) AS total "
            "FROM s GROUP BY etype, sid"
        ),
        "shortest_cost": (
            "WITH RECURSIVE edges AS ("
            "SELECT src, dst, min(c) AS w FROM ("
            "SELECT user_id % 100 AS src, "
            "user_id % 100 + 1 + event_id % 7 AS dst, "
            "1 + event_id % 5 AS c FROM events) GROUP BY src, dst), "
            "paths(x, y, c) AS ("
            "SELECT src, dst, w FROM edges "
            "UNION "
            "SELECT p.x, e.dst, p.c + e.w FROM paths p "
            "JOIN edges e ON p.y = e.src) "
            "SELECT x, y, min(c) AS cost FROM paths GROUP BY x, y"
        ),
        "labelprop": (
            "WITH RECURSIVE edges AS ("
            "SELECT DISTINCT user_id % 100 AS src, event_id % 100 AS dst "
            "FROM events), "
            "nodes AS (SELECT DISTINCT user_id % 100 AS x, "
            "user_id % 10 AS l FROM events), "
            "lp(x, l) AS ("
            "SELECT x, l FROM nodes "
            "UNION "
            "SELECT e.dst, p.l FROM lp p JOIN edges e ON p.x = e.src) "
            "SELECT x, l FROM lp"
        ),
        "triangle_count": (
            "WITH edges AS (SELECT DISTINCT user_id % 100 AS src, "
            "event_id % 100 AS dst FROM events) "
            "SELECT count(*) AS n FROM edges e1 "
            "JOIN edges e2 ON e2.src = e1.dst "
            "JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ),
        "triangle_wco": (
            "WITH edges AS (SELECT DISTINCT user_id % 100 AS src, "
            "event_id % 100 AS dst FROM events) "
            "SELECT count(*) AS n FROM edges e1 "
            "JOIN edges e2 ON e2.src = e1.dst "
            "JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ),
        "wco_4clause": (
            "WITH edges AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0) "
            "SELECT CAST(count(*) AS BIGINT) AS n FROM edges e1 "
            "JOIN edges e2 ON e2.src = e1.dst "
            "JOIN edges e3 ON e3.src = e2.dst "
            "JOIN edges e4 ON e4.src = e1.src AND e4.dst = e3.dst"
        ),
        "wco_clique4": (
            "WITH edges AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0) "
            "SELECT CAST(count(*) AS BIGINT) AS n FROM edges e1 "
            "JOIN edges e2 ON e2.src = e1.src "
            "JOIN edges e3 ON e3.src = e1.src "
            "JOIN edges e4 ON e4.src = e1.dst AND e4.dst = e2.dst "
            "JOIN edges e5 ON e5.src = e1.dst AND e5.dst = e3.dst "
            "JOIN edges e6 ON e6.src = e2.dst AND e6.dst = e3.dst"
        ),
        "wco_clique5": (
            # 5-clique on the directed sparse edge set: edges a->b,
            # a->c, a->d, a->e, b->c, b->d, b->e, c->d, c->e, d->e.
            "WITH edges AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0) "
            "SELECT CAST(count(*) AS BIGINT) AS n FROM edges e1 "
            "JOIN edges e2 ON e2.src = e1.src "
            "JOIN edges e3 ON e3.src = e1.src "
            "JOIN edges e4 ON e4.src = e1.src "
            "JOIN edges e5 ON e5.src = e1.dst AND e5.dst = e2.dst "
            "JOIN edges e6 ON e6.src = e1.dst AND e6.dst = e3.dst "
            "JOIN edges e7 ON e7.src = e1.dst AND e7.dst = e4.dst "
            "JOIN edges e8 ON e8.src = e2.dst AND e8.dst = e3.dst "
            "JOIN edges e9 ON e9.src = e2.dst AND e9.dst = e4.dst "
            "JOIN edges e10 ON e10.src = e3.dst AND e10.dst = e4.dst"
        ),
        "confusion_filter": (
            "SELECT event_id AS e, value AS v FROM events "
            "WHERE event_type = 'click' AND value > 50.0"
        ),
        "confusion_agg": (
            "SELECT user_id % 50 AS b, event_type AS t, count(*) AS n "
            "FROM events GROUP BY 1, 2"
        ),
        "lww": (
            # Tie-break on equal ts: larger value wins (same rule as the
            # engine's table-backed LWW and the streaming state machine).
            "SELECT user_id AS u, value AS v FROM ("
            "SELECT user_id, value, "
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts DESC, value DESC) AS rn "
            "FROM events) WHERE rn = 1"
        ),
        "cas": (
            # CompareAndSwap fold per user in (ts, event_id) order: an
            # op applies iff the register's current value IS NOT
            # DISTINCT FROM its expected_old (NULL = expect absent);
            # NULL proposed_new deletes. Independently formulated as a
            # step-by-step recursive CTE (NOT a mirror of the Spark
            # higher-order fold; DuckDB 1.0's list_reduce mis-evaluates
            # NULL-struct accumulators on the vectorized multi-group
            # path, so the recursion is also the only correct spelling).
            "WITH RECURSIVE ops AS ("
            "SELECT user_id AS e, "
            "row_number() OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS rn, "
            "CASE WHEN event_type = 'view' THEN NULL "
            "ELSE round(value) END AS old, "
            "CASE WHEN event_type = 'error' THEN NULL "
            "ELSE round(value * 2) END AS new FROM events), "
            "counts AS (SELECT e, max(rn) AS n FROM ops GROUP BY e), "
            "fold AS ("
            "SELECT e, 0 AS rn, CAST(NULL AS DOUBLE) AS cur FROM counts "
            "UNION ALL "
            "SELECT f.e, f.rn + 1, "
            "CASE WHEN f.cur IS NOT DISTINCT FROM o.old "
            "THEN o.new ELSE f.cur END "
            "FROM fold f JOIN ops o ON o.e = f.e AND o.rn = f.rn + 1) "
            "SELECT f.e, f.cur AS v FROM fold f "
            "JOIN counts c ON c.e = f.e AND f.rn = c.n "
            "WHERE f.cur IS NOT NULL"
        ),
        "distinct_ingest": (
            "SELECT DISTINCT user_id AS u, event_type AS t FROM events"
        ),
        "pull_level": (
            "SELECT o_orderkey AS o, 'orders/custkey' AS a, "
            "CAST(o_custkey AS VARCHAR) AS v FROM orders "
            "WHERE o_totalprice > 300000.0 "
            "UNION ALL "
            "SELECT o_orderkey AS o, 'orders/status' AS a, "
            "CAST(o_orderstatus AS VARCHAR) AS v FROM orders "
            "WHERE o_totalprice > 300000.0"
        ),
        "pull_all": (
            "SELECT n_nationkey AS e, 'nation/name' AS a, "
            "CAST(n_name AS VARCHAR) AS v FROM nation "
            "UNION ALL "
            "SELECT n_nationkey AS e, 'nation/regionkey' AS a, "
            "CAST(n_regionkey AS VARCHAR) AS v FROM nation"
        ),
        "graphql": (
            # Reference PullLevel shape: the nested level interleaves the
            # link attribute into the path, pops the cardinality-single
            # child id, and emits db__id rows carrying it
            # (src/plan/pull.rs:170-226).
            "SELECT CAST(o_orderkey AS VARCHAR) AS root, "
            "CAST(NULL AS VARCHAR) AS link, 'orders/priority' AS a, "
            "o_orderpriority AS v FROM orders WHERE o_orderstatus = 'F' "
            "UNION ALL "
            "SELECT CAST(o_orderkey AS VARCHAR), 'orders/custkey', "
            "'customer/name', c_name FROM orders "
            "JOIN customer ON c_custkey = o_custkey WHERE o_orderstatus = 'F' "
            "UNION ALL "
            "SELECT CAST(o_orderkey AS VARCHAR), 'orders/custkey', "
            "'customer/nationkey', CAST(c_nationkey AS VARCHAR) FROM orders "
            "JOIN customer ON c_custkey = o_custkey WHERE o_orderstatus = 'F' "
            "UNION ALL "
            "SELECT DISTINCT CAST(o_orderkey AS VARCHAR), 'orders/custkey', "
            "'db__id', CAST(o_custkey AS VARCHAR) FROM orders "
            "WHERE o_orderstatus = 'F'"
        ),
        "bitemporal_asof": (
            "SELECT u, day, v FROM ("
            "SELECT user_id AS u, "
            "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value AS v, "
            "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) "
            "ORDER BY ts DESC) AS rn FROM events "
            "WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1"
        ),
        "bitemporal_timeline": (
            "WITH snap AS (SELECT u, day, v FROM ("
            "SELECT user_id AS u, "
            "CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value AS v, "
            "row_number() OVER (PARTITION BY user_id, date_trunc('day', ts) "
            "ORDER BY ts DESC) AS rn FROM events "
            "WHERE ts <= TIMESTAMP '2024-01-15 00:00:00') WHERE rn = 1), "
            "cur AS (SELECT u, day, v, "
            "lag(v) OVER (PARTITION BY u ORDER BY day) AS prev FROM snap) "
            "SELECT u, day, v, CAST(1 AS BIGINT) AS diff FROM cur "
            "WHERE prev IS NULL OR v != prev "
            "UNION ALL "
            "SELECT u, day, prev AS v, CAST(-1 AS BIGINT) AS diff FROM cur "
            "WHERE prev IS NOT NULL AND v != prev"
        ),
        "text_tokens": (
            "SELECT doc_id, CASE WHEN len(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens "
            "FROM documents"
        ),
        "contamination": (
            "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w "
            "FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0) "
            "SELECT s.doc_id, count(*)::BIGINT AS n_ngrams, "
            "sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END)::BIGINT "
            "AS n_hit, "
            "round(sum(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) "
            "/ count(*), 4) AS contamination "
            "FROM sh s LEFT JOIN ev e ON s.shingle = e.shingle GROUP BY 1"
        ),
        "dup_ngram_frac": (
            "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') AS w "
            "FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "cnt AS (SELECT shingle, count(*) AS nd FROM sh GROUP BY 1) "
            "SELECT s.doc_id, count(*)::BIGINT AS n_ngrams, "
            "sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup, "
            "round(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) / count(*), 4) "
            "AS dup_frac "
            "FROM sh s JOIN cnt c ON s.shingle = c.shingle GROUP BY 1"
        ),
        "global_shuffle": (
            "WITH k AS (SELECT doc_id, "
            "md5('shuffle_' || CAST(doc_id AS VARCHAR)) AS kk FROM documents), "
            "s AS (SELECT doc_id, kk, "
            "('0x' || substr(kk, 1, 8))::BIGINT % 8 AS shard FROM k) "
            "SELECT doc_id, shard, "
            "(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY kk, doc_id))::BIGINT "
            "AS pos FROM s"
        ),
        "token_budget_mix": (
            "WITH base AS (SELECT doc_id, lang AS \"group\", "
            "CASE WHEN len(trim(text)) = 0 THEN 0 "
            "ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens, "
            "CASE lang WHEN 'en' THEN 3000 WHEN 'es' THEN 1500 "
            "WHEN 'de' THEN 1000 ELSE 0 END AS budget, "
            "md5('mix_' || CAST(doc_id AS VARCHAR)) AS kk FROM documents), "
            "c AS (SELECT doc_id, \"group\", n_tokens::BIGINT AS n_tokens, budget, "
            "(SUM(n_tokens) OVER (PARTITION BY \"group\" ORDER BY kk, doc_id "
            "ROWS UNBOUNDED PRECEDING))::BIGINT AS cum_tokens FROM base) "
            "SELECT doc_id, \"group\", n_tokens, cum_tokens FROM c "
            "WHERE cum_tokens <= budget"
        ),
        "topk_per_group": (
            "WITH s AS (SELECT doc_id, lang, source, "
            f"round(len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_STOP})) "
            "  / greatest(len(string_split(lower(text), ' ')), 1) * 0.5 "
            "  + least(length(text) / 500.0, 1.0) * 0.3 "
            "  + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) "
            "      / greatest(length(text), 1)) * 0.2, 4) AS score "
            "FROM documents), "
            "r AS (SELECT doc_id, lang, source, score, "
            "(ROW_NUMBER() OVER (PARTITION BY lang, source "
            "ORDER BY score DESC, doc_id))::BIGINT AS rk FROM s) "
            "SELECT doc_id, lang, source, score, rk FROM r WHERE rk <= 3"
        ),
        "seq_pack": packing.seq_pack_oracle_sql(),
        "pii_redact": (
            "WITH seeded AS (SELECT doc_id, 'contact user' || "
            "CAST(doc_id AS VARCHAR) || '@example.com or 555-867-5309 ' || text "
            "AS text FROM documents) "
            "SELECT doc_id, "
            "regexp_replace(regexp_replace(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            "'[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted, "
            "len(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails, "
            "len(regexp_extract_all(text, "
            "'[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS n_phones "
            "FROM seeded"
        ),
        "repetition": (
            "WITH w AS (SELECT doc_id, "
            "regexp_split_to_array(lower(trim(text)), '\\s+') AS words "
            "FROM documents) "
            "SELECT doc_id, len(words) AS n_tokens, "
            "len(list_distinct(words)) AS n_distinct, "
            "round(1.0 - len(list_distinct(words)) / greatest(len(words), 1), 6) "
            "AS rep_ratio FROM w"
        ),
        "text_subwords": (
            "SELECT doc_id, CAST(len(regexp_extract_all(lower(text), "
            "'[a-z]+|[0-9]|[^a-z0-9 ]')) AS BIGINT) AS n_subwords "
            "FROM documents"
        ),
        "image_meta_ppm": (
            # The payload construction is deterministic (11-byte header
            # + 18 md5-hex pixel bytes), so the oracle states the exact
            # expected metadata; a decoder bug (header parse, dims,
            # byte count) breaks the hash match on every row.
            "SELECT doc_id, CAST(29 AS BIGINT) AS n_bytes, "
            "'ppm' AS format, 3 AS width, 2 AS height FROM documents"
        ),
        "vocab_topk": (
            "WITH pieces AS (SELECT unnest(regexp_extract_all(lower(text), "
            "'[a-z]+|[0-9]|[^a-z0-9 ]')) AS token FROM documents), "
            "counts AS (SELECT token, count(*)::BIGINT AS n "
            "FROM pieces GROUP BY 1), "
            "r AS (SELECT token, n, (ROW_NUMBER() OVER "
            "(ORDER BY n DESC, token))::BIGINT AS rk FROM counts) "
            "SELECT token, n, rk FROM r WHERE rk <= 100"
        ),
        "text_quality": (
            "SELECT doc_id, length(text) AS n_chars, "
            "round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) "
            "  / greatest(length(text), 1), 4) AS punct_ratio, "
            f"round(len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_STOP})) "
            "  / greatest(len(string_split(lower(text), ' ')), 1), 4) AS stopword_ratio, "
            f"round(len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_STOP})) "
            "  / greatest(len(string_split(lower(text), ' ')), 1) * 0.5 "
            "  + least(length(text) / 500.0, 1.0) * 0.3 "
            "  + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) "
            "      / greatest(length(text), 1)) * 0.2, 4) AS quality "
            "FROM documents"
        ),
        "lang_id": (
            "WITH c AS (SELECT doc_id, "
            f"len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_EN})) AS c_en, "
            f"len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_ES})) AS c_es, "
            f"len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_DE})) AS c_de, "
            f"len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_FR})) AS c_fr "
            "FROM documents) "
            "SELECT doc_id, CASE "
            "WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 THEN 'und' "
            "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en' "
            "WHEN c_es >= c_de AND c_es >= c_fr THEN 'es' "
            "WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS lang_pred FROM c"
        ),
        "fingerprint": (
            "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), "
            "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp FROM documents"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS canonical "
            "FROM documents GROUP BY 1"
        ),
        "ngram_jaccard": (
            "WITH sh AS (SELECT DISTINCT doc_id, "
            "unnest(string_split(lower(text), ' ')) AS shingle FROM documents), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "inter AS (SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS i "
            "FROM sh l JOIN sh r ON l.shingle = r.shingle AND l.doc_id < r.doc_id "
            "GROUP BY 1, 2) "
            "SELECT a, b, round(i / (za.sz + zb.sz - i), 4) AS jaccard "
            "FROM inter JOIN sizes za ON za.doc_id = a "
            "JOIN sizes zb ON zb.doc_id = b "
            "WHERE round(i / (za.sz + zb.sz - i), 4) >= 0.5"
        ),
        "minhash_lsh": _MINHASH_ORACLE,
        "dedup_groups": _DEDUP_GROUPS_ORACLE,
        # cross_neardup: the minhash pipeline's CTEs over ALL docs,
        # then a BIPARTITE band join filtered by the train/eval split.
        # Band keys here are the raw minhash values (Spark uses
        # xxhash64 of the slice); hash collisions can only ADD
        # candidates and every candidate is exact-verified, so the
        # thresholded output is identical (the minhash_lsh argument).
        "cross_neardup": (
            "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') "
            "AS w FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "shh AS (SELECT DISTINCT doc_id, "
            "('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh), "
            f"sig AS (SELECT doc_id, {_MINHASH_MINS} FROM shh GROUP BY doc_id), "
            f"banded AS ({_MINHASH_BANDS}), "
            "cand AS (SELECT DISTINCT t.doc_id AS train_id, "
            "e.doc_id AS eval_id FROM banded t JOIN banded e "
            "ON t.band = e.band AND t.key = e.key "
            "WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0), "
            "sizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1), "
            "inter AS (SELECT c.train_id, c.eval_id, count(*) AS i "
            "FROM cand c JOIN shh st ON st.doc_id = c.train_id "
            "JOIN shh se ON se.doc_id = c.eval_id AND se.h = st.h "
            "GROUP BY 1, 2) "
            "SELECT train_id, eval_id, "
            "round(i / (zt.sz + ze.sz - i), 4) AS jaccard "
            "FROM inter JOIN sizes zt ON zt.doc_id = train_id "
            "JOIN sizes ze ON ze.doc_id = eval_id "
            "WHERE round(i / (zt.sz + ze.sz - i), 4) >= 0.2"
        ),
        "snapshot_diff": (
            "WITH old AS (SELECT doc_id, md5(text) AS h FROM documents "
            "WHERE doc_id % 7 <> 0), "
            "new AS (SELECT doc_id, md5(CASE WHEN doc_id % 3 = 0 "
            "THEN text || ' v2' ELSE text END) AS h FROM documents "
            "WHERE doc_id % 5 <> 0) "
            "SELECT coalesce(old.doc_id, new.doc_id) AS doc_id, "
            "CASE WHEN old.h IS NULL THEN 'added' "
            "WHEN new.h IS NULL THEN 'removed' "
            "WHEN old.h = new.h THEN 'unchanged' "
            "ELSE 'changed' END AS status "
            "FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id"
        ),
        "minhash_est": _MINHASH_EST_ORACLE,
        "dedup_keep_best": _DEDUP_KEEP_BEST_ORACLE,
        "link_pred": (
            # Resource-Allocation link prediction: symmetrized distinct
            # edge set, exact-decimal 1/deg contributions (round-15 ->
            # DECIMAL(24,15), the PageRank discipline), wedge join on
            # the center with u < w, degree cap 64 on centers, existing
            # edges anti-joined out, total (ra desc, u, w) order.
            "WITH e0 AS (SELECT DISTINCT user_id % 10000 AS src, "
            "event_id % 10000 AS dst FROM events WHERE event_id % 5 = 0), "
            "und AS (SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst), "
            "deg AS (SELECT src AS v, count(*) AS d FROM und GROUP BY 1), "
            "centers AS (SELECT v, CAST(round(CAST(1 AS DOUBLE) / d, 15) "
            "AS DECIMAL(24,15)) AS contrib FROM deg WHERE d <= 64), "
            "wedges AS (SELECT a1.dst AS u, a2.dst AS w, a1.src AS v "
            "FROM und a1 JOIN und a2 ON a2.src = a1.src "
            "AND a1.dst < a2.dst), "
            "scored AS (SELECT x.u, x.w, count(*) AS cn, "
            "sum(c.contrib) AS ra_sum "
            "FROM wedges x JOIN centers c ON c.v = x.v GROUP BY 1, 2), "
            "nonadj AS (SELECT s.u, s.w, s.cn, s.ra_sum FROM scored s "
            "LEFT JOIN und ON und.src = s.u AND und.dst = s.w "
            "WHERE und.src IS NULL) "
            "SELECT u, w, cn, CAST(ra_sum AS DOUBLE) AS ra FROM nonadj "
            "ORDER BY ra DESC, u, w LIMIT 100"
        ),
        "changepoint": (
            # Two-sided 7-day mean-shift profile with the seeded +5
            # level shift at 2024-01-16T00:00Z; exact decimal bin and
            # window sums, doubles only in the final divisions.
            "WITH seeded AS (SELECT event_type, ts, value + CASE "
            "WHEN epoch_us(ts) >= 1705363200000000 THEN 5.0 ELSE 0.0 "
            "END AS value FROM events), "
            "daily AS (SELECT event_type AS key, "
            "CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket, "
            "sum(CAST(value AS DECIMAL(18,6))) AS s, count(*) AS c "
            "FROM seeded GROUP BY 1, 2), "
            "win AS (SELECT key, bucket, "
            "count(*) OVER wl AS nl, sum(s) OVER wl AS sl, "
            "sum(c) OVER wl AS cl, "
            "count(*) OVER wr AS nr, sum(s) OVER wr AS sr, "
            "sum(c) OVER wr AS cr FROM daily "
            "WINDOW wl AS (PARTITION BY key ORDER BY bucket "
            "ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), "
            "wr AS (PARTITION BY key ORDER BY bucket "
            "ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)) "
            "SELECT key, bucket, "
            "round(CAST(sl AS DOUBLE) / cl, 6) AS left_mean, "
            "round(CAST(sr AS DOUBLE) / cr, 6) AS right_mean, "
            "round(abs(CAST(sr AS DOUBLE) / cr - "
            "CAST(sl AS DOUBLE) / cl), 6) AS mean_shift "
            "FROM win WHERE nl = 7 AND nr = 7"
        ),
        "text_norm": (
            "WITH seeded AS (SELECT doc_id, CASE "
            "WHEN doc_id % 3 = 0 THEN translate(text, 'aeiou', 'áéíóú') "
            "WHEN doc_id % 5 = 0 THEN '  ' || upper(text) || '   ' "
            "ELSE text END AS text FROM documents) "
            "SELECT doc_id, "
            "trim(regexp_replace(translate(lower(text), "
            "'áàâäãéèêëíìîïóòôöõúùûüñç', 'aaaaaeeeeiiiiooooouuuunc'), "
            "'\\s+', ' ', 'g')) AS text, "
            "(trim(regexp_replace(translate(lower(text), "
            "'áàâäãéèêëíìîïóòôöõúùûüñç', 'aaaaaeeeeiiiiooooouuuunc'), "
            "'\\s+', ' ', 'g')) <> text) AS changed "
            "FROM seeded"
        ),
        "lsh_pr": (
            # found = the minhash_lsh pipeline's pairs (hashed-set
            # verify); truth = exact raw-shingle Jaccard >= t over the
            # inverted-index join; then the confusion aggregate.
            "WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0), "
            "corpus AS (SELECT doc_id, text FROM base "
            "UNION ALL SELECT doc_id + 10000000 AS doc_id, "
            "text || ' ' || array_to_string("
            "['d' || doc_id || 'x' || i for i in range(1, 61)], ' ') "
            "AS text FROM base WHERE doc_id % 10 = 0), "
            "words AS (SELECT doc_id, string_split(lower(text), ' ') "
            "AS w FROM corpus), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "shh AS (SELECT DISTINCT doc_id, "
            "('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h FROM sh), "
            f"sig AS (SELECT doc_id, {_MINHASH_MINS} FROM shh GROUP BY doc_id), "
            f"banded AS ({_MINHASH_BANDS}), "
            "cand AS (SELECT DISTINCT l.doc_id AS a, r.doc_id AS b "
            "FROM banded l JOIN banded r ON l.band = r.band "
            "AND l.key = r.key AND l.doc_id < r.doc_id), "
            "hsizes AS (SELECT doc_id, count(*) AS sz FROM shh GROUP BY 1), "
            "hinter AS (SELECT c.a, c.b, count(*) AS i FROM cand c "
            "JOIN shh sa ON sa.doc_id = c.a "
            "JOIN shh sb ON sb.doc_id = c.b AND sb.h = sa.h GROUP BY 1, 2), "
            "found AS (SELECT a, b FROM hinter "
            "JOIN hsizes za ON za.doc_id = a JOIN hsizes zb ON zb.doc_id = b "
            "WHERE round(i / (za.sz + zb.sz - i), 4) >= 0.5), "
            "rsizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), "
            "rinter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i "
            "FROM sh x JOIN sh y ON x.shingle = y.shingle "
            "AND x.doc_id < y.doc_id GROUP BY 1, 2), "
            "truth AS (SELECT a, b FROM rinter "
            "JOIN rsizes za ON za.doc_id = a JOIN rsizes zb ON zb.doc_id = b "
            "WHERE round(i / (za.sz + zb.sz - i), 4) >= 0.5), "
            "m AS (SELECT CASE WHEN f.a IS NOT NULL THEN 1 ELSE 0 END AS f, "
            "CASE WHEN t.a IS NOT NULL THEN 1 ELSE 0 END AS t "
            "FROM found f FULL OUTER JOIN truth t "
            "ON f.a = t.a AND f.b = t.b), "
            "agg AS (SELECT CAST(sum(t) AS BIGINT) AS n_true, "
            "CAST(sum(f) AS BIGINT) AS n_found, "
            "CAST(sum(f * t) AS BIGINT) AS tp, "
            "CAST(sum(f * (1 - t)) AS BIGINT) AS fp, "
            "CAST(sum((1 - f) * t) AS BIGINT) AS fn FROM m) "
            "SELECT n_true, n_found, tp, fp, fn, "
            "CASE WHEN n_found > 0 THEN round(tp / n_found, 4) "
            "ELSE 1.0 END AS precision, "
            "CASE WHEN n_true > 0 THEN round(tp / n_true, 4) "
            "ELSE 1.0 END AS recall FROM agg"
        ),
        "fuzzy_groups": (
            "WITH RECURSIVE c AS (SELECT c_custkey AS id, c_name AS s "
            "FROM customer WHERE c_custkey % 7 = 0), "
            "p AS (SELECT a.id AS a, b.id AS b FROM c a JOIN c b "
            "ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1 "
            "WHERE levenshtein(a.s, b.s) <= 1), "
            "e AS (SELECT a AS u, b AS v FROM p UNION SELECT b, a FROM p), "
            "reach(u, v) AS (SELECT u, u AS v FROM "
            "(SELECT DISTINCT u FROM e) "
            "UNION SELECT e.u, r.v FROM e JOIN reach r ON r.u = e.v), "
            "comp AS (SELECT u, min(v) AS component FROM reach GROUP BY u) "
            "SELECT c.id, coalesce(comp.component, c.id) AS canonical "
            "FROM c LEFT JOIN comp ON comp.u = c.id"
        ),
        "c4_rules": (
            "WITH seeded AS (SELECT doc_id, "
            "regexp_replace(text, '((\\S+ ){3}\\S+) ', '\\1.' || chr(10), 'g') "
            "|| (CASE WHEN doc_id % 23 = 0 THEN chr(10) || 'brace { line.' "
            "WHEN doc_id % 29 = 0 THEN chr(10) || "
            "'this page is lorem ipsum filler text.' "
            "WHEN doc_id % 31 = 0 THEN chr(10) || "
            "'enable javascript to view this page now.' "
            "ELSE '' END) AS text FROM documents), "
            "parts AS (SELECT doc_id, text, "
            "string_split(text, chr(10)) AS lines FROM seeded), "
            "k AS (SELECT doc_id, text, len(lines) AS n_lines, "
            "list_filter(lines, x -> trim(x) <> '' "
            "AND substr(trim(x), length(trim(x)), 1) IN ('.', '!', '?', '\"') "
            "AND len(string_split_regex(trim(x), '\\s+')) >= 4 "
            "AND NOT contains(lower(x), 'javascript')) AS kept "
            "FROM parts) "
            "SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, "
            "CAST(len(kept) AS BIGINT) AS n_kept, "
            "contains(lower(text), 'lorem ipsum') AS has_lorem, "
            "contains(text, '{') AS has_brace, "
            "(len(kept) >= 3 AND NOT contains(lower(text), 'lorem ipsum') "
            "AND NOT contains(text, '{')) AS keep, "
            "array_to_string(kept, chr(10)) AS text FROM k"
        ),
        "graph_scc": (
            # Textbook mutual-reachability SCC: closure both ways, the
            # component id is the min over {v} ∪ {u : v⇝u ∧ u⇝v} — an
            # independent formulation of the FW-BW coloring extraction.
            "WITH RECURSIVE e AS (SELECT DISTINCT user_id % 500 AS a, "
            "event_id % 500 AS b FROM events WHERE event_id % 11 = 0 "
            "AND user_id % 500 <> event_id % 500), "
            "nodes AS (SELECT a AS v FROM e UNION SELECT b FROM e), "
            "reach(x, y) AS (SELECT a, b FROM e "
            "UNION SELECT r.x, e2.b FROM reach r JOIN e e2 ON r.y = e2.a), "
            "mutual AS (SELECT r1.x AS v, r1.y AS u FROM reach r1 "
            "JOIN reach r2 ON r1.x = r2.y AND r1.y = r2.x), "
            "lab AS (SELECT v, v AS u FROM nodes "
            "UNION ALL SELECT v, u FROM mutual) "
            "SELECT v AS node, min(u) AS scc FROM lab GROUP BY v"
        ),
        "fuzzy_match": (
            # Brute-force length-banded join: candidate completeness of
            # the Spark side's symmetric-deletion blocking is exactly
            # what this gate checks (the oracle enumerates ALL pairs).
            "SELECT a.c_custkey AS a, b.c_custkey AS b, "
            "CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist "
            "FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey "
            "AND abs(length(a.c_name) - length(b.c_name)) <= 1 "
            "WHERE levenshtein(a.c_name, b.c_name) <= 1 "
            "AND a.c_custkey % 7 = 0 AND b.c_custkey % 7 = 0"
        ),
        "embed_drift": (
            "WITH ea AS (SELECT embedding AS e FROM embeddings "
            "WHERE vec_id % 2 = 0), "
            "eb AS (SELECT embedding AS e FROM embeddings "
            "WHERE vec_id % 2 = 1), "
            "xa AS (SELECT generate_subscripts(e, 1) AS dim, "
            "unnest(e) AS x FROM ea), "
            "xb AS (SELECT generate_subscripts(e, 1) AS dim, "
            "unnest(e) AS x FROM eb), "
            "ma AS (SELECT dim, avg(x) AS m FROM xa GROUP BY 1), "
            "mb AS (SELECT dim, avg(x) AS m FROM xb GROUP BY 1), "
            "f AS (SELECT sum(ma.m * mb.m) AS dot, "
            "sqrt(sum(ma.m * ma.m)) AS la, sqrt(sum(mb.m * mb.m)) AS lb "
            "FROM ma JOIN mb USING (dim)), "
            "na AS (SELECT count(*) AS n_a FROM ea), "
            "nb AS (SELECT count(*) AS n_b FROM eb) "
            "SELECT round(dot / (la * lb), 6) AS cos_means, "
            "round(lb / la, 6) AS norm_ratio, n_a, n_b FROM f, na, nb"
        ),
        "token_kl_shift": (
            "WITH ta AS (SELECT unnest(string_split(lower(text), ' ')) "
            "AS token FROM documents WHERE doc_id % 2 = 0), "
            "tb AS (SELECT unnest(string_split(lower(text), ' ')) "
            "AS token FROM documents WHERE doc_id % 2 = 1), "
            "ca AS (SELECT token, count(*) AS c FROM ta "
            "WHERE token <> '' GROUP BY 1), "
            "cb AS (SELECT token, count(*) AS c FROM tb "
            "WHERE token <> '' GROUP BY 1), "
            "merged AS (SELECT coalesce(ca.c, 0) AS ca, "
            "coalesce(cb.c, 0) AS cb FROM ca FULL OUTER JOIN cb "
            "USING (token)), "
            "tot AS (SELECT count(*) AS v, sum(ca) AS na, sum(cb) AS nb "
            "FROM merged), "
            "pq AS (SELECT (ca + 1.0) / (na + v) AS p, "
            "(cb + 1.0) / (nb + v) AS q, v FROM merged, tot) "
            "SELECT round(sum(p * ln(p / q)), 6) AS kl_ab, "
            "round(sum(q * ln(q / p)), 6) AS kl_ba, "
            "round((sum(p * ln(2 * p / (p + q))) "
            "+ sum(q * ln(2 * q / (p + q)))) / 2, 6) AS js, "
            "max(v) AS vocab FROM pq"
        ),
        "simhash": (
            "WITH words AS (SELECT DISTINCT doc_id, "
            "unnest(string_split(lower(text), ' ')) AS w FROM documents), "
            "h AS (SELECT doc_id, "
            "('0x' || substr(md5(w), 1, 8))::BIGINT AS h FROM words), "
            "bits AS (SELECT unnest(range(0, 32)) AS b), "
            "bitsum AS (SELECT doc_id, b, "
            "sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
            "FROM h CROSS JOIN bits GROUP BY 1, 2) "
            "SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN 1::BIGINT << b "
            "ELSE 0::BIGINT END) AS BIGINT) AS simhash FROM bitsum GROUP BY 1"
        ),
        "simhash_neardup": (
            # Same fingerprint pipeline as the simhash oracle but
            # 48-bit (12 md5 hex chars), then Manku-style banded
            # candidates: (band, 12-bit block) key join, exact Hamming
            # verify via bit_count(xor) — mirrors
            # dedup.simhash_neardup_pairs(max_distance=3, bits=48,
            # bands=4).
            "WITH words AS (SELECT DISTINCT doc_id, "
            "unnest(string_split(lower(text), ' ')) AS w FROM documents), "
            "h AS (SELECT doc_id, "
            "('0x' || substr(md5(w), 1, 12))::BIGINT AS h FROM words), "
            "bits AS (SELECT unnest(range(0, 48)) AS b), "
            "bitsum AS (SELECT doc_id, b, "
            "sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s "
            "FROM h CROSS JOIN bits GROUP BY 1, 2), "
            "sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 "
            "THEN 1::BIGINT << b ELSE 0::BIGINT END) AS BIGINT) "
            "AS simhash FROM bitsum GROUP BY 1), "
            "banded AS (SELECT doc_id, simhash, i AS band, "
            "(simhash >> (i * 12)) & 4095 AS key FROM sh, "
            "(SELECT unnest(range(0, 4)) AS i)), "
            "cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, "
            "x.simhash AS ha, y.simhash AS hb "
            "FROM banded x JOIN banded y "
            "ON x.band = y.band AND x.key = y.key "
            "AND x.doc_id < y.doc_id) "
            "SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS dist "
            "FROM cand WHERE bit_count(xor(ha, hb)) <= 3"
        ),
        "retrieval_eval": _retrieval_eval_oracle_sql(10, 32),
        "cosine_topk": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "q AS (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id < 10), "
            "s AS (SELECT q.q, e.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM e CROSS JOIN q WHERE e.vec_id != q.q) "
            "SELECT q, neighbor, sim, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "hard_negatives": (
            # cosine_topk's scoring with a different-label gate BEFORE
            # the rank window; NULL labels drop via the != algebra.
            "WITH e AS (SELECT vec_id, label, "
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "q AS (SELECT vec_id AS q, label AS q_label, v AS qv "
            "FROM e WHERE vec_id < 10), "
            "s AS (SELECT q.q, e.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM e CROSS JOIN q "
            "WHERE e.vec_id != q.q AND e.label != q.q_label) "
            "SELECT q, neighbor, sim, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "ann_quantized": (
            "WITH s AS (SELECT vec_id, embedding, "
            "round(list_max(list_transform(embedding, "
            "x -> abs(CAST(x AS DOUBLE)))) / 127.0, 9) AS scale "
            "FROM embeddings), "
            "dq AS (SELECT vec_id, "
            "CASE WHEN scale = 0 THEN list_transform(embedding, "
            "x -> CAST(0 AS DOUBLE)) "
            "ELSE list_transform(embedding, "
            "x -> CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT) * scale) "
            "END AS v FROM s), "
            "q AS (SELECT vec_id AS q, v AS qv FROM dq WHERE vec_id < 10), "
            "sm AS (SELECT q.q, dq.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, dq.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(dq.v, dq.v))), 4) AS sim "
            "FROM dq CROSS JOIN q WHERE dq.vec_id != q.q) "
            "SELECT q, neighbor, sim, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM sm) "
            "WHERE rank <= 5"
        ),
        "embed_groups": (
            # Candidate pairs from the SAME density-adjusted
            # hyperplane-LSH buckets as q_embed_groups(planes="auto"):
            # np = ceil(log2(count(*)/32)) — then the recursive closure.
            "WITH RECURSIVE params AS (SELECT greatest(1, "
            "CAST(ceil(log2(greatest(n, 2) / 32.0)) AS INT)) AS np "
            "FROM (SELECT count(*) AS n FROM embeddings)), "
            "e AS (SELECT vec_id, "
            "CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
            "sig AS (SELECT vec_id, CAST(list_sum(["
            "CASE WHEN list_dot_product(v, "
            "[CASE WHEN substr(md5(p::VARCHAR || '_' || i::VARCHAR), 8, 1) "
            "IN ('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END "
            "for i in range(0, len(v))]) > 0 "
            "THEN (1 << p) ELSE 0 END for p in range(0, np)]) AS INT) "
            "AS bucket FROM e, params), "
            "eb AS (SELECT e.vec_id, e.v, sig.bucket FROM e "
            "JOIN sig USING (vec_id)), "
            "pairs AS (SELECT a, b FROM ("
            "SELECT x.vec_id AS a, y.vec_id AS b, "
            "round(list_dot_product(x.v, y.v) / "
            "(sqrt(list_dot_product(x.v, x.v)) * "
            "sqrt(list_dot_product(y.v, y.v))), 4) AS sim "
            "FROM eb x JOIN eb y ON x.bucket = y.bucket "
            "AND x.vec_id < y.vec_id) WHERE sim >= 0.4), "
            "edges AS (SELECT a AS u, b AS v FROM pairs "
            "UNION SELECT b, a FROM pairs), "
            "reach(u, v) AS (SELECT u, u AS v "
            "FROM (SELECT DISTINCT u FROM edges) "
            "UNION SELECT g.u, r.v FROM edges g JOIN reach r ON r.u = g.v), "
            "comp AS (SELECT u, min(v) AS component FROM reach GROUP BY u) "
            "SELECT em.vec_id, coalesce(c.component, em.vec_id) AS canonical "
            "FROM embeddings em LEFT JOIN comp c ON c.u = em.vec_id"
        ),
        "embed_neardup": (
            # Density-adjusted LSH-bucketed scale path: plane count np
            # = ceil(log2(count(*)/32)) from a scalar subquery (the
            # same density_planes formula the Spark side computes from
            # its corpus count), identical md5-parity plane weights as
            # similarity.hyperplane_signature, self-join restricted to
            # equal buckets, exact cosine inside — mirrors
            # q_embed_neardup(planes="auto").
            "WITH params AS (SELECT greatest(1, "
            "CAST(ceil(log2(greatest(n, 2) / 32.0)) AS INT)) AS np "
            "FROM (SELECT count(*) AS n FROM embeddings)), "
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "sig AS (SELECT vec_id, CAST(list_sum(["
            "CASE WHEN list_dot_product(v, "
            "[CASE WHEN substr(md5(p::VARCHAR || '_' || i::VARCHAR), 8, 1) "
            "IN ('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END "
            "for i in range(0, len(v))]) > 0 "
            "THEN (1 << p) ELSE 0 END for p in range(0, np)]) AS INT) "
            "AS bucket FROM e, params), "
            "eb AS (SELECT e.vec_id, e.v, sig.bucket FROM e "
            "JOIN sig USING (vec_id)) "
            "SELECT a, b, sim FROM ("
            "SELECT x.vec_id AS a, y.vec_id AS b, "
            "round(list_dot_product(x.v, y.v) / "
            "(sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS sim "
            "FROM eb x JOIN eb y ON x.bucket = y.bucket "
            "AND x.vec_id < y.vec_id) WHERE sim >= 0.4"
        ),
        "ann_ivf": (
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "c AS (SELECT vec_id AS cell, v AS cv FROM e "
            "ORDER BY vec_id LIMIT 16), "
            "assign AS (SELECT vec_id, cell FROM ("
            "SELECT e.vec_id, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c) WHERE rn = 1), "
            "probes AS (SELECT q, qv, cell FROM ("
            "SELECT e.vec_id AS q, e.v AS qv, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c WHERE e.vec_id < 10) "
            "WHERE rn <= 4), "
            "s AS (SELECT p.q, a.vec_id AS neighbor, "
            "round(list_dot_product(p.qv, e.v) / "
            "(sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM probes p JOIN assign a ON a.cell = p.cell "
            "JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id != p.q) "
            "SELECT q, neighbor, sim, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "pq_topk": (
            # Product quantization, mirrored step for step: subvector
            # slices (1-based list slicing), seed codebooks from the 16
            # lowest-id vectors, one Lloyd step with 6-decimal-rounded
            # per-component means (empty cells keep their seed), final
            # code assignment, per-query subspace distance table, and
            # ADC = sum of table lookups — matches
            # similarity.pq_topk(m=8, n_codes=16, iters=1).
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "subs AS (SELECT vec_id, g.sub, "
            "v[(g.sub * 8 + 1):(g.sub * 8 + 8)] AS sv "
            "FROM e, (SELECT unnest(range(0, 8)) AS sub) g), "
            "seed AS (SELECT sub, vec_id AS code, sv AS cv FROM subs "
            "WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id "
            "LIMIT 16)), "
            "a1 AS (SELECT vid, sub, code, sv FROM ("
            "SELECT s.vec_id AS vid, s.sub, c.code, s.sv, "
            "row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY "
            "list_sum([(s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i]) "
            "for i in range(1, 9)]) ASC, c.code ASC) AS rn "
            "FROM subs s JOIN seed c ON s.sub = c.sub) WHERE rn = 1), "
            "comp AS (SELECT sub, code, g.i, round(avg(sv[g.i]), 6) "
            "AS mc FROM a1, (SELECT unnest(range(1, 9)) AS i) g "
            "GROUP BY sub, code, g.i), "
            "m1 AS (SELECT sub, code, list(mc ORDER BY i) AS mv "
            "FROM comp GROUP BY sub, code), "
            "books AS (SELECT s.sub, s.code, coalesce(m1.mv, s.cv) AS cv "
            "FROM seed s LEFT JOIN m1 ON s.sub = m1.sub "
            "AND s.code = m1.code), "
            "codes AS (SELECT vid, sub, code FROM ("
            "SELECT s.vec_id AS vid, s.sub, b.code, "
            "row_number() OVER (PARTITION BY s.vec_id, s.sub ORDER BY "
            "list_sum([(s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]) "
            "for i in range(1, 9)]) ASC, b.code ASC) AS rn "
            "FROM subs s JOIN books b ON s.sub = b.sub) WHERE rn = 1), "
            "dtab AS (SELECT s.vec_id AS q, b.sub, b.code, "
            "list_sum([(s.sv[i] - b.cv[i]) * (s.sv[i] - b.cv[i]) "
            "for i in range(1, 9)]) AS dist "
            "FROM subs s JOIN books b ON s.sub = b.sub "
            "WHERE s.vec_id < 10), "
            "sums AS (SELECT d.q, c.vid AS neighbor, "
            "round(sum(d.dist), 4) AS adist "
            "FROM codes c JOIN dtab d ON c.sub = d.sub "
            "AND c.code = d.code WHERE c.vid != d.q GROUP BY 1, 2) "
            "SELECT q, neighbor, adist, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY adist, neighbor) AS INT) AS rank FROM sums) "
            "WHERE rank <= 5"
        ),
        "ann_recall": (
            # cosine_topk (exact side) and ann_ivf (approx side)
            # pipelines composed verbatim; recall = |approx ∩ exact@5|
            # over the exact side's result size per probe query.
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "qs AS (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id < 10), "
            "xs AS (SELECT q.q, e.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM e CROSS JOIN qs q WHERE e.vec_id != q.q), "
            "ex AS (SELECT q, neighbor FROM (SELECT *, row_number() "
            "OVER (PARTITION BY q ORDER BY sim DESC, neighbor) AS rn "
            "FROM xs) WHERE rn <= 5), "
            "c AS (SELECT vec_id AS cell, v AS cv FROM e "
            "ORDER BY vec_id LIMIT 16), "
            "assign AS (SELECT vec_id, cell FROM ("
            "SELECT e.vec_id, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * "
            "sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c) WHERE rn = 1), "
            "probes AS (SELECT q, qv, cell FROM ("
            "SELECT e.vec_id AS q, e.v AS qv, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * "
            "sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c WHERE e.vec_id < 10) "
            "WHERE rn <= 4), "
            "s AS (SELECT p.q, a.vec_id AS neighbor, "
            "round(list_dot_product(p.qv, e.v) / "
            "(sqrt(list_dot_product(p.qv, p.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM probes p JOIN assign a ON a.cell = p.cell "
            "JOIN e ON e.vec_id = a.vec_id WHERE a.vec_id != p.q), "
            "ap AS (SELECT q, neighbor FROM (SELECT *, row_number() "
            "OVER (PARTITION BY q ORDER BY sim DESC, neighbor) AS rn "
            "FROM s) WHERE rn <= 5), "
            "hits AS (SELECT ex.q, count(*) AS h FROM ex "
            "JOIN ap ON ap.q = ex.q AND ap.neighbor = ex.neighbor "
            "GROUP BY 1), "
            "base AS (SELECT q, count(*) AS kk FROM ex GROUP BY 1) "
            "SELECT base.q, round(coalesce(h, 0) / kk, 4) AS recall "
            "FROM base LEFT JOIN hits ON hits.q = base.q"
        ),
        "ann_ivf_kmeans": (
            # One Lloyd step: assign under seed centroids, per-component
            # means rounded to 6 decimals (lockstep unnest zip), empty
            # cells keep the seed vector, re-assign under refined
            # centroids — mirrors similarity.ivf_centroids(iters=1).
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "c0 AS (SELECT vec_id AS cell, v AS cv FROM e "
            "ORDER BY vec_id LIMIT 16), "
            "a1 AS (SELECT vec_id, v, cell FROM ("
            "SELECT e.vec_id, e.v, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c0 c) WHERE rn = 1), "
            "comp AS (SELECT cell, i, round(avg(x), 6) AS m FROM ("
            "SELECT cell, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i "
            "FROM a1) GROUP BY cell, i), "
            "m1 AS (SELECT cell, list(m ORDER BY i) AS mv FROM comp "
            "GROUP BY cell), "
            "c1 AS (SELECT c0.cell, coalesce(m1.mv, c0.cv) AS cv "
            "FROM c0 LEFT JOIN m1 USING (cell)) "
            "SELECT vec_id, cell FROM ("
            "SELECT e.vec_id, c.cell, row_number() OVER ("
            "PARTITION BY e.vec_id ORDER BY "
            "list_dot_product(e.v, c.cv) / "
            "(sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC, "
            "c.cell) AS rn FROM e CROSS JOIN c1 c) WHERE rn = 1"
        ),
        "ann_lsh": (
            # Mirrors similarity.lsh_topk: identical md5-parity plane
            # weights (PLANE_WEIGHT_SQL), DENSITY-DERIVED signature
            # width (the same ceil(log2(n/32)) the Spark side computes
            # for planes="auto"), exact cosine within equal buckets,
            # rank by (sim desc, neighbor).
            "WITH params AS (SELECT greatest(1, CAST(ceil(log2("
            "greatest(n, 2) / 32.0)) AS INT)) AS np "
            "FROM (SELECT count(*) AS n FROM embeddings)), "
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "sig AS (SELECT vec_id, CAST(list_sum(["
            "CASE WHEN list_dot_product(v, "
            "[CASE WHEN substr(md5(p::VARCHAR || '_' || i::VARCHAR), 8, 1) "
            "IN ('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END "
            "for i in range(0, len(v))]) > 0 "
            "THEN (1 << p) ELSE 0 END for p in range(0, np)]) AS INT) "
            "AS bucket FROM e, params), "
            "eb AS (SELECT e.vec_id, e.v, sig.bucket FROM e "
            "JOIN sig USING (vec_id)), "
            "q AS (SELECT vec_id AS q, v AS qv, bucket FROM eb "
            "WHERE vec_id < 10), "
            "s AS (SELECT q.q, n.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, n.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(n.v, n.v))), 4) AS sim "
            "FROM eb n JOIN q ON n.bucket = q.bucket "
            "AND n.vec_id != q.q) "
            "SELECT q, neighbor, sim, rank FROM ("
            "SELECT *, CAST(row_number() OVER (PARTITION BY q "
            "ORDER BY sim DESC, neighbor) AS INT) AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "hash_split": _HASH_SPLIT_ORACLE,
        "stratified_sample": (
            "SELECT doc_id, lang FROM (SELECT doc_id, lang, "
            "('0x' || substr(md5('sample_' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT "
            "/ 4294967296.0 AS pos FROM documents) "
            "WHERE pos < (CASE lang WHEN 'en' THEN 0.5 "
            "WHEN 'fr' THEN 1.0 ELSE 0.0 END)"
        ),
        "multimodal_meta": (
            "SELECT doc_id, "
            "CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, "
            "'fake/png' AS format, "
            "CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width, "
            "CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height "
            "FROM documents"
        ),
        "frame_sample": (
            "WITH t AS (SELECT doc_id, "
            "list_slice(range(0, octet_length(encode(text)) + 1, 64), 1, 8) AS offs "
            "FROM documents) "
            "SELECT doc_id, CAST(x.i AS INT) AS frame_idx, "
            "CAST(x.o AS INT) AS byte_offset FROM ("
            "SELECT doc_id, unnest([struct_pack(i := i - 1, o := offs[i]) "
            "for i in range(1, len(offs) + 1)]) AS x FROM t)"
        ),
        "gopher_rules": (
            "WITH m AS (SELECT doc_id, "
            "regexp_split_to_array(trim(lower(text)), '\\s+') AS w, "
            "length(text) - length(replace(text, '#', '')) AS n_hash, "
            "(length(text) - length(replace(text, '...', ''))) / 3 "
            "AS n_ellipsis, "
            f"len(list_filter(string_split(lower(text), ' '), "
            f"x -> x IN {_SQL_STOP}))::BIGINT AS n_stop "
            "FROM documents), "
            "s AS (SELECT doc_id, len(w)::BIGINT AS n_words, "
            "greatest(len(w), 1) AS denom, "
            "round(list_sum(list_transform(w, x -> length(x))) "
            "/ greatest(len(w), 1), 4) AS mean_word_len, "
            "round((n_hash + n_ellipsis) / greatest(len(w), 1), 4) "
            "AS symbol_ratio, "
            "round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) "
            "/ greatest(len(w), 1), 4) AS alpha_frac, n_stop FROM m) "
            "SELECT doc_id, n_words, mean_word_len, symbol_ratio, "
            "alpha_frac, n_stop, "
            "(n_words >= 40 AND n_words <= 100000) AS pass_words, "
            "(mean_word_len >= 3.0 AND mean_word_len <= 10.0) "
            "AS pass_mean_len, "
            "(symbol_ratio <= 0.1) AS pass_symbol, "
            "(alpha_frac >= 0.8) AS pass_alpha, "
            "(n_stop >= 2) AS pass_stop, "
            "((n_words >= 40 AND n_words <= 100000) "
            "AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0) "
            "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 "
            "AND n_stop >= 2) AS \"pass\" FROM s"
        ),
        "line_dedup": (
            "WITH seeded AS (SELECT doc_id, regexp_replace(text, "
            "'((\\S+ ){2}\\S+) ', '\\1' || chr(10), 'g') AS text "
            "FROM documents), "
            "l AS (SELECT doc_id, i AS pos, ln[i] AS line FROM ("
            "SELECT doc_id, string_split(text, chr(10)) AS ln FROM seeded), "
            "unnest(generate_series(1, len(ln))) AS t(i)), "
            "n AS (SELECT doc_id, pos, line, trim(lower(line)) AS norm "
            "FROM l), "
            "c AS (SELECT norm, count(DISTINCT doc_id) AS nd FROM n "
            "GROUP BY 1), "
            "kept AS (SELECT n.doc_id, n.pos, n.line FROM n "
            "JOIN c USING (norm) WHERE c.nd < 2), "
            "tot AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM n "
            "GROUP BY 1), "
            "rb AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) "
            "AS text, count(*)::BIGINT AS n_kept FROM kept GROUP BY 1) "
            "SELECT t.doc_id, coalesce(rb.text, '') AS text, t.n_lines, "
            "(t.n_lines - coalesce(rb.n_kept, 0))::BIGINT AS n_removed "
            "FROM tot t LEFT JOIN rb USING (doc_id)"
        ),
        "bm25_topk": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
            "AS term FROM documents), "
            "dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks "
            "GROUP BY 1), "
            "st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks "
            "WHERE term IN ('spark', 'query', 'window', 'vector') "
            "GROUP BY 1, 2), "
            "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "p AS (SELECT tf.doc_id, CAST(round("
            "ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) "
            "* (tf.tf * 2.2) "
            "/ (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) "
            "AS DECIMAL(18,6)) AS part "
            "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) "
            "CROSS JOIN st), "
            "s AS (SELECT doc_id, CAST(sum(part) AS DOUBLE) AS score "
            "FROM p GROUP BY 1), "
            "r AS (SELECT doc_id, score, (ROW_NUMBER() OVER "
            "(ORDER BY score DESC, doc_id))::BIGINT AS rk FROM s) "
            "SELECT doc_id, score, rk FROM r WHERE rk <= 25"
        ),
        "ngram_lm_score": (
            "WITH toks AS (SELECT doc_id, i AS pos, w[i] AS w FROM ("
            "SELECT doc_id, regexp_split_to_array(trim(lower(text)), "
            "'\\s+') AS w FROM documents), "
            "unnest(generate_series(1, len(w))) AS t(i)), "
            "bg AS (SELECT a.doc_id, a.w AS w, b.w AS w2 FROM toks a "
            "JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
            "c2 AS (SELECT w, w2, count(*) AS c2 FROM bg GROUP BY 1, 2), "
            "c1 AS (SELECT w, count(*) AS c1 FROM toks GROUP BY 1), "
            "v AS (SELECT count(DISTINCT w) AS v FROM toks), "
            "m AS (SELECT c2.w, c2.w2, CAST(round("
            "ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 9) "
            "AS DECIMAL(24,9)) AS logp "
            "FROM c2 JOIN c1 USING (w) CROSS JOIN v) "
            "SELECT bg.doc_id, count(*)::BIGINT AS n_bigrams, "
            "round(CAST(sum(m.logp) AS DOUBLE) / count(*), 6) AS avg_logp "
            "FROM bg JOIN m ON bg.w = m.w AND bg.w2 = m.w2 GROUP BY 1"
        ),
        "bpe_merges": _bpe_oracle_sql(8),
        "mix_weights": (
            "WITH g1 AS (SELECT lang AS \"group\", "
            "sum(CASE WHEN len(trim(text)) = 0 THEN 0 "
            "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
            "::BIGINT AS n_tokens FROM documents GROUP BY 1), "
            "t AS (SELECT sum(n_tokens) AS total FROM g1), "
            "g2 AS (SELECT \"group\", n_tokens, n_tokens / t.total AS p, "
            "pow(n_tokens / t.total, 0.3) AS w FROM g1, t), "
            "z AS (SELECT sum(w) AS zz FROM g2) "
            "SELECT \"group\", n_tokens, round(p, 6) AS p, "
            "round(w / z.zz, 6) AS q FROM g2, z"
        ),
        "tfidf_topk": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
            "AS term FROM documents), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks "
            "GROUP BY 1, 2), "
            "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "nd AS (SELECT count(DISTINCT doc_id) AS n_docs "
            "FROM documents), "
            "s AS (SELECT tf.doc_id, tf.term, "
            "round(tf.tf * ln(n_docs / df.df), 6) AS score "
            "FROM tf JOIN df USING (term), nd), "
            "r AS (SELECT doc_id, term, score, (ROW_NUMBER() OVER "
            "(PARTITION BY doc_id ORDER BY score DESC, term))::BIGINT "
            "AS rk FROM s) "
            "SELECT doc_id, term, score, rk FROM r WHERE rk <= 3"
        ),
        "hll_distinct": _hll_oracle_sql(),
        "cms_topk": _cms_oracle_sql(20),
        "hist_quantiles": _hist_oracle_sql(),
        "corpus_profile": _profile_oracle_sql(
            ("doc_id", "text", "lang", "source", "n_chars")
        ),
        "bpe_encode": _bpe_encode_oracle_sql(8),
        "edge_support": (
            # canonical a < b undirected edges; support = common
            # neighbors of the endpoints; zero-support edges kept.
            "WITH e0 AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0), "
            "und AS (SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst), "
            "canon AS (SELECT src AS a, dst AS b FROM und "
            "WHERE src < dst), "
            "tri AS (SELECT c.a, c.b, count(*) AS support FROM canon c "
            "JOIN und n1 ON n1.src = c.a "
            "JOIN und n2 ON n2.src = c.b AND n2.dst = n1.dst "
            "GROUP BY 1, 2) "
            "SELECT c.a, c.b, coalesce(t.support, 0) AS support "
            "FROM canon c LEFT JOIN tri t ON t.a = c.a AND t.b = c.b"
        ),
        "ktruss": _ktruss_oracle_sql(),
        "ewma": _ewma_oracle_sql(),
        "twap": (
            "WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tu, "
            "value FROM events), "
            "h AS (SELECT user_id, value, "
            "lead(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) "
            "- tu AS hold_us FROM ev) "
            "SELECT user_id, count(*)::BIGINT AS n_holds, "
            "sum(hold_us)::BIGINT AS held_us, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6)) * hold_us) "
            "AS DOUBLE) / nullif(CAST(sum(hold_us) AS DOUBLE), 0.0), 6) "
            "AS twap FROM h WHERE hold_us IS NOT NULL GROUP BY 1"
        ),
        "markov_trans": (
            "WITH ev AS (SELECT user_id, event_type AS t, "
            "epoch_us(ts) AS tu, event_id AS eid FROM events), "
            "pr AS (SELECT t AS from_type, lead(t) OVER ("
            "PARTITION BY user_id ORDER BY tu, eid) AS to_type FROM ev), "
            "c AS (SELECT from_type, to_type, count(*)::BIGINT AS n "
            "FROM pr WHERE to_type IS NOT NULL GROUP BY 1, 2), "
            "tot AS (SELECT from_type, sum(n)::BIGINT AS out_n FROM c "
            "GROUP BY 1) "
            "SELECT c.from_type, c.to_type, c.n, "
            "round(CAST(c.n AS DOUBLE) / t.out_n, 6) AS p "
            "FROM c JOIN tot t USING (from_type)"
        ),
        "burstiness": (
            "WITH ev AS (SELECT user_id, event_id AS eid, "
            "epoch_us(ts) AS tu FROM events), "
            "g0 AS (SELECT user_id, lead(tu) OVER (PARTITION BY user_id "
            "ORDER BY tu, eid) - tu AS g FROM ev), "
            "m AS (SELECT user_id, count(*)::BIGINT AS n_gaps, "
            "sum(CAST(g AS DECIMAL(38,0))) AS sg, "
            "sum(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))) "
            "AS sgg FROM g0 WHERE g IS NOT NULL GROUP BY 1) "
            # seconds, not microseconds: round-6 at 1e10 magnitude is
            # past double's 2^53 exact-integer range (measured FAIL)
            "SELECT user_id, n_gaps, "
            "round(CAST(sg AS DOUBLE) / n_gaps / 1000000.0, 6) "
            "AS mean_gap_s, "
            "round(greatest(CAST(sgg AS DOUBLE) / n_gaps - "
            "(CAST(sg AS DOUBLE) / n_gaps) * (CAST(sg AS DOUBLE) "
            "/ n_gaps), 0.0) / nullif(CAST(sg AS DOUBLE) / n_gaps, 0.0) "
            "/ 1000000.0, 6) AS dispersion_s FROM m WHERE n_gaps >= 2"
        ),
        "rfm": (
            # fixed policy bands — keep thresholds in lockstep with
            # timeseries.RFM_* (the Spark side prints the same CASE)
            "WITH a AS (SELECT o_custkey AS custkey, "
            "max(epoch_us(o_orderdate)) AS last_us, "
            "count(*)::BIGINT AS frequency, "
            "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary "
            "FROM orders GROUP BY 1), "
            "mx AS (SELECT max(epoch_us(o_orderdate)) AS corpus_max_us "
            "FROM orders), "
            "s AS (SELECT custkey, CAST((corpus_max_us - last_us) "
            "// 86400000000 AS INT) AS recency_days, frequency, "
            "round(CAST(monetary AS DOUBLE), 2) AS monetary "
            "FROM a, mx) "
            "SELECT custkey, recency_days, frequency, monetary, "
            "CASE WHEN recency_days <= 30 THEN 4 "
            "WHEN recency_days <= 90 THEN 3 "
            "WHEN recency_days <= 365 THEN 2 ELSE 1 END AS r_score, "
            "CASE WHEN frequency >= 10 THEN 4 WHEN frequency >= 5 THEN 3 "
            "WHEN frequency >= 2 THEN 2 ELSE 1 END AS f_score, "
            "CASE WHEN monetary >= 20000 THEN 4 "
            "WHEN monetary >= 5000 THEN 3 "
            "WHEN monetary >= 1000 THEN 2 ELSE 1 END AS m_score, "
            "CAST(100 * (CASE WHEN recency_days <= 30 THEN 4 "
            "WHEN recency_days <= 90 THEN 3 "
            "WHEN recency_days <= 365 THEN 2 ELSE 1 END) + 10 * "
            "(CASE WHEN frequency >= 10 THEN 4 WHEN frequency >= 5 THEN 3 "
            "WHEN frequency >= 2 THEN 2 ELSE 1 END) + "
            "(CASE WHEN monetary >= 20000 THEN 4 "
            "WHEN monetary >= 5000 THEN 3 "
            "WHEN monetary >= 1000 THEN 2 ELSE 1 END) AS INT) AS segment "
            "FROM s"
        ),
        "hits": _hits_oracle_sql(),
        "ppr": _ppr_oracle_sql(),
        "knn_graph": _kmeans_oracle_sql(
            8, 2, k_sql="greatest(8, (count(*) + 255) // 256)", tail=(
                ", pr AS (SELECT a.cell, a.vec_id AS a, b.vec_id AS b, "
                "round(list_dot_product(a.v, b.v) / "
                "nullif(sqrt(list_dot_product(a.v, a.v)) * "
                "sqrt(list_dot_product(b.v, b.v)), 0), 4) AS sim "
                "FROM af a JOIN af b ON a.cell = b.cell "
                "AND a.vec_id <> b.vec_id), "
                "r AS (SELECT a, b, sim, row_number() OVER ("
                "PARTITION BY a "
                "ORDER BY sim DESC NULLS LAST, b) AS rnk FROM pr "
                "WHERE sim IS NOT NULL), "
                "knn AS (SELECT a, b, sim FROM r WHERE rnk <= 5) "
                "SELECT k1.a, k1.b, k1.sim FROM knn k1 "
                "JOIN knn k2 ON k1.a = k2.b AND k1.b = k2.a "
                "WHERE k1.a < k1.b"
            )
        ),
        "readability": (
            "WITH c AS (SELECT doc_id, "
            "CAST(len(regexp_extract_all(trim(lower(text)), "
            "'[^\\s]+')) AS INT) AS n_words, "
            "CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) "
            "AS INT) AS n_sents, "
            "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) "
            "AS INT) AS n_syll FROM documents) "
            "SELECT doc_id, n_words, n_sents, n_syll, "
            "CASE WHEN n_words > 0 THEN "
            "round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents) "
            "- 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) END "
            "AS flesch FROM c"
        ),
        "langid_eval": (
            "WITH cnt AS (SELECT lang AS true_lang, "
            f"len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN {_SQL_EN})) AS c_en, "
            f"len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN {_SQL_ES})) AS c_es, "
            f"len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN {_SQL_DE})) AS c_de, "
            f"len(list_filter(string_split(lower(text), ' '), "
            f"w -> w IN {_SQL_FR})) AS c_fr FROM documents), "
            "p AS (SELECT true_lang, CASE "
            "WHEN c_en = 0 AND c_es = 0 AND c_de = 0 AND c_fr = 0 "
            "THEN 'und' "
            "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr "
            "THEN 'en' "
            "WHEN c_es >= c_de AND c_es >= c_fr THEN 'es' "
            "WHEN c_de >= c_fr THEN 'de' ELSE 'fr' END AS pred_lang "
            "FROM cnt), "
            "c AS (SELECT true_lang, pred_lang, count(*)::BIGINT AS n "
            "FROM p GROUP BY 1, 2), "
            "tot AS (SELECT true_lang, sum(n)::BIGINT AS tot FROM c "
            "GROUP BY 1) "
            "SELECT c.true_lang, c.pred_lang, c.n, "
            "round(CAST(c.n AS DOUBLE) / t.tot, 6) AS rate "
            "FROM c JOIN tot t USING (true_lang)"
        ),
        "pivot_counts": (
            "SELECT user_id, "
            + ", ".join(
                f"sum(CASE WHEN event_type = '{v}' THEN 1 ELSE 0 END)"
                f"::BIGINT AS n_{v}"
                for v in PIVOT_EVENT_TYPES
            )
            + " FROM events GROUP BY 1"
        ),
        "unpivot_metrics": (
            " UNION ALL ".join(
                f"SELECT l_orderkey, l_linenumber, '{c}' AS metric, "
                f"CAST({c} AS DOUBLE) AS val FROM lineitem"
                for c in UNPIVOT_METRICS
            )
        ),
        "agg_grouping_sets": (
            "SELECT source, lang, count(*)::BIGINT AS n, "
            "CAST(sum(n_chars) AS BIGINT) AS chars FROM documents "
            "GROUP BY GROUPING SETS ((source), (lang), (source, lang), "
            "())"
        ),
        "top_paths": (
            "WITH ev AS (SELECT user_id AS k, event_type AS t1, "
            "epoch_us(ts) AS tu, event_id AS eid FROM events), "
            "p AS (SELECT t1, lead(t1, 1) OVER w AS t2, "
            "lead(t1, 2) OVER w AS t3 FROM ev "
            "WINDOW w AS (PARTITION BY k ORDER BY tu, eid)), "
            "c AS (SELECT t1, t2, t3, count(*)::BIGINT AS n FROM p "
            "WHERE t3 IS NOT NULL GROUP BY 1, 2, 3) "
            "SELECT t1, t2, t3, n FROM c "
            "ORDER BY n DESC, t1, t2, t3 LIMIT 20"
        ),
        "seasonality": (
            # dow from exact integer epoch-day arithmetic — engine
            # dayofweek() builtins disagree on Sunday's number
            "WITH base AS (SELECT event_type AS k, "
            "CAST(((epoch_us(ts) // 86400000000) + 3) % 7 AS INT) "
            "AS dow, value AS v FROM events), "
            "p AS (SELECT k, dow, count(*)::BIGINT AS n, "
            "sum(CAST(v AS DECIMAL(18,6))) AS sv FROM base "
            "GROUP BY 1, 2), "
            "t AS (SELECT k, sum(n)::BIGINT AS tot FROM p GROUP BY 1) "
            "SELECT p.k AS event_type, p.dow, p.n, "
            "round(CAST(p.n AS DOUBLE) / t.tot, 6) AS share, "
            "round(CAST(p.sv AS DOUBLE) / p.n, 6) AS avg_value "
            "FROM p JOIN t USING (k)"
        ),
        "group_quantiles": _group_hist_oracle_sql(),
        "label_noise": _kmeans_oracle_sql(
            8, 2, k_sql="greatest(8, (count(*) + 255) // 256)", tail=(
                ", pr AS (SELECT a.cell, a.vec_id AS a, b.vec_id AS b, "
                "round(list_dot_product(a.v, b.v) / "
                "nullif(sqrt(list_dot_product(a.v, a.v)) * "
                "sqrt(list_dot_product(b.v, b.v)), 0), 4) AS sim "
                "FROM af a JOIN af b ON a.cell = b.cell "
                "AND a.vec_id <> b.vec_id), "
                "r AS (SELECT a, b, sim, row_number() OVER ("
                "PARTITION BY a "
                "ORDER BY sim DESC NULLS LAST, b) AS rnk FROM pr "
                "WHERE sim IS NOT NULL), "
                "knn AS (SELECT a, b FROM r WHERE rnk <= 5), "
                "v AS (SELECT knn.a, emb.label AS nbr_label, "
                "count(*)::BIGINT AS votes FROM knn "
                "JOIN embeddings emb ON emb.vec_id = knn.b "
                "GROUP BY 1, 2), "
                "mj AS (SELECT a, nbr_label AS maj_label, votes FROM ("
                "SELECT *, row_number() OVER (PARTITION BY a "
                "ORDER BY votes DESC, nbr_label) AS rn FROM v) "
                "WHERE rn = 1) "
                "SELECT mj.a AS vec_id, emb.label, mj.maj_label, "
                "mj.votes, emb.label <> mj.maj_label AS mismatch "
                "FROM mj JOIN embeddings emb ON emb.vec_id = mj.a"
            )
        ),
        "collocations": (
            "WITH w0 AS (SELECT "
            "regexp_split_to_array(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "toks AS (SELECT unnest(w) AS w FROM w0), "
            "bg AS (SELECT w[i] AS w, w[i+1] AS w2 FROM w0, "
            "unnest(generate_series(1, len(w) - 1)) AS t(i) "
            "WHERE len(w) >= 2), "
            "c2 AS (SELECT w, w2, count(*)::BIGINT AS c_xy FROM bg "
            "GROUP BY 1, 2 HAVING count(*) >= 5), "
            "c1 AS (SELECT w, count(*)::BIGINT AS c_x FROM toks "
            "GROUP BY 1), "
            "n AS (SELECT count(*)::BIGINT AS n_tokens FROM toks) "
            "SELECT c2.w, c2.w2, c2.c_xy, a.c_x, b.c_x AS c_y, "
            "round(c2.c_xy::DOUBLE * n.n_tokens::DOUBLE / "
            "(a.c_x::DOUBLE * b.c_x::DOUBLE), 6) AS lift "
            "FROM c2 JOIN c1 a ON a.w = c2.w "
            "JOIN c1 b ON b.w = c2.w2, n "
            "ORDER BY lift DESC, c2.w, c2.w2 LIMIT 100"
        ),
        "mmr_rerank": _mmr_oracle_sql(5, 20),
        "trunc_recall": (
            # full-dim and v[1:32]-truncated cosine_topk pipelines
            # composed verbatim; recall per probe over the exact side.
            "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "te AS (SELECT vec_id, v[1:32] AS v FROM e), "
            "q AS (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id < 10), "
            "tq AS (SELECT vec_id AS q, v AS qv FROM te "
            "WHERE vec_id < 10), "
            "xs AS (SELECT q.q, e.vec_id AS neighbor, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM e CROSS JOIN q WHERE e.vec_id != q.q), "
            "ex AS (SELECT q, neighbor FROM (SELECT *, row_number() "
            "OVER (PARTITION BY q ORDER BY sim DESC, neighbor) AS rn "
            "FROM xs) WHERE rn <= 5), "
            "ts AS (SELECT t.q, te.vec_id AS neighbor, "
            "round(list_dot_product(t.qv, te.v) / "
            "(sqrt(list_dot_product(t.qv, t.qv)) * "
            "sqrt(list_dot_product(te.v, te.v))), 4) AS sim "
            "FROM te CROSS JOIN tq t WHERE te.vec_id != t.q), "
            "ap AS (SELECT q, neighbor FROM (SELECT *, row_number() "
            "OVER (PARTITION BY q ORDER BY sim DESC, neighbor) AS rn "
            "FROM ts) WHERE rn <= 5), "
            "hits AS (SELECT ex.q, count(*) AS h FROM ex "
            "JOIN ap ON ap.q = ex.q AND ap.neighbor = ex.neighbor "
            "GROUP BY 1), "
            "base AS (SELECT q, count(*) AS kk FROM ex GROUP BY 1) "
            "SELECT base.q, round(coalesce(h, 0) / kk, 4) AS recall "
            "FROM base LEFT JOIN hits ON hits.q = base.q"
        ),
        "pca_top1": _pca_oracle_sql(2),
        "vocab_coverage": (
            "WITH toks AS (SELECT "
            "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
            "AS w FROM documents), "
            "c AS (SELECT w, count(*)::BIGINT AS cnt FROM toks "
            "GROUP BY 1), "
            "r AS (SELECT w, cnt, (row_number() OVER "
            "(ORDER BY cnt DESC, w))::BIGINT AS rk FROM c), "
            "n AS (SELECT count(*)::BIGINT AS n_tokens FROM toks), "
            "ks AS (SELECT unnest([64, 256, 1024, 4096]) AS k) "
            "SELECT ks.k::BIGINT AS k, sum(r.cnt)::BIGINT AS covered, "
            "n.n_tokens, round(sum(r.cnt)::DOUBLE / "
            "n.n_tokens::DOUBLE, 6) AS coverage "
            "FROM r JOIN ks ON r.rk <= ks.k, n "
            "GROUP BY ks.k, n.n_tokens"
        ),
        "cdc_chunks": (
            # 1-indexed DuckDB arrays: i in 1..len, pos = i-1, the
            # boundary bigram is (w[i-1], w[i]) for i >= 2 — exactly
            # Spark's (w[i-1], w[i]) at 0-indexed i >= 1.
            "WITH w0 AS (SELECT doc_id, "
            "string_split(lower(text), ' ') AS w FROM documents), "
            "toks AS (SELECT doc_id, i - 1 AS pos, w[i] AS tok, "
            "CASE WHEN i >= 2 AND "
            "('0x' || substr(md5(w[i-1] || '_' || w[i]), 1, 8))::BIGINT "
            "% 16 = 0 THEN 1 ELSE 0 END AS b "
            "FROM w0, unnest(generate_series(1, len(w))) AS t(i) "
            "WHERE len(w) >= 1), "
            "asg AS (SELECT doc_id, pos, tok, "
            "(sum(b) OVER (PARTITION BY doc_id ORDER BY pos))::BIGINT "
            "AS chunk_id FROM toks), "
            "ch AS (SELECT doc_id, chunk_id, count(*)::BIGINT AS "
            "n_tokens, md5(string_agg(tok, ' ' ORDER BY pos)) AS "
            "chunk_hash FROM asg GROUP BY 1, 2), "
            "sh AS (SELECT chunk_hash, count(DISTINCT doc_id)::BIGINT "
            "AS n_docs FROM ch GROUP BY 1) "
            "SELECT c.doc_id, c.chunk_id, c.n_tokens, c.chunk_hash, "
            "s.n_docs FROM ch c JOIN sh s USING (chunk_hash)"
        ),
        "ngram_novelty": (
            "WITH words AS (SELECT doc_id, "
            "string_split(lower(text), ' ') AS w FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "fs AS (SELECT shingle, min(doc_id) AS fd FROM sh "
            "GROUP BY 1) "
            "SELECT s.doc_id, count(*)::BIGINT AS n_shingles, "
            "sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 END)::BIGINT "
            "AS n_novel, "
            "round(sum(CASE WHEN f.fd = s.doc_id THEN 1 ELSE 0 "
            "END)::DOUBLE / count(*)::DOUBLE, 4) AS novelty "
            "FROM sh s JOIN fs f USING (shingle) GROUP BY 1"
        ),
        "cluster_sample": _kmeans_oracle_sql(
            8, 2, k_sql="greatest(8, (count(*) + 255) // 256)", tail=(
                ", r AS (SELECT vec_id, cell, row_number() OVER ("
                "PARTITION BY cell ORDER BY "
                "('0x' || substr(md5(vec_id::VARCHAR), 1, 8))::BIGINT, "
                "vec_id) AS rn FROM af) "
                "SELECT vec_id, cell, rn <= 32 AS kept FROM r"
            )
        ),
        "period_coalesce": (
            "WITH iv AS (SELECT user_id AS k, epoch_us(ts) AS s, "
            "epoch_us(ts) + 1800000000 AS e FROM events), "
            "flagged AS (SELECT k, s, e, "
            "CASE WHEN max(e) OVER wp IS NULL OR s > max(e) OVER wp "
            "THEN 1 ELSE 0 END AS nf FROM iv WINDOW wp AS ("
            "PARTITION BY k ORDER BY s, e "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)), "
            "isl AS (SELECT k, s, e, (sum(nf) OVER (PARTITION BY k "
            "ORDER BY s, e ROWS UNBOUNDED PRECEDING))::BIGINT "
            "AS period_seq FROM flagged) "
            "SELECT k, period_seq, min(s) AS s, max(e) AS e, "
            "count(*)::BIGINT AS n_intervals FROM isl GROUP BY 1, 2"
        ),
        "attribution": (
            "WITH ev AS (SELECT user_id AS k, event_id, "
            "event_type AS t, epoch_us(ts) AS tu FROM events "
            "WHERE event_type IN ('purchase', 'click', 'view')), "
            "flagged AS (SELECT k, event_id, t, tu, "
            "last_value(CASE WHEN t != 'purchase' THEN tu END "
            "IGNORE NULLS) OVER w AS touch_tu, "
            "last_value(CASE WHEN t != 'purchase' THEN event_id END "
            "IGNORE NULLS) OVER w AS touch_event_id, "
            "last_value(CASE WHEN t != 'purchase' THEN t END "
            "IGNORE NULLS) OVER w AS touch_type "
            "FROM ev WINDOW w AS (PARTITION BY k ORDER BY tu, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) "
            "SELECT event_id, k AS user_id, tu AS conv_tu, "
            "touch_event_id, touch_type, tu - touch_tu AS gap_us "
            "FROM flagged WHERE t = 'purchase'"
        ),
        "window_count": (
            "WITH ev AS (SELECT user_id, event_id, value, "
            "epoch_us(ts) AS tu FROM events), "
            "r AS (SELECT user_id, tu, value, "
            "(row_number() OVER (PARTITION BY user_id "
            "ORDER BY tu, event_id) - 1) // 50 AS win_seq FROM ev) "
            "SELECT user_id, win_seq::BIGINT AS win_seq, "
            "count(*)::BIGINT AS n_rows, min(tu) AS start_us, "
            "max(tu) AS end_us, round(sum(value), 2) AS total "
            "FROM r GROUP BY 1, 2"
        ),
        "node_sim": (
            "WITH e0 AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0), "
            "und AS (SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst), "
            "deg AS (SELECT src AS n, count(*)::BIGINT AS d FROM und "
            "GROUP BY 1), "
            "i0 AS (SELECT a1.dst AS u, a2.dst AS w, "
            "count(*)::BIGINT AS inter FROM und a1 "
            "JOIN und a2 ON a2.src = a1.src AND a1.dst < a2.dst "
            "WHERE a1.src IN (SELECT n FROM deg WHERE d <= 64) "
            "GROUP BY 1, 2), "
            "b AS (SELECT u, w, inter FROM i0 "
            "UNION ALL SELECT w, u, inter FROM i0), "
            "s AS (SELECT b.u AS node, b.w AS other, b.inter, "
            "round(b.inter::DOUBLE / (du.d + dw.d - b.inter)::DOUBLE, 6) "
            "AS jac FROM b JOIN deg du ON du.n = b.u "
            "JOIN deg dw ON dw.n = b.w) "
            "SELECT node, other, inter, jac, rank FROM ("
            "SELECT *, (row_number() OVER (PARTITION BY node "
            "ORDER BY jac DESC, other))::BIGINT AS rank FROM s) "
            "WHERE rank <= 5"
        ),
        "assortativity": (
            "WITH e0 AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0), "
            "und AS (SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst), "
            "deg AS (SELECT src AS n, count(*)::BIGINT AS d FROM und "
            "GROUP BY 1), "
            "p AS (SELECT a.d AS du, b.d AS dv FROM und "
            "JOIN deg a ON a.n = und.src JOIN deg b ON b.n = und.dst), "
            "m AS (SELECT count(*)::BIGINT AS m_edges, "
            "sum(du::DECIMAL(38,0) * dv::DECIMAL(38,0)) AS sxy, "
            "sum(du::DECIMAL(38,0)) AS sx, "
            "sum(dv::DECIMAL(38,0)) AS sy, "
            "sum(du::DECIMAL(38,0) * du::DECIMAL(38,0)) AS sxx, "
            "sum(dv::DECIMAL(38,0) * dv::DECIMAL(38,0)) AS syy FROM p) "
            # divide-through-by-m combination, bit-matching the Spark
            # side (per-mean doubles; a DECIMAL m*sxy product caps at
            # precision 38 and overflows to NULL at extreme scale)
            "SELECT m_edges, "
            "round(((sxy::DOUBLE / m_edges) - "
            "(sx::DOUBLE / m_edges) * (sy::DOUBLE / m_edges)) / "
            "nullif(sqrt((sxx::DOUBLE / m_edges) - "
            "(sx::DOUBLE / m_edges) * (sx::DOUBLE / m_edges)) * "
            "sqrt((syy::DOUBLE / m_edges) - "
            "(sy::DOUBLE / m_edges) * (sy::DOUBLE / m_edges)), 0.0), 6) "
            "AS assortativity FROM m"
        ),
        "clustering_coef": (
            # same graph as edge_support; wedges centered on the node,
            # closure via EXISTS against canonical a < b edges.
            "WITH e0 AS (SELECT DISTINCT user_id % 1000 AS src, "
            "event_id % 1000 AS dst FROM events WHERE event_id % 11 = 0), "
            "und AS (SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION SELECT dst, src FROM e0 WHERE src <> dst), "
            "deg AS (SELECT src AS node, count(*) AS degree "
            "FROM und GROUP BY 1), "
            "canon AS (SELECT src AS u, dst AS w FROM und "
            "WHERE src < dst), "
            "tri AS (SELECT a1.src AS node, count(*) AS triangles "
            "FROM und a1 JOIN und a2 "
            "ON a2.src = a1.src AND a1.dst < a2.dst "
            "WHERE EXISTS (SELECT 1 FROM canon c "
            "WHERE c.u = a1.dst AND c.w = a2.dst) "
            "GROUP BY 1) "
            "SELECT d.node, d.degree, "
            "coalesce(t.triangles, 0) AS triangles, "
            "CASE WHEN d.degree >= 2 THEN "
            "round(2.0 * coalesce(t.triangles, 0) / "
            "(d.degree * (d.degree - 1)), 6) ELSE 0.0 END AS cc "
            "FROM deg d LEFT JOIN tri t USING (node)"
        ),
        "kmeans": _kmeans_oracle_sql(8, 2),
        # embed_prune: the same Lloyd CTEs via tail= (af/cf hook) with
        # the density-derived k (semdedup's k_sql form — mirrors
        # similarity.density_cells exactly in integer arithmetic),
        # then cosine-to-own-centroid + per-cell bottom-frac cut.
        "embed_prune": _kmeans_oracle_sql(
            8, 2, k_sql="greatest(8, (count(*) + 255) // 256)", tail=(
            ", sims AS (SELECT a.vec_id, a.cell, "
            "round(list_dot_product(a.v, c.cv) / "
            "(sqrt(list_dot_product(a.v, a.v)) * "
            "sqrt(list_dot_product(c.cv, c.cv))), 4) AS sim_c "
            "FROM af a JOIN cf c USING (cell)), "
            "ranked AS (SELECT s.vec_id, s.cell, s.sim_c, "
            "row_number() OVER (PARTITION BY s.cell "
            "ORDER BY coalesce(s.sim_c, -2.0), s.vec_id) AS rn, "
            "count(*) OVER (PARTITION BY s.cell) AS n FROM sims s) "
            "SELECT vec_id, cell, sim_c, "
            "rn <= CAST(floor(n * 0.25) AS BIGINT) AS pruned "
            "FROM ranked"
        )),
        "graph_cc": (
            # Reachability closure + min via recursive CTE — exact on
            # the sparse instance; the Spark operator converges by
            # frontier, never materializing the closure.
            "WITH RECURSIVE base AS (SELECT user_id % 10000 AS a, "
            "event_id % 10000 AS b FROM events WHERE event_id % 7 = 0), "
            "e AS (SELECT DISTINCT u, v FROM (SELECT a AS u, b AS v "
            "FROM base UNION ALL SELECT b, a FROM base) t), "
            "verts AS (SELECT DISTINCT u FROM e), "
            "r AS (SELECT u AS x, u AS y FROM verts "
            "UNION SELECT r.x, e.v FROM r JOIN e ON r.y = e.u) "
            "SELECT x AS id, min(y) AS component FROM r GROUP BY x"
        ),
        "kcore": _kcore_oracle_sql(12, 8),
        "nb_quality": (
            "WITH m AS (SELECT doc_id, "
            "regexp_split_to_array(trim(lower(text)), '\\s+') AS w, "
            "length(text) - length(replace(text, '#', '')) AS n_hash, "
            "(length(text) - length(replace(text, '...', ''))) / 3 "
            "AS n_ellipsis, "
            "len(list_filter(string_split(lower(text), ' '), "
            "x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'on', "
            "'for')))::BIGINT AS n_stop FROM documents), "
            "s AS (SELECT doc_id, len(w)::BIGINT AS n_words, "
            "round(list_sum(list_transform(w, x -> length(x))) "
            "/ greatest(len(w), 1), 4) AS mean_word_len, "
            "round((n_hash + n_ellipsis) / greatest(len(w), 1), 4) "
            "AS symbol_ratio, "
            "round(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) "
            "/ greatest(len(w), 1), 4) AS alpha_frac, n_stop FROM m), "
            "lab AS (SELECT doc_id, ((n_words >= 40 AND n_words <= 100000) "
            "AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0) "
            "AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 "
            "AND n_stop >= 2) AS label FROM s), "
            "toks AS (SELECT d.doc_id, lab.label, "
            "unnest(regexp_split_to_array(trim(lower(d.text)), '\\s+')) "
            "AS term FROM documents d JOIN lab USING (doc_id)), "
            "cls AS (SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) "
            "AS d_pass, sum(CASE WHEN label THEN 0 ELSE 1 END) AS d_fail "
            "FROM lab), "
            "tot AS (SELECT sum(CASE WHEN label THEN 1 ELSE 0 END) "
            "AS n_pass, sum(CASE WHEN label THEN 0 ELSE 1 END) AS n_fail, "
            "count(DISTINCT term) AS v FROM toks), "
            "model AS (SELECT term, CAST(round("
            "ln((cp + 0.5) / (n_pass + 0.5 * v)) "
            "- ln((cf + 0.5) / (n_fail + 0.5 * v)), 9) AS DECIMAL(24,9)) "
            "AS w FROM (SELECT term, "
            "sum(CASE WHEN label THEN 1 ELSE 0 END) AS cp, "
            "sum(CASE WHEN label THEN 0 ELSE 1 END) AS cf "
            "FROM toks GROUP BY 1), tot) "
            "SELECT toks.doc_id, count(*)::BIGINT AS n_tokens, toks.label, "
            "round(CAST(sum(model.w) AS DOUBLE) + "
            "(SELECT round(ln((d_pass + 0.5) / (d_fail + 0.5)), 9) "
            "FROM cls), 6) AS score "
            "FROM toks JOIN model USING (term) GROUP BY 1, 3"
        ),
        "dup_spans": (
            "WITH t AS (SELECT doc_id, "
            "regexp_split_to_array(trim(lower(text)), '\\s+') AS w "
            "FROM documents), "
            "t2 AS (SELECT doc_id, w FROM t WHERE len(w) >= 5), "
            "g AS (SELECT doc_id, i, "
            "md5(array_to_string(list_slice(w, i + 1, i + 5), ' ')) AS h "
            "FROM t2, unnest(generate_series(0, len(w) - 5)) AS s(i)), "
            "hot AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS d "
            "FROM g GROUP BY 1) WHERE d >= 2), "
            "m AS (SELECT doc_id, i FROM g JOIN hot USING (h)), "
            "r AS (SELECT doc_id, i, CASE WHEN i - lag(i) OVER "
            "(PARTITION BY doc_id ORDER BY i) <= 4 THEN 0 ELSE 1 END AS brk "
            "FROM m), "
            "s AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id "
            "ORDER BY i ROWS UNBOUNDED PRECEDING) AS run FROM r) "
            "SELECT doc_id, min(i)::BIGINT AS start, "
            "(max(i) + 4)::BIGINT AS \"end\", count(*)::BIGINT AS n_windows, "
            "(max(i) + 5 - min(i))::BIGINT AS n_tokens "
            "FROM s GROUP BY doc_id, run"
        ),
        "lm_buckets": (
            "WITH toks AS (SELECT doc_id, i AS pos, w[i] AS w FROM ("
            "SELECT doc_id, regexp_split_to_array(trim(lower(text)), "
            "'\\s+') AS w FROM documents), "
            "unnest(generate_series(1, len(w))) AS t(i)), "
            "bg AS (SELECT a.doc_id, a.w AS w, b.w AS w2 FROM toks a "
            "JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1), "
            "c2 AS (SELECT w, w2, count(*) AS c2 FROM bg GROUP BY 1, 2), "
            "c1 AS (SELECT w, count(*) AS c1 FROM toks GROUP BY 1), "
            "v AS (SELECT count(DISTINCT w) AS v FROM toks), "
            "m AS (SELECT c2.w, c2.w2, CAST(round("
            "ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v)), 9) "
            "AS DECIMAL(24,9)) AS logp "
            "FROM c2 JOIN c1 USING (w) CROSS JOIN v), "
            "sc AS (SELECT bg.doc_id, "
            "round(CAST(sum(m.logp) AS DOUBLE) / count(*), 6) AS avg_logp "
            "FROM bg JOIN m ON bg.w = m.w AND bg.w2 = m.w2 GROUP BY 1), "
            "n AS (SELECT count(*) AS n FROM sc), "
            "t1 AS (SELECT avg_logp AS l, doc_id AS d FROM sc "
            "QUALIFY row_number() OVER (ORDER BY avg_logp DESC, "
            "doc_id DESC) = (SELECT n // 3 FROM n)), "
            "t2 AS (SELECT avg_logp AS l, doc_id AS d FROM sc "
            "QUALIFY row_number() OVER (ORDER BY avg_logp DESC, "
            "doc_id DESC) = (SELECT (2 * n) // 3 FROM n)) "
            "SELECT sc.doc_id, sc.avg_logp, CAST(1 "
            "+ (CASE WHEN (sc.avg_logp, sc.doc_id) < (t1.l, t1.d) "
            "THEN 1 ELSE 0 END) "
            "+ (CASE WHEN (sc.avg_logp, sc.doc_id) < (t2.l, t2.d) "
            "THEN 1 ELSE 0 END) AS INT) AS bucket "
            "FROM sc, t1, t2"
        ),
        "chunk_docs": (
            "WITH t AS (SELECT doc_id, "
            "regexp_split_to_array(trim(lower(text)), '\\s+') AS tk "
            "FROM documents WHERE length(trim(text)) > 0), "
            "c AS (SELECT doc_id, i, list_slice(tk, i + 1, i + 32) AS ch "
            "FROM t, unnest(generate_series(0, len(tk) - 1, 24)) AS g(i)) "
            "SELECT doc_id, (i // 24)::BIGINT AS chunk_id, "
            "i::BIGINT AS start, len(ch)::INT AS n_tokens, "
            "md5(array_to_string(ch, ' ')) AS h FROM c"
        ),
        "rrf_fusion": (
            "WITH toks AS (SELECT doc_id, "
            "unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) "
            "AS term FROM documents), "
            "dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks "
            "GROUP BY 1), "
            "st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl), "
            "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks "
            "WHERE term IN ('spark', 'query', 'window', 'vector') "
            "GROUP BY 1, 2), "
            "df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
            "p AS (SELECT tf.doc_id, CAST(round("
            "ln(1 + (st.n_docs - df.df + 0.5) / (df.df + 0.5)) "
            "* (tf.tf * 2.2) "
            "/ (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / st.avgdl)), 6) "
            "AS DECIMAL(18,6)) AS part "
            "FROM tf JOIN df USING (term) JOIN dl USING (doc_id) "
            "CROSS JOIN st), "
            "s AS (SELECT doc_id, CAST(sum(part) AS DOUBLE) AS score "
            "FROM p GROUP BY 1), "
            "bm AS (SELECT doc_id, (ROW_NUMBER() OVER "
            "(ORDER BY score DESC, doc_id))::BIGINT AS rk_bm FROM s "
            "QUALIFY rk_bm <= 50), "
            "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "q AS (SELECT vec_id AS q, v AS qv FROM e WHERE vec_id = 0), "
            "sc AS (SELECT e.vec_id AS doc_id, "
            "round(list_dot_product(q.qv, e.v) / "
            "(sqrt(list_dot_product(q.qv, q.qv)) * "
            "sqrt(list_dot_product(e.v, e.v))), 4) AS sim "
            "FROM e CROSS JOIN q WHERE e.vec_id != q.q), "
            "co AS (SELECT doc_id, (ROW_NUMBER() OVER "
            "(ORDER BY sim DESC, doc_id))::BIGINT AS rk_cos FROM sc "
            "QUALIFY rk_cos <= 50), "
            "f AS (SELECT doc_id, "
            "round(coalesce(CAST(1 AS DOUBLE) / (60 + rk_bm), 0) + "
            "coalesce(CAST(1 AS DOUBLE) / (60 + rk_cos), 0), 9) AS rrf, "
            "rk_bm, rk_cos "
            "FROM bm FULL OUTER JOIN co USING (doc_id)), "
            "r AS (SELECT *, (ROW_NUMBER() OVER "
            "(ORDER BY rrf DESC, doc_id))::BIGINT AS rk FROM f) "
            "SELECT doc_id, rrf, rk_bm, rk_cos, rk FROM r WHERE rk <= 10"
        ),
        "dsir_weights": (
            # Same hashed-bigram featurization, bucket models, and
            # add-alpha log ratios as curation.dsir_weights; target =
            # the 'en' slice of the same corpus.
            "WITH words AS (SELECT doc_id, lang, "
            "string_split(lower(text), ' ') AS w FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, lang, "
            "unnest([w[i] || '_' || w[i+1] for i in range(1, len(w))]) "
            "AS shingle FROM words WHERE len(w) >= 2), "
            "feats AS (SELECT doc_id, lang, "
            "(('0x' || substr(md5('dsir_' || shingle), 1, 8))::BIGINT) "
            "% 1024 AS bucket FROM sh), "
            "raw_b AS (SELECT bucket, count(*) AS cr FROM feats "
            "GROUP BY 1), "
            "tgt_b AS (SELECT bucket, count(*) AS ct FROM feats "
            "WHERE lang = 'en' GROUP BY 1), "
            "model AS (SELECT coalesce(r.bucket, t.bucket) AS bucket, "
            "CAST(round(ln((coalesce(t.ct, 0) + 0.5) / "
            "((SELECT sum(ct) FROM tgt_b) + 0.5 * 1024)) "
            "- ln((coalesce(r.cr, 0) + 0.5) / "
            "((SELECT sum(cr) FROM raw_b) + 0.5 * 1024)), 9) "
            "AS DECIMAL(24,9)) AS logratio "
            "FROM raw_b r FULL OUTER JOIN tgt_b t ON r.bucket = t.bucket) "
            "SELECT f.doc_id, count(*)::BIGINT AS n_feats, "
            "round(CAST(sum(m.logratio) AS DOUBLE), 6) AS dsir_logw "
            "FROM feats f JOIN model m ON f.bucket = m.bucket GROUP BY 1"
        ),
        "bloom_contam": (
            # Adaptively-sized (16 bits per eval n-gram, floor 64)
            # 3-hash Bloom filter over the eval set's 3-grams; a
            # corpus n-gram is flagged when all three of its bits are
            # set (one-sided error, superset of the exact
            # `contamination` hits). The m scalar comes from the same
            # count in both engines — a fixed m would saturate as
            # benchmarks accumulate.
            "WITH words AS (SELECT doc_id, "
            "string_split(lower(text), ' ') AS w FROM documents), "
            "sh AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] || '_' || w[i+2] "
            "for i in range(1, len(w) - 1)]) AS shingle "
            "FROM words WHERE len(w) >= 3), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0), "
            "mm AS (SELECT greatest(64, 16 * count(*))::BIGINT AS m "
            "FROM ev), "
            "set_bits AS (SELECT DISTINCT unnest(["
            "(('0x' || substr(md5('bloom0_' || shingle), 1, 8))::BIGINT) "
            "% mm.m, "
            "(('0x' || substr(md5('bloom1_' || shingle), 1, 8))::BIGINT) "
            "% mm.m, "
            "(('0x' || substr(md5('bloom2_' || shingle), 1, 8))::BIGINT) "
            "% mm.m]) AS bit FROM ev, mm), "
            "probes AS (SELECT doc_id, md5(shingle) AS h, unnest(["
            "(('0x' || substr(md5('bloom0_' || shingle), 1, 8))::BIGINT) "
            "% mm.m, "
            "(('0x' || substr(md5('bloom1_' || shingle), 1, 8))::BIGINT) "
            "% mm.m, "
            "(('0x' || substr(md5('bloom2_' || shingle), 1, 8))::BIGINT) "
            "% mm.m]) AS bit FROM sh, mm), "
            "hits AS (SELECT doc_id, h, "
            "sum(CASE WHEN s.bit IS NOT NULL THEN 1 ELSE 0 END) AS nh "
            "FROM probes p LEFT JOIN set_bits s ON p.bit = s.bit "
            "GROUP BY 1, 2) "
            "SELECT doc_id, count(*)::BIGINT AS n_ngrams, "
            "sum(CASE WHEN nh >= 3 THEN 1 ELSE 0 END)::BIGINT "
            "AS n_flagged, "
            "round(sum(CASE WHEN nh >= 3 THEN 1 ELSE 0 END) "
            "/ count(*), 4) AS flag_frac FROM hits GROUP BY 1"
        ),
        "weighted_sample": (
            # Efraimidis-Spirakis A-Res keys from the same md5-uint32
            # u as sampling.weighted_sample.
            "SELECT doc_id, CAST(n_chars AS DOUBLE) AS w, "
            "round(ln(((('0x' || substr(md5('wsample_' || "
            "CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) + 1) "
            "/ 4294967296.0) / n_chars, 12) AS sample_key "
            "FROM documents WHERE n_chars > 0 "
            "ORDER BY sample_key DESC, doc_id LIMIT 100"
        ),
        "interval_join": (
            # Plain range-predicate formulation — the bucketized
            # equi-join must produce the identical match set.
            "SELECT c.event_id AS click_id, p.event_id AS purchase_id, "
            "c.user_id AS user_id "
            "FROM events c JOIN events p ON c.user_id = p.user_id "
            "WHERE c.event_type = 'click' AND p.event_type = 'purchase' "
            "AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 4 HOUR"
        ),
        "rolling_stats": (
            "SELECT event_id, user_id, "
            "(count(*) OVER w)::BIGINT AS n_win, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w "
            "AS DOUBLE) / (count(*) OVER w), 6) AS avg_win, "
            "CAST(max(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) "
            "AS max_win FROM events "
            "WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) "
            "RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"
        ),
        "anomalies": (
            # Same DECIMAL moments + IEEE z arithmetic; var clamps at
            # 0 (exact cancellation can land a hair negative).
            "WITH w AS (SELECT event_id, user_id, "
            "CAST(value AS DOUBLE) AS value, "
            "count(*) OVER win AS n, "
            "CAST(sum(CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) "
            "AS s, "
            "CAST(sum(CAST(value AS DECIMAL(18,6)) * "
            "CAST(value AS DECIMAL(18,6))) OVER win AS DOUBLE) AS ss "
            "FROM events WINDOW win AS (PARTITION BY user_id "
            "ORDER BY epoch_us(ts) "
            "RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)), "
            "z AS (SELECT event_id, user_id, value, "
            "round((value - s/n) / "
            "nullif(sqrt(greatest(ss/n - (s/n)*(s/n), 0.0)), 0.0), 6) AS z "
            "FROM w WHERE n >= 8) "
            "SELECT event_id, user_id, value, z FROM z WHERE abs(z) > 2.0"
        ),
        "resample_locf": (
            # Same validity-interval formulation: dedup equal
            # timestamps (highest event_id wins), lead() bounds each
            # observation's [ts, next_ts) interval, generate_series
            # emits exactly the covered hourly ticks.
            "WITH obs AS (SELECT user_id, epoch_us(ts) AS us, "
            "max_by(value, event_id) AS v FROM events "
            "GROUP BY user_id, epoch_us(ts)), "
            "nxt AS (SELECT user_id, us, v, "
            "lead(us) OVER (PARTITION BY user_id ORDER BY us) AS next_us "
            "FROM obs), "
            "ticks AS (SELECT user_id, v, "
            "unnest(generate_series((us + 3599999999) // 3600000000, "
            "CASE WHEN next_us IS NULL THEN us // 3600000000 "
            "ELSE (next_us + 3599999999) // 3600000000 - 1 END)) AS tick "
            "FROM nxt) "
            "SELECT user_id, tick * 3600000000 AS grid_us, "
            "CAST(v AS DOUBLE) AS value FROM ticks"
        ),
        "asof_join": (
            # Same union + partitioned-window formulation as the
            # operator (a portable ASOF: last non-null quote carried
            # forward over (time, tag, id) order).
            "WITH u AS (SELECT user_id, ts, event_id AS pid, "
            "NULL::BIGINT AS qid, NULL::DOUBLE AS qv, 1 AS tag "
            "FROM events WHERE event_type = 'click' "
            "UNION ALL "
            "SELECT user_id, ts, NULL::BIGINT, event_id, value, 0 "
            "FROM events WHERE event_type = 'purchase'), "
            "w AS (SELECT user_id, pid, tag, "
            "last_value(qid IGNORE NULLS) OVER win AS asof_quote_id, "
            "last_value(qv IGNORE NULLS) OVER win AS asof_value "
            "FROM u WINDOW win AS (PARTITION BY user_id "
            "ORDER BY epoch_us(ts), tag, coalesce(qid, pid) "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
            "SELECT pid AS event_id, user_id, asof_quote_id, asof_value "
            "FROM w WHERE tag = 1"
        ),
        "sessionize": (
            # Same gaps-and-islands labeling: new session when the gap
            # to the key's previous event strictly exceeds 30 min.
            "WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS tu "
            "FROM events), "
            "flagged AS (SELECT user_id, event_id, tu, "
            "CASE WHEN lag(tu) OVER w IS NULL "
            "OR tu - lag(tu) OVER w > 1800000000 THEN 1 ELSE 0 END AS nf "
            "FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)), "
            "sess AS (SELECT user_id, tu, "
            "CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY tu, event_id "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq "
            "FROM flagged) "
            "SELECT user_id, session_seq, count(*) AS n_events, "
            "min(tu) AS start_us, max(tu) AS end_us, "
            "(max(tu) - min(tu)) / 1000000.0 AS duration_s "
            "FROM sess GROUP BY user_id, session_seq"
        ),
        "funnel": (
            # Chained earliest-completion CTEs with strict ts ordering.
            "WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 "
            "FROM events WHERE event_type = 'view' GROUP BY user_id), "
            "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 "
            "FROM events e JOIN s1 ON e.user_id = s1.user_id "
            "AND epoch_us(e.ts) > s1.t1 "
            "WHERE e.event_type = 'click' GROUP BY e.user_id), "
            "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 "
            "FROM events e JOIN s2 ON e.user_id = s2.user_id "
            "AND epoch_us(e.ts) > s2.t2 "
            "WHERE e.event_type = 'purchase' GROUP BY e.user_id) "
            "SELECT s1.user_id, CAST(1 "
            "+ CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END "
            "+ CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) "
            "AS depth, s1.t1, s2.t2, s3.t3 "
            "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id "
            "LEFT JOIN s3 ON s1.user_id = s3.user_id"
        ),
        "retention": (
            "WITH a AS (SELECT DISTINCT user_id, "
            "epoch_us(ts) // 86400000000 AS bucket FROM events), "
            "f AS (SELECT user_id, min(bucket) AS cohort "
            "FROM a GROUP BY user_id) "
            "SELECT f.cohort, a.bucket - f.cohort AS offset, "
            "count(*) AS n_users "
            "FROM a JOIN f ON a.user_id = f.user_id "
            "GROUP BY f.cohort, a.bucket - f.cohort"
        ),
        # --- maintained-twin churn keys (r12): the batch operator
        # over the SURVIVING rows of streaming/churn.py's fixed
        # correction script — what the maintainer's final current()
        # must equal by the touched-key recompute discipline ---
        "incremental_asof_churn": (
            "WITH f AS (SELECT user_id, "
            "epoch_us(ts) // 86400000000 AS ev_t, "
            "event_id AS sys_t, value AS v, "
            "(event_id % 31 = 0) AS retr FROM events "
            f"WHERE {_churn_surviving_sql()}), "
            "r AS (SELECT user_id, ev_t, sys_t, v, retr, "
            "row_number() OVER (PARTITION BY user_id, ev_t "
            "ORDER BY sys_t DESC) AS rn FROM f) "
            "SELECT user_id, ev_t, sys_t, v FROM r "
            "WHERE rn = 1 AND NOT retr"
        ),
        "incremental_sessionize_churn": (
            "WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS tu "
            f"FROM events WHERE {_churn_surviving_sql()}), "
            "flagged AS (SELECT user_id, event_id, tu, "
            "CASE WHEN lag(tu) OVER w IS NULL "
            "OR tu - lag(tu) OVER w > 1800000000 THEN 1 ELSE 0 END AS nf "
            "FROM t WINDOW w AS (PARTITION BY user_id ORDER BY tu, event_id)), "
            "sess AS (SELECT user_id, tu, "
            "CAST(sum(nf) OVER (PARTITION BY user_id ORDER BY tu, event_id "
            "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq "
            "FROM flagged) "
            "SELECT user_id, session_seq, count(*) AS n_events, "
            "min(tu) AS start_us, max(tu) AS end_us, "
            "(max(tu) - min(tu)) / 1000000.0 AS duration_s "
            "FROM sess GROUP BY user_id, session_seq"
        ),
        "incremental_funnel_churn": (
            "WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 "
            "FROM events WHERE event_type = 'view' "
            f"AND {_churn_surviving_sql()} GROUP BY user_id), "
            "s2 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t2 "
            "FROM events e JOIN s1 ON e.user_id = s1.user_id "
            "AND epoch_us(e.ts) > s1.t1 "
            "WHERE e.event_type = 'click' "
            f"AND {_churn_surviving_sql('e.event_id', 'e.user_id')} "
            "GROUP BY e.user_id), "
            "s3 AS (SELECT e.user_id, min(epoch_us(e.ts)) AS t3 "
            "FROM events e JOIN s2 ON e.user_id = s2.user_id "
            "AND epoch_us(e.ts) > s2.t2 "
            "WHERE e.event_type = 'purchase' "
            f"AND {_churn_surviving_sql('e.event_id', 'e.user_id')} "
            "GROUP BY e.user_id) "
            "SELECT s1.user_id, CAST(1 "
            "+ CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END "
            "+ CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) "
            "AS depth, s1.t1, s2.t2, s3.t3 "
            "FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id "
            "LEFT JOIN s3 ON s1.user_id = s3.user_id"
        ),
        "zorder_key": _zorder_oracle_sql(8),
        "hash_embed": _hash_embed_oracle_sql(16),
        "quality_calibrate": (
            "WITH q AS (SELECT doc_id, "
            f"round(len(list_filter(string_split(lower(text), ' '), w -> w IN {_SQL_STOP})) "
            "  / greatest(len(string_split(lower(text), ' ')), 1) * 0.5 "
            "  + least(length(text) / 500.0, 1.0) * 0.3 "
            "  + (1.0 - (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) "
            "      / greatest(length(text), 1)) * 0.2, 4) AS quality "
            "FROM documents), "
            "j AS (SELECT d.doc_id, d.lang AS grp, "
            "CAST(q.quality AS DOUBLE) AS score "
            "FROM documents d JOIN q USING (doc_id)) "
            "SELECT doc_id, grp, score, "
            "round(percent_rank() OVER (PARTITION BY grp ORDER BY score), 6) "
            "AS pct FROM j"
        ),
        "json_props": (
            "SELECT CAST(props->>'$.k' AS BIGINT) AS k, "
            "count(*) AS n, "
            "round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) "
            "/ count(*), 6) AS avg_value "
            "FROM events GROUP BY 1"
        ),
        "winsorize": (
            # Same nearest-rank bounds in exact integer arithmetic:
            # the value at row ceil(pct*n/100) of (value, id) order.
            "WITH ranked AS (SELECT doc_id, lang AS grp, "
            "CAST(n_chars AS DOUBLE) AS v, "
            "row_number() OVER (PARTITION BY lang "
            "ORDER BY CAST(n_chars AS DOUBLE), doc_id) AS r, "
            "count(*) OVER (PARTITION BY lang) AS n FROM documents), "
            "bounds AS (SELECT grp, "
            "max(CASE WHEN r = greatest(1, (5*n+99)//100) THEN v END) AS lo, "
            "max(CASE WHEN r = greatest(1, (95*n+99)//100) THEN v END) AS hi "
            "FROM ranked GROUP BY grp) "
            "SELECT doc_id, ranked.grp AS grp, v AS value, "
            "least(greatest(v, lo), hi) AS w_value "
            "FROM ranked JOIN bounds ON ranked.grp = bounds.grp"
        ),
        "semdedup": (
            "WITH asg AS (SELECT * FROM ("
            + _kmeans_oracle_sql(
                iters=2, k_sql="greatest(8, (count(*) + 255) // 256)"
            )
            + ") _k), "
            "ee AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v "
            "FROM embeddings), "
            "bb AS (SELECT asg.vec_id AS id, asg.cell, ee.v, "
            "sqrt(list_dot_product(ee.v, ee.v)) AS nrm "
            "FROM asg JOIN ee ON asg.vec_id = ee.vec_id), "
            "p AS (SELECT l.id AS a, r.id AS b, "
            "round(list_dot_product(l.v, r.v) / (l.nrm * r.nrm), 4) AS cos "
            "FROM bb l JOIN bb r ON l.cell = r.cell AND l.id < r.id) "
            "SELECT a, b, cos FROM p WHERE cos >= 0.3"
        ),
        "blocklist": (
            "WITH words AS (SELECT doc_id, string_split(lower(text), ' ') "
            "AS w FROM documents), "
            "s1 AS (SELECT DISTINCT doc_id, unnest(w) AS shingle "
            "FROM words WHERE len(w) >= 1), "
            "s2 AS (SELECT DISTINCT doc_id, "
            "unnest([w[i] || '_' || w[i+1] for i in range(1, len(w))]) "
            "AS shingle FROM words WHERE len(w) >= 2), "
            "hits AS (SELECT doc_id FROM s1 "
            "WHERE shingle IN ('slow', 'spill', 'skew') "
            "UNION ALL SELECT doc_id FROM s2 WHERE shingle = 'slow_scan'), "
            "c AS (SELECT doc_id, count(*)::BIGINT AS n_blocked "
            "FROM hits GROUP BY 1) "
            "SELECT d.doc_id, coalesce(c.n_blocked, 0)::BIGINT AS n_blocked, "
            "coalesce(c.n_blocked, 0) > 0 AS blocked "
            "FROM documents d LEFT JOIN c USING (doc_id)"
        ),
        "char_entropy": (
            # Same sorted-alphabet left fold as text.char_entropy
            # (list_reduce is the in-order fold; 0.0 - fold avoids a
            # -0.0 for one-symbol alphabets).
            "WITH d AS (SELECT doc_id, "
            "regexp_extract_all(text, '(?s).') AS cs FROM documents), "
            "a AS (SELECT doc_id, cs, len(cs) AS n, "
            "list_sort(list_distinct(cs)) AS alpha FROM d) "
            "SELECT doc_id, CAST(n AS BIGINT) AS n_chars, "
            "CAST(len(alpha) AS BIGINT) AS n_distinct, "
            "CASE WHEN n = 0 THEN 0.0 ELSE "
            "round(0.0 - list_reduce(list_transform(alpha, c -> "
            "(len(list_filter(cs, x -> x = c)) / CAST(n AS DOUBLE)) "
            "* ln(len(list_filter(cs, x -> x = c)) / CAST(n AS DOUBLE))), "
            "(acc, p) -> acc + p), 6) END AS entropy FROM a"
        ),
        "tok_fertility": (
            "WITH d AS (SELECT lang AS grp, "
            "CASE WHEN len(trim(text)) = 0 THEN 0 ELSE "
            "len(string_split_regex(trim(text), '\\s+')) END AS nw, "
            "len(regexp_extract_all(lower(text), "
            "'[a-z]+|[0-9]|[^a-z0-9 ]')) AS ns, "
            "strlen(text) AS nb FROM documents) "
            "SELECT grp, count(*)::BIGINT AS n_docs, "
            "sum(nw)::BIGINT AS n_words, sum(ns)::BIGINT AS n_subwords, "
            "sum(nb)::BIGINT AS n_bytes, "
            "round(sum(ns) / sum(nw), 4) AS fertility, "
            "round(sum(nb) / sum(ns), 4) AS bytes_per_token "
            "FROM d GROUP BY 1"
        ),
    }
