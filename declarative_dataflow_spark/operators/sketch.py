"""Mergeable sketch operators: HyperLogLog distinct counting and
Count-Min-Sketch heavy hitters over the document corpus.

Beyond-reference extensions (BASELINE.json north star): at 100 TB the
questions "how many distinct tokens does this corpus have" and "what
are its heaviest terms" cannot afford an exact global distinct — the
state must be CONSTANT-SIZE and mergeable across epochs, executors,
and corpus shards. These are the two canonical sketches (Flajolet et
al. 2007; Cormode & Muthukrishnan 2005) expressed as pure DataFrame
algebra:

- ``hll_distinct``: m = 2^p registers; each register is a MAX, so the
  Spark plan is one scan -> map-only (bucket, rho) projection -> a
  groupBy on the uniform bucket key with map-side partial max -> an
  m-row final aggregate. Register tables from different shards merge
  by pairwise max (see ``streaming.corpus_stats.IncrementalHLL``).
- ``cms_topk``: a d x w counter grid built with one uniform-key
  aggregation (map-side combine); estimation joins each candidate
  term's d cells against the <= d*w-row sketch (broadcast), takes the
  min, and ranks with orderBy+limit (TakeOrderedAndProject — never a
  single-partition global sort).

Determinism / oracle parity: every hash is the md5-uint32 used across
this repo (``('0x' || substr(md5(x),1,8))::BIGINT`` in DuckDB,
``conv(substring(md5(x),1,8),16,10)`` in Spark), bit-length comes from
an integer CASE ladder (no floating log2 at register build time), and
the HLL estimator's 2^-rho terms are exact powers of two whose sum
spans < 53 bits of magnitude — so the register sum is EXACT and
order-independent, and the only inexact steps (one ln, one divide)
run on identical doubles in both engines and round to 6 decimals.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..scratch import materialize

# ---------------------------------------------------------------------------
# Shared md5-uint32 hash (engine-portable; see operators.dedup)
# ---------------------------------------------------------------------------

HLL_P = 8  # 2^8 = 256 registers (~6.5% standard error)
HLL_M = 1 << HLL_P
# Flajolet's bias-corrected alpha for m >= 128.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)
# Bits of the 32-bit hash left after the bucket index is peeled off.
HLL_VBITS = 32 - HLL_P

CMS_DEPTH = 4
CMS_WIDTH = 512


def _bitlen_case_sql(col: str, bits: int) -> str:
    """Integer bit-length of ``col`` (0 for 0) as a CASE ladder —
    identical SQL text in Spark and DuckDB, no floating log2 (whose
    last-ulp rounding near exact integers is engine-dependent)."""

    branches = " ".join(
        f"WHEN {col} >= {1 << (b - 1)} THEN {b}"
        for b in range(bits, 0, -1)
    )
    return f"(CASE {branches} ELSE 0 END)"


_SPARK_H32 = "CAST(conv(substring(md5({t}), 1, 8), 16, 10) AS BIGINT)"


def _tokens(docs: DataFrame, text_col: str) -> DataFrame:
    from declarative_dataflow_spark.operators.dedup import spread_input

    return spread_input(docs).select(
        F.explode(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
        ).alias("term")
    )


def _registers_from_terms(terms: DataFrame) -> DataFrame:
    """(bucket, r) register table from a ``term`` column — the shared
    body of :func:`hll_registers`; max over rho is idempotent, so the
    input may be the raw token stream or its distinct-term set."""

    h32 = _SPARK_H32.format(t="term")
    # Spark has no integer-div `//`; build the exprs directly.
    bucket = F.expr(f"{h32} % {HLL_M}")
    rho = F.lit(HLL_VBITS + 1) - F.expr(
        _bitlen_case_sql(f"CAST({h32} / {HLL_M} AS BIGINT)", HLL_VBITS)
    )
    return (
        terms.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_registers(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The m-register HLL table (bucket, r) for the corpus's token
    multiset — constant-size, mergeable by max. Only occupied buckets
    appear (absent bucket == register 0)."""

    return _registers_from_terms(_tokens(docs, text_col))


def hll_estimate_from_registers(registers: DataFrame) -> DataFrame:
    """One-row (m, used, est) from a register table: the standard
    raw estimator alpha*m^2 / sum(2^-r) with linear-counting
    small-range correction (raw <= 2.5m and empty registers exist)."""

    agg = registers.agg(
        F.count(F.lit(1)).alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("r"))).alias("s_used"),
    )
    zeros = F.lit(HLL_M) - F.col("used")
    total = F.col("s_used") + zeros.cast("double")
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / total
    est = F.when(
        (raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros),
    ).otherwise(raw)
    return agg.select(
        F.lit(HLL_M).cast("long").alias("m"),
        F.col("used").cast("long").alias("used"),
        F.round(est, 6).alias("est"),
    )


def hll_distinct(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One row (m, used, est, exact, err_pct): the HLL estimate of the
    corpus's distinct-token count next to the exact count (the exact
    side exists for the gate/bench — a 100 TB caller runs only the
    sketch).

    Scale shape: the sketch side never materializes the vocabulary —
    per-partition partial maxes reduce into <= m rows. The exact side
    (countDistinct) is the expensive baseline being avoided.

    r12 (guide §2.4): ONE corpus token pass. The r7 form ran the
    register aggregate and the exact countDistinct as separate corpus
    explodes; max over rho is idempotent, so the registers computed
    from the DISTINCT term set are identical to registers over the
    raw stream — the distinct-term table materializes once
    (vocabulary-scale; the duplicated upstream is a corpus explode +
    distinct shuffle, passing the batch-12 boundary criterion) and
    both sides derive from it. hll_registers itself is unchanged —
    the streaming maintainer folds raw tokens.
    """

    terms = materialize(_tokens(docs, text_col).distinct(), eager=False)
    sk = hll_estimate_from_registers(_registers_from_terms(terms))
    exact = terms.agg(F.count(F.lit(1)).alias("exact"))
    return sk.crossJoin(F.broadcast(exact)).select(
        "m",
        "used",
        "est",
        "exact",
        F.round(
            (F.col("est") - F.col("exact")) / F.col("exact") * 100.0, 6
        ).alias("err_pct"),
    )


# ---------------------------------------------------------------------------
# Count-Min Sketch heavy hitters
# ---------------------------------------------------------------------------


def cms_sketch(
    docs: DataFrame,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_col: str = "text",
) -> DataFrame:
    """The d x w counter grid (j, c, cnt) for the corpus token
    multiset — one uniform-key aggregation over <= d*w cells, counts
    mergeable by sum across shards/epochs."""

    toks = _tokens(docs, text_col)
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(
                    _SPARK_H32.format(t=f"concat('{j}_', term)")
                    + f" % {width}"
                ).alias("c"),
            )
            for j in range(depth)
        ]
    )
    return (
        toks.select(F.explode(cells).alias("cell"))
        .select("cell.j", "cell.c")
        .groupBy("j", "c")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_topk(
    docs: DataFrame,
    k: int = 20,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    text_col: str = "text",
) -> DataFrame:
    """Top-k heavy-hitter terms by Count-Min estimate, with the exact
    count alongside (est >= exact always; the overestimate is the
    collision mass). Returns (term, est, exact, rk); ties break by
    term so the ranking is total and engine-portable.

    Scale shape: the sketch is <= d*w rows and BROADCASTS to the
    candidate side; candidates are the distinct-term table with its d
    cell keys exploded map-side, so estimation is one broadcast-hash
    join + a min-groupBy on the uniform term key. The final rank is
    orderBy+limit (TakeOrderedAndProject). Pure integer arithmetic —
    no float parity risk.

    r12 (guide §2.4): ONE corpus token pass. The operator reports est
    AND exact, and the r7 form ran cms_sketch's token explode AND the
    exact-count explode as separate corpus passes. But the sketch is
    DERIVABLE from the exact table: a cell's token count is the sum of
    the exact counts of the terms hashing into it (same _SPARK_H32
    cell keys) — so the per-term table materializes once (lazy
    localCheckpoint, vocabulary-scale state; the duplicated upstream
    is a corpus explode + shuffle, which passes the batch-12
    boundary criterion) and the sketch becomes a <= d*w-row
    re-aggregation of it. cms_sketch itself is unchanged — the
    streaming maintainer still builds the grid directly.
    """

    from pyspark.sql import Window

    exact = (
        _tokens(docs, text_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact"))
        .transform(materialize, eager=False)
    )
    cells = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                F.expr(
                    _SPARK_H32.format(t=f"concat('{j}_', term)")
                    + f" % {width}"
                ).alias("c"),
            )
            for j in range(depth)
        ]
    )
    # cnt(j, c) = sum over terms in the cell of their exact counts ==
    # cms_sketch's per-token count of the cell (same hash, same grid).
    sketch = (
        exact.select("exact", F.explode(cells).alias("cell"))
        .select("exact", "cell.j", "cell.c")
        .groupBy("j", "c")
        .agg(F.sum("exact").alias("cnt"))
    )
    est = (
        exact.select("term", "exact", F.explode(cells).alias("cell"))
        .select("term", "exact", "cell.j", "cell.c")
        .join(F.broadcast(sketch), ["j", "c"])
        .groupBy("term", "exact")
        .agg(F.min("cnt").alias("est"))
    )
    top = est.orderBy(F.col("est").desc(), "term").limit(k)
    w = Window.orderBy(F.col("est").desc(), "term")
    return top.select(
        "term",
        "est",
        "exact",
        F.row_number().over(w).cast("long").alias("rk"),
    )


# ---------------------------------------------------------------------------
# Log-bucket histogram quantiles
# ---------------------------------------------------------------------------

HIST_BITS = 40  # buckets cover values < 2^40; <= 41 rows of state


def hist_buckets(
    df: DataFrame, value_col: str = "n_chars", bits: int = HIST_BITS
) -> DataFrame:
    """The log2-bucket histogram (bucket, cnt) of a non-negative
    integer column: bucket = integer bit-length, so bucket b holds
    values in [2^(b-1), 2^b - 1] (bucket 0 holds 0). Constant-size
    (<= bits+1 rows), LINEAR (counts sum-merge across shards/epochs
    and are retraction-exact with signed counts — see
    ``streaming.corpus_stats.IncrementalHistogram``), and exact in
    both engines: the bucket comes from the same integer CASE ladder
    as HLL's rho (no floating log2).

    Scale shape: one scan -> map-only bucket projection -> a <= bits+1
    key groupBy with map-side partial combine; the exchange carries at
    most (bits+1) x tasks pre-reduced rows regardless of corpus size.
    """

    b = F.expr(_bitlen_case_sql(value_col, bits))
    return (
        df.select(b.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hist_quantiles(
    df: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    value_col: str = "n_chars",
    bits: int = HIST_BITS,
) -> DataFrame:
    """Quantile estimates off the log-bucket histogram: for each q,
    the smallest bucket whose cumulative count reaches rank
    ceil(q * n), reported as (q, bucket, lb, ub, n_le, rk, n) — the
    true q-quantile is guaranteed inside [lb, ub] (a <= 2x relative
    error envelope, the log-bucket trade: constant state instead of a
    global sort).

    Integer-exact and engine-portable: q is converted to an exact
    fraction num/den and the rank is (n*num + den - 1) DIV den —
    never ceil() of a float product, whose last-ulp rounding flips
    exactly-integral products (the jaccard prefix-length lesson). The
    cumulative table is a <= (bits+1)^2 self-join, not a window, and
    everything past the histogram aggregate touches only sketch-sized
    tables.
    """

    return hist_quantiles_from(hist_buckets(df, value_col, bits), qs)


def hist_quantiles_from(
    hist: DataFrame, qs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Quantile extraction from a prebuilt (bucket, cnt) histogram —
    shared by the batch operator and the maintained twin
    (``streaming.corpus_stats.IncrementalHistogram``), so both derive
    ranks and bounds through the identical expressions."""

    from fractions import Fraction

    cum = (
        hist.alias("a")
        .join(
            F.broadcast(hist.alias("b")),
            F.col("b.bucket") <= F.col("a.bucket"),
        )
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.sum(F.col("b.cnt")).alias("n_le"))
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    fracs = [Fraction(str(q)) for q in qs]
    qarr = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                F.lit(int(fr.numerator)).cast("long").alias("num"),
                F.lit(int(fr.denominator)).cast("long").alias("den"),
            )
            for q, fr in zip(qs, fracs)
        ]
    )
    ranks = tot.select(F.explode(qarr).alias("qr"), "n").select(
        F.col("qr.q").alias("q"),
        F.expr("CAST((n * qr.num + qr.den - 1) DIV qr.den AS BIGINT)").alias(
            "rk"
        ),
        "n",
    )
    picked = (
        ranks.join(F.broadcast(cum), F.col("n_le") >= F.col("rk"))
        .groupBy("q", "rk", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        picked.join(F.broadcast(cum), "bucket")
        .select(
            "q",
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) - 1)")
            )
            .cast("long")
            .alias("lb"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1")
            .cast("long")
            .alias("ub"),
            "n_le",
            "rk",
            "n",
        )
        .orderBy("q")
    )


def group_hist_quantiles(
    df: DataFrame,
    key_col: str = "source",
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    value_col: str = "n_chars",
    bits: int = HIST_BITS,
) -> DataFrame:
    """Per-GROUP log-bucket quantiles: :func:`hist_quantiles` with a
    key column — p50/p90/p99 of a value per source/language/segment
    from <= (bits+1) rows of state PER GROUP, the data-card slice a
    curation dashboard wants without a per-group sort (exact
    quantiles per group would global-sort each group's rows; the
    log-bucket envelope answers from constant state with the same
    <= 2x bound). Returns (key, q, bucket, lb, ub, n_le, rk, n).

    Integer-exact and engine-portable like the global form: the same
    bit-length CASE ladder, fraction-arithmetic ranks, and a cum table
    built by a key-partitioned window over <= bits+1 rows per key
    (bounded partitions — the sessionize discipline, never a global
    sort)."""

    from fractions import Fraction

    from pyspark.sql.window import Window

    b = F.expr(_bitlen_case_sql(value_col, bits))
    hist = (
        df.select(F.col(key_col).alias("k"), b.alias("bucket"))
        .groupBy("k", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = (
        Window.partitionBy("k")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "k", "bucket", F.sum("cnt").over(w).alias("n_le")
    ).transform(materialize, eager=False)
    tot = hist.groupBy("k").agg(F.sum("cnt").alias("n"))
    fracs = [Fraction(str(q)) for q in qs]
    qarr = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                F.lit(int(fr.numerator)).cast("long").alias("num"),
                F.lit(int(fr.denominator)).cast("long").alias("den"),
            )
            for q, fr in zip(qs, fracs)
        ]
    )
    ranks = tot.select("k", F.explode(qarr).alias("qr"), "n").select(
        "k",
        F.col("qr.q").alias("q"),
        F.expr("CAST((n * qr.num + qr.den - 1) DIV qr.den AS BIGINT)").alias(
            "rk"
        ),
        "n",
    )
    picked = (
        ranks.join(cum, "k")
        .filter(F.col("n_le") >= F.col("rk"))
        .groupBy("k", "q", "rk", "n")
        .agg(F.min("bucket").alias("bucket"))
    )
    return (
        picked.join(cum, ["k", "bucket"])
        .select(
            F.col("k").alias(key_col),
            "q",
            "bucket",
            F.when(F.col("bucket") == 0, F.lit(0))
            .otherwise(
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT) - 1)"
                )
            )
            .cast("long")
            .alias("lb"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bucket AS INT)) - 1")
            .cast("long")
            .alias("ub"),
            "n_le",
            "rk",
            "n",
        )
    )
