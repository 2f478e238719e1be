"""Corpus-curation operators for large-scale training-data pipelines.

Beyond-reference extensions (BASELINE.json north star): benchmark
contamination detection, corpus-wide duplicate-n-gram fractions,
deterministic sharded shuffling, per-group token budgeting, and
per-group top-k selection — the operations that turn a filtered
document set into an actual training mix.

All operators are pure DataFrame compositions of JVM-side SQL
functions, except semdedup's per-cell pair kernel (Arrow-batched
numpy), each with an exact DuckDB-SQL twin for the correctness gate.
Determinism rules match sampling.py: any "random" order comes from a
content hash (md5), never RNG state, so results are identical across
runs, engines, and cluster sizes.

Scale design per operator:

- ``contamination``: the eval set is small by definition (benchmarks
  are KBs–MBs); its distinct n-gram set broadcasts, so the corpus-side
  pass is scan → explode → broadcast-hash-join → per-doc agg. One
  shuffle (doc_id, uniform).
- ``dup_ngram_frac``: two shuffles, both on uniform keys (n-gram hash,
  then doc_id) with map-side partial aggregation; no all-pairs joins.
- ``global_shuffle``: shard assignment is map-only; in-shard position
  is a window PARTITIONED by shard — parallel across shards, never a
  single-partition global window.
- ``token_budget_mix``: window partitioned by the mix group; per-group
  state is the running token sum, not the documents.
- ``topk_per_group``: window partitioned by group; AQE handles skewed
  groups, and the filter keeps k rows per group so nothing downstream
  sees the full corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F

from ..scratch import materialize
from .dedup import shingles


def _hash_key(id_col: str, salt: str) -> Column:
    """Deterministic pseudo-random order key: md5 over salted id.
    Portable: DuckDB's md5() produces the identical digest."""

    return F.md5(F.concat(F.lit(salt + "_"), F.col(id_col).cast("string")))


def contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination check: for each document, the share of
    its distinct word n-grams that also occur anywhere in the eval
    set — the standard n-gram-overlap decontamination test applied
    before training. Returns (doc_id, n_ngrams, n_hit, contamination).

    The eval side collapses to one distinct n-gram set (small —
    benchmarks are tiny next to a corpus) and broadcasts; each corpus
    document then needs only its own exploded n-grams and one hash
    lookup per n-gram. contamination is rounded to 4 decimals so the
    double division is engine-portable.
    """

    ev = shingles(eval_docs, n, text_col).select("shingle").distinct()
    d = shingles(docs, n, text_col)
    hit = (
        d.join(F.broadcast(ev.withColumn("__hit", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
        )
    )
    return hit.select(
        "doc_id",
        "n_ngrams",
        "n_hit",
        F.round(F.col("n_hit") / F.col("n_ngrams"), 4).alias("contamination"),
    )


def dup_ngram_frac(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide duplicate-n-gram fraction (the Gopher/RefinedWeb
    quality signal): per document, the share of its distinct n-grams
    that occur in at least ``min_docs``=2 distinct documents. High
    values mark boilerplate. Returns (doc_id, n_ngrams, n_dup,
    dup_frac).

    Shape (r13, ADVICE r12 — the r12 window form put every row of a
    hot n-gram into ONE window task with no partial reduction): ONE
    tokenize into the checkpointed doc-scale array table; n_ngrams is
    size(sarr) — row-local, no doc-keyed shuffle at all; the
    per-shingle (count, min doc) aggregate partial-reduces map-side
    (hot boilerplate shingles collapse per task), and a shingle
    occurring ONCE belongs to exactly one document — so the per-doc
    UNIQUE count is a doc-keyed re-aggregation of that shingle-scale
    table and n_dup = n_ngrams - n_unique. Nothing corpus-scale is
    ever joined or windowed; both exchanges carry partial-reduced
    rows. Values identical: each (doc, n-gram) pair is distinct, so
    the shingle count counts distinct documents.
    """

    from .dedup import shingle_arrays

    arr = shingle_arrays(docs, n, text_col)
    totals = arr.select(
        "doc_id", F.size("sarr").cast("long").alias("n_ngrams")
    )
    g = (
        arr.select("doc_id", F.explode("sarr").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__c"), F.min("doc_id").alias("__d"))
    )
    uniq = (
        g.filter(F.col("__c") == 1)
        .groupBy(F.col("__d").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("__nu"))
    )
    return (
        totals.join(uniq, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            (F.col("n_ngrams") - F.coalesce(F.col("__nu"), F.lit(0)))
            .cast("long")
            .alias("n_dup"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_dup",
            F.round(F.col("n_dup") / F.col("n_ngrams"), 4).alias("dup_frac"),
        )
    )


def global_shuffle(
    docs: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    salt: str = "shuffle",
) -> DataFrame:
    """Deterministic global shuffle into training shards:
    (doc_id, shard, pos). Every engine, run, and cluster size produces
    the identical assignment — the reproducible data-order a training
    job needs.

    The hash key deals rows uniformly into ``n_shards`` shards
    (map-only); the within-shard position is a window PARTITIONED by
    shard — the global sort a naive ``row_number() over (order by
    hash)`` would serialize onto one partition instead runs as
    n_shards parallel sorts. A writer emits shard files with
    ``partitionBy("shard")`` sorted by pos.
    """

    with_key = docs.withColumn("__k", _hash_key(id_col, salt))
    shard = (
        F.conv(F.substring(F.col("__k"), 1, 8), 16, 10).cast("long")
        % n_shards
    )
    w = Window.partitionBy("shard").orderBy("__k", id_col)
    return (
        with_key.withColumn("shard", shard)
        .withColumn("pos", F.row_number().over(w).cast("long"))
        .select(id_col, "shard", "pos")
    )


def token_budget_mix(
    docs: DataFrame,
    budgets: dict[str, int],
    group_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
    default_budget: int = 0,
) -> DataFrame:
    """Data-mixture construction under per-group token budgets: walk
    each group's documents in deterministic hash order, keep documents
    while the running whitespace-token total stays within the group's
    budget. Returns the kept (doc_id, group, n_tokens, cum_tokens).

    This is how a training mix is actually assembled — "20B tokens of
    lang A, 5B of lang B" — made reproducible by hash ordering. The
    running sum is a window partitioned by group (parallel across
    groups); a document that would cross the budget is dropped, as is
    everything after it in hash order.
    """

    n_tokens = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    budget = None
    for g, b in budgets.items():
        cond = F.col(group_col) == F.lit(g)
        budget = (
            F.when(cond, F.lit(b)) if budget is None else budget.when(cond, F.lit(b))
        )
    budget = (
        F.lit(default_budget) if budget is None else budget.otherwise(F.lit(default_budget))
    )
    base = docs.select(
        F.col(id_col),
        F.col(group_col).alias("group"),
        n_tokens.cast("long").alias("n_tokens"),
        budget.alias("__budget"),
        _hash_key(id_col, salt).alias("__k"),
    )
    w = (
        Window.partitionBy("group")
        .orderBy("__k", id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= F.col("__budget"))
        .select(id_col, "group", "n_tokens", "cum_tokens")
    )


def topk_per_group(
    docs: DataFrame,
    k: int,
    group_cols: tuple[str, ...] = ("lang", "source"),
    score_col: Column | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep the k highest-quality documents per group ("best k docs per
    domain"): (doc_id, *group_cols, score, rk). Ties break by doc id,
    so selection is total-ordered and engine-portable.

    One partitioned window; skewed groups are one partition's sort
    (AQE splits oversized partitions), and the rank filter caps output
    at k·|groups| rows.
    """

    if score_col is None:
        from .text import quality_columns

        score_col = quality_columns()["quality"]
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("score").desc(), F.col(id_col)
    )
    return (
        docs.select(F.col(id_col), *group_cols, score_col.alias("score"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )


def line_dedup(
    docs: DataFrame,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level line deduplication (the C4/RefinedWeb boilerplate
    rule): a line whose normalized form (trim + lowercase) occurs in
    at least ``min_docs`` DISTINCT documents is boilerplate — nav
    bars, cookie banners, license headers — and every occurrence is
    removed. Returns (doc_id, text, n_lines, n_removed) with the
    surviving lines re-joined in their original order; documents whose
    every line was boilerplate survive with empty text.

    Scale shape (r13, ADVICE r12): ONE explode to (doc_id, pos,
    line). For the declared min_docs=2 form, "in >= 2 distinct docs"
    ⟺ min(doc_id) != max(doc_id) per norm — computed as a
    groupBy('norm') min/max AGGREGATE (map-side partial reduction, so
    a boilerplate line occurring in billions of documents — the
    operator's explicit target — collapses per map task instead of
    concentrating in one window task; the r12 window form had no
    partial reduction and no AQE skew help), filtered DOWN to the
    boilerplate norms (mn != mx — the small side by construction:
    only repeated lines survive), and removed from the line table
    with a LEFT ANTI join that AQE broadcasts when the boilerplate
    set fits and skew-splits otherwise. When it doesn't broadcast,
    the anti-join's line side re-shuffles on the same norm key as the
    aggregate's input — a canonically identical exchange, so runtime
    reuse keeps the explode single-pass (the r9 problem was three
    separate COMPILATIONS of the explode, not the join). The
    per-document line total is size(split(text)) — row-local, no
    explode at all. General min_docs keeps the aggregate shape. Then
    the per-document re-assembly via groupBy + in-group array_sort —
    never a global window.
    """

    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    ).withColumn("norm", F.trim(F.lower(F.col("line"))))
    if min_docs == 2:
        boiler = (
            lines.groupBy("norm")
            .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
            .filter(F.col("__mn") != F.col("__mx"))
            .select("norm")
        )
        kept = lines.join(boiler, "norm", "left_anti")
    else:
        counts = lines.groupBy("norm").agg(
            F.countDistinct("doc_id").alias("nd")
        )
        kept = lines.join(counts, "norm").filter(F.col("nd") < min_docs)
    totals = docs.filter(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.size(F.split(F.col(text_col), "\n")).cast("long").alias("n_lines"),
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def mix_weights(
    docs: DataFrame,
    alpha: float = 0.3,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-based sampling weights for a multi-source/-language
    training mix (the multilingual-LM upsampling rule): with p_g the
    group's token share, the sampling weight is q_g ∝ p_g^alpha
    renormalized — alpha < 1 upsamples low-resource groups. Returns
    (group, n_tokens, p, q).

    Scale shape: one uniform-key token-count aggregation over the
    corpus, then two one-row aggregates over the |groups|-sized frame
    (broadcast back) — the corpus is scanned once, everything after
    is constant-size.
    """

    n_tokens = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    g1 = (
        docs.select(F.col(group_col).alias("group"), n_tokens.alias("nt"))
        .groupBy("group")
        .agg(F.sum("nt").cast("long").alias("n_tokens"))
    )
    total = g1.agg(F.sum("n_tokens").alias("total"))
    g2 = g1.crossJoin(F.broadcast(total)).select(
        "group",
        "n_tokens",
        (F.col("n_tokens") / F.col("total")).alias("p"),
        F.pow(F.col("n_tokens") / F.col("total"), alpha).alias("w"),
    )
    z = g2.agg(F.sum("w").alias("z"))
    return g2.crossJoin(F.broadcast(z)).select(
        "group",
        "n_tokens",
        F.round(F.col("p"), 6).alias("p"),
        F.round(F.col("w") / F.col("z"), 6).alias("q"),
    )

def dup_spans(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """Maximal cross-document duplicated token runs — the exact-
    substring dedup signal (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"), reported as actionable spans
    a removal pass can cut: every position window of ``n`` consecutive
    tokens occurring in >= ``min_docs`` DISTINCT documents is marked,
    and overlapping marked windows merge into maximal runs. Returns
    (doc_id, start, end, n_windows, n_tokens) with 0-based inclusive
    token offsets. Within-document repetition is deliberately out of
    scope (that is text.repetition_stats's signal).

    Scale shape: windows hash to md5 before they shuffle (constant-
    width keys, never n-token strings); the cross-doc count is one
    uniform-key aggregation; the merge step is a lag/sum window
    PARTITIONED by doc_id — parallel across documents, never global.
    """

    from pyspark.sql.window import Window

    from declarative_dataflow_spark.operators.dedup import spread_input

    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= n
    )
    parts = ", ".join(f"w[i + {j}]" for j in range(n))
    wins = base.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(w) - {n}), i -> "
                f"named_struct('i', i, 'h', md5(concat_ws(' ', {parts}))))"
            )
        ).alias("g"),
    ).select("doc_id", "g.i", "g.h")
    if min_docs == 2:
        # ">= 2 distinct documents" ⟺ min(doc_id) != max(doc_id)
        # within the window-hash partition — two window MINMAXes over
        # ONE h-keyed exchange instead of the r11 countDistinct
        # aggregate + join-back (three exchanges of the position
        # table; guide §2.4). A window repeated inside one document
        # has min == max and stays unmarked, exactly like its
        # countDistinct(doc_id) == 1. Values identical.
        # Skew note (r13): a single span hash occurring in billions of
        # documents lands its position rows in ONE window task with no
        # partial reduction. The skew-safe aggregate + LEFT SEMI form
        # (the line_dedup r13 shape) was built, oracle-verified, and
        # measured +23% count / +35-67% noop at both bench SFs — here
        # the duplicated-hash set is the operator's whole TARGET, so
        # it is never a small broadcast side and the semi join pays a
        # full extra pass of the position table. Kept the window;
        # revisit only with evidence of an actual hot-span corpus.
        wh = Window.partitionBy("h")
        marked = (
            wins.withColumn("__mn", F.min("doc_id").over(wh))
            .withColumn("__mx", F.max("doc_id").over(wh))
            .filter(F.col("__mn") != F.col("__mx"))
            .select("doc_id", "i")
        )
    else:
        hot = (
            wins.groupBy("h")
            .agg(F.countDistinct("doc_id").alias("__docs"))
            .filter(F.col("__docs") >= min_docs)
            .select("h")
        )
        marked = wins.join(hot, "h").select("doc_id", "i")
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    brk = F.when(
        F.col("i") - F.lag("i").over(w_doc) <= n - 1, 0
    ).otherwise(1)
    runs = marked.withColumn("__brk", brk).withColumn(
        "__run",
        F.sum("__brk").over(
            w_doc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy("doc_id", "__run")
        .agg(
            F.min("i").cast("long").alias("start"),
            (F.max("i") + n - 1).cast("long").alias("end"),
            F.count(F.lit(1)).alias("n_windows"),
            (F.max("i") + n - F.min("i")).cast("long").alias("n_tokens"),
        )
        .select("doc_id", "start", "end", "n_windows", "n_tokens")
    )


def dsir_weights(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    alpha: float = 0.5,
    n: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw
    document by how target-like its hashed n-gram features are, so a
    curation pass can resample raw web data toward a high-quality
    target domain. Returns (doc_id, n_feats, dsir_logw) where
    dsir_logw = sum over the document's features of
    ln p_target(b) - ln p_raw(b) under add-alpha-smoothed bucket
    unigram models; resampling keeps the top-weight documents.

    Features are word n-grams hashed into ``n_buckets`` buckets
    (hashed bag-of-ngrams, the paper's featurization) — the model
    state is TWO <= n_buckets-row count tables regardless of corpus
    size, which is what makes the estimator cheap at 100 TB.

    Scale shape: bucket counts are two uniform-key aggregations with
    map-side partials collapsing to <= n_buckets rows; totals ride on
    one-row broadcasts; the scoring join broadcasts the bucket->logratio
    table (KBs) against the exploded corpus features. One doc_id
    shuffle for the final per-doc sum. Per-bucket log ratios round to
    9 decimals and sum in DECIMAL(24,9) (the ngram_lm_score
    discipline) so dsir_logw is order-independent.
    """

    # Materialize the raw features once — but as the DOC-scale bucket
    # ARRAY table, not the exploded (doc_id, bucket) rows (r12): the
    # md5+mod hashing runs once either way, while the checkpoint
    # writes one compact row per document instead of one row per
    # feature; the two consumers (raw bucket model, scoring join)
    # re-explode the arrays map-side, which is far cheaper than
    # materializing the corpus-token-scale explode was (the
    # simhash/embedding-neardup materialize-once discipline, sharpened
    # by the cdc_chunks row-local lesson).
    arr = materialize(
        dsir_feature_arrays(docs, n_buckets, n, text_col), eager=False
    )
    feats = arr.select("doc_id", F.explode("barr").alias("bucket"))
    tgt_feats = dsir_features(target, n_buckets, n, text_col)
    raw_b = feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("cr"))
    tgt_b = tgt_feats.groupBy("bucket").agg(F.count(F.lit(1)).alias("ct"))
    model = dsir_model(raw_b, tgt_b, n_buckets, alpha)
    return dsir_score(feats, model)


def dsir_features(
    docs: DataFrame, n_buckets: int, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, bucket) hashed n-gram features — one row per distinct
    n-gram of each document (shared by the batch operator and the
    streaming maintainer so both sides hash identically)."""

    return shingles(docs, n, text_col).select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dsir_"), F.col("shingle"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            % n_buckets
        ).alias("bucket"),
    )


def dsir_feature_arrays(
    docs: DataFrame, n_buckets: int, n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, barr array<bigint>): the same features as
    :func:`dsir_features` kept ROW-LOCAL — one array element per
    distinct n-gram (bucket values may repeat when distinct shingles
    collide mod n_buckets, exactly like the exploded rows), hashed by
    the identical md5 expression. Exploding this table yields
    dsir_features verbatim."""

    from declarative_dataflow_spark.operators.dedup import spread_input

    words = F.split(F.lower(F.col(text_col)), " ")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= n
    )
    if n == 1:
        sh_expr = "w"
    else:
        parts = " , ".join(f"w[i + {j}]" for j in range(n))
        sh_expr = (
            f"transform(sequence(0, size(w) - {n}), "
            f"i -> concat_ws('_', {parts}))"
        )
    barr = F.expr(
        f"transform(array_distinct({sh_expr}), s -> "
        "CAST(conv(substring(md5(concat('dsir_', s)), 1, 8), 16, 10) "
        f"AS BIGINT) % {n_buckets})"
    )
    return base.select("doc_id", barr.alias("barr"))


def dsir_model(
    raw_b: DataFrame, tgt_b: DataFrame, n_buckets: int, alpha: float
) -> DataFrame:
    """(bucket, logratio) from the two bucket-count tables
    (raw: (bucket, cr); target: (bucket, ct)). Totals ride on one-row
    broadcasts; log ratios round to 9 decimals into DECIMAL(24,9)."""

    raw_tot = raw_b.agg(F.sum("cr").alias("tr"))
    tgt_tot = tgt_b.agg(F.sum("ct").alias("tt"))
    return (
        raw_b.join(tgt_b, "bucket", "full_outer")
        .select(
            "bucket",
            F.coalesce(F.col("cr"), F.lit(0)).alias("cr"),
            F.coalesce(F.col("ct"), F.lit(0)).alias("ct"),
        )
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "bucket",
            F.round(
                F.log(
                    (F.col("ct") + alpha)
                    / (F.col("tt") + alpha * n_buckets)
                )
                - F.log(
                    (F.col("cr") + alpha)
                    / (F.col("tr") + alpha * n_buckets)
                ),
                9,
            )
            .cast("decimal(24,9)")
            .alias("logratio"),
        )
    )


def dsir_score(feats: DataFrame, model: DataFrame) -> DataFrame:
    """(doc_id, n_feats, dsir_logw): broadcast the <= n_buckets-row
    model against the exploded features; DECIMAL sums keep the weight
    order-independent."""

    return (
        feats.join(F.broadcast(model), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.round(F.sum("logratio").cast("double"), 6).alias("dsir_logw"),
        )
    )


def bloom_contamination(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 3,
    m_bits: int | str = "auto",
    k_hashes: int = 3,
    text_col: str = "text",
    bits_per_ngram: int = 16,
) -> DataFrame:
    """Bloom-filter decontamination (the Dolma/Bloom-dedup shape): the
    eval set is folded into an m-bit Bloom filter (k hash functions)
    and each corpus document reports the fraction of its n-grams whose
    k bits are ALL set. Returns (doc_id, n_ngrams, n_flagged,
    flag_frac). Superset of exact ``contamination`` hits: one-sided
    error (false positives from cross-n-gram bit collisions, never
    false negatives), with filter state fixed at m bits no matter how
    many benchmarks accumulate — the property that lets a 100 TB scan
    carry the filter as a broadcast instead of re-joining every eval
    n-gram set.

    ``m_bits="auto"`` (default) sizes the filter to
    ``bits_per_ngram`` * |distinct eval n-grams| (floor 64) from one
    scalar count — the standard bits-per-element rule. A FIXED m is
    the planes=6 trap in a new costume: benchmarks accumulate, the
    filter saturates, the false-positive rate walks to 1, and the
    "cheap pre-filter" silently degrades into flagging the whole
    corpus. Pass an int only for a pinned-state maintained filter
    (IncrementalBloom, whose on-disk bit space cannot resize).

    Shape: the set-bit table (<= m_bits rows) broadcasts; the corpus
    side unpivots each n-gram to its k candidate bits (constant-width
    md5 keys), marks hits with one broadcast join, and counts
    all-k-hit n-grams per document. One doc_id shuffle.
    """

    ev = shingles(eval_docs, n, text_col)
    if m_bits == "auto":
        m_bits = max(64, bits_per_ngram * ev.select("shingle").distinct().count())
    set_bits = (
        bloom_bits(ev, m_bits, k_hashes)
        .select(F.explode("bits").alias("bit"))
        .distinct()
    )
    return bloom_probe(docs, set_bits, n, m_bits, k_hashes, text_col)


def bloom_bits(sh_df: DataFrame, m_bits: int, k_hashes: int) -> DataFrame:
    """(doc_id, h, bits): each shingle's constant-width md5 key plus
    its k candidate bit positions — shared by the batch operator and
    the streaming maintainer so both sides hash identically."""

    cols = F.array(
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit(f"bloom{j}_"), F.col("shingle"))
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            )
            for j in range(k_hashes)
        ]
    )
    return sh_df.select(
        "doc_id", F.md5(F.col("shingle")).alias("h"), cols.alias("bits")
    )


def bloom_probe(
    docs: DataFrame,
    set_bits: DataFrame,
    n: int,
    m_bits: int,
    k_hashes: int,
    text_col: str = "text",
) -> DataFrame:
    """Probe every document's n-grams against a one-column (bit)
    set-bit table: (doc_id, n_ngrams, n_flagged, flag_frac).

    The k bit lookups run as k MAP-SIDE broadcast joins on separate
    bit columns (never an explode-to-k-rows + re-group: that shape
    shuffles k x |n-grams| rows back together just to AND the flags).
    The only shuffle is the final doc_id aggregation, partial-combined
    map-side — one pass, at any scale.
    """

    sh = shingles(docs, n, text_col)
    probes = sh.select(
        "doc_id",
        *[
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(F.lit(f"bloom{j}_"), F.col("shingle"))
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % m_bits
            ).alias(f"__b{j}")
            for j in range(k_hashes)
        ],
    )
    for j in range(k_hashes):
        sb = set_bits.select(
            F.col("bit").alias(f"__b{j}"), F.lit(1).alias(f"__s{j}")
        )
        probes = probes.join(F.broadcast(sb), f"__b{j}", "left")
    all_set = F.when(
        sum(
            F.coalesce(F.col(f"__s{j}"), F.lit(0)) for j in range(k_hashes)
        )
        >= k_hashes,
        1,
    ).otherwise(0)
    flagged = probes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_ngrams"),
        F.sum(all_set).cast("long").alias("n_flagged"),
    )
    return flagged.select(
        "doc_id",
        "n_ngrams",
        "n_flagged",
        F.round(F.col("n_flagged") / F.col("n_ngrams"), 4).alias("flag_frac"),
    )


def quality_calibrate(
    docs: DataFrame,
    score_col: str,
    group_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group percentile calibration of a quality score — the step
    that makes one global threshold meaningful across languages
    (raw heuristic scores are NOT comparable between languages:
    stopword lists, punctuation norms, and length distributions
    differ, so 'keep quality > 0.5' silently over-prunes some
    languages; FineWeb-style pipelines therefore threshold the
    WITHIN-language percentile instead). Returns
    (id, group, score, pct) with pct = percent_rank within the group,
    rounded to 6 decimals; ties share a rank (ties by id broken only
    for determinism of row order, not of pct).

    One window PARTITIONED by group — parallel across groups, never a
    global sort; AQE splits skewed groups.
    """

    w = Window.partitionBy(group_col).orderBy(F.col(score_col).cast("double"))
    return docs.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        F.col(score_col).cast("double").alias("score"),
        F.round(F.percent_rank().over(w), 6).alias("pct"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str = "lang",
    lo_pct: int = 5,
    hi_pct: int = 95,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group winsorization: clamp ``value_col`` to the group's
    [lo_pct, hi_pct] percentile bounds — the outlier-trim step before
    per-group statistics feed a mixing/weighting decision (a single
    pathological document otherwise drags a whole language's mean).
    Returns (id, grp, value, w_value).

    Bounds are NEAREST-RANK percentiles (the value at row
    ``ceil(pct * n / 100)`` in (value, id) order) computed in exact
    integer arithmetic — ``(pct*n + 99) div 100`` — never
    ``ceil(0.05 * n)`` in doubles, where 0.05*100 rounds to
    5.000000000000001 and ceil silently shifts the cut by one row
    (the same trap ADVICE flagged in the Jaccard prefix filter).
    Interpolated percentiles are avoided entirely: both engines pick
    an actual data value, so the clamp boundary is bit-identical.

    Shape: one window PARTITIONED by group (rank + count), a
    conditional aggregation to one bounds row per group, and a
    broadcast join back — parallel across groups at any scale.
    """

    v = F.col(value_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(v, F.col(id_col))
    wn = Window.partitionBy(group_col)
    ranked = df.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        v.alias("__v"),
        F.row_number().over(w).alias("__r"),
        F.count(F.lit(1)).over(wn).alias("__n"),
    )
    lo_r = F.greatest(F.lit(1), F.expr(f"({lo_pct} * __n + 99) div 100"))
    hi_r = F.greatest(F.lit(1), F.expr(f"({hi_pct} * __n + 99) div 100"))
    bounds = ranked.groupBy("grp").agg(
        F.max(F.when(F.col("__r") == lo_r, F.col("__v"))).alias("__lo"),
        F.max(F.when(F.col("__r") == hi_r, F.col("__v"))).alias("__hi"),
    )
    return ranked.join(F.broadcast(bounds), "grp").select(
        F.col(id_col),
        F.col("grp"),
        F.col("__v").alias("value"),
        F.least(F.greatest(F.col("__v"), F.col("__lo")), F.col("__hi")).alias(
            "w_value"
        ),
    )


def _numpy_cell_pairs(base: DataFrame, threshold: float, dim: int) -> DataFrame:
    """Within-cell cosine pairs via Arrow-batched numpy: (a, b, cos)
    with a < b and ``round(cos, 4) >= threshold``; the round and the
    filter run JVM-side (see the semdedup call site). ``dim`` is the
    CORPUS-wide vector width; longer vectors contribute their
    dim-prefix, and NULL or shorter-than-dim vectors DROP their
    pairs."""

    margin = threshold - 5e-5 - 1e-12

    def pairs(pdf):
        n = len(pdf)
        ids_raw = pdf["id"].to_numpy()
        if n < 2 or not dim:
            return pd.DataFrame(
                {
                    "a": np.array([], dtype=ids_raw.dtype),
                    "b": np.array([], dtype=ids_raw.dtype),
                    "cos": np.array([], dtype=np.float64),
                }
            )
        order = ids_raw.argsort(kind="stable")
        ids = ids_raw[order]
        vals = [pdf["v"].iloc[i] for i in order]
        d = dim
        ok = np.array(
            [x is not None and len(x) >= d for x in vals], dtype=bool
        )
        V = np.array(
            [
                list(x[:d]) if (x is not None and len(x) >= d)
                else [0.0] * d
                for x in vals
            ],
            dtype=np.float64,
        )
        M = np.zeros((n, n))
        vn = np.zeros(n)
        for i in range(d):  # ascending: the SQL chain's fold order
            col = V[:, i]
            M += np.outer(col, col)
            vn += col * col
        vn = np.sqrt(vn)
        den = np.outer(vn, vn)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = M / den
        iu, ju = np.triu_indices(n, 1)
        c = cos[iu, ju]
        keep = ok[iu] & ok[ju] & (c >= margin)
        # Pairs are a < b by VALUE; triu pairs by POSITION after the
        # id sort, so duplicate ids in a cell would emit a self-pair
        # (a==b, cos=1.0) — StreamSemDeDup feeds state rows and batch
        # rows through one cell group, and a re-sent id must not drop
        # itself here.
        keep &= ids[iu] != ids[ju]
        return pd.DataFrame(
            {"a": ids[iu[keep]], "b": ids[ju[keep]], "cos": c[keep]}
        )

    id_type = dict(base.select(F.col("id")).dtypes)["id"]
    cand = base.groupBy("cell").applyInPandas(
        pairs, f"a {id_type}, b {id_type}, cos double"
    )
    return cand.select(
        "a", "b", F.round(F.col("cos"), 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def semdedup(
    embeddings: DataFrame,
    k="auto",
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 256,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication inside
    k-means clusters — embed, cluster, and drop near-identical pairs
    WITHIN each cluster (cross-cluster pairs are by construction far
    apart, so the candidate set is cluster-bucketed, never all-pairs).
    Returns (a, b, cos) pairs with a < b and within-cluster cosine >=
    threshold — the pairs a removal pass resolves (compose with
    dedup.connected_components for group resolution, exactly like the
    LSH families).

    Shape: assignments from :func:`kmeans_assign` (broadcast-centroid
    passes, deterministic); pairs are scored per cell by an
    Arrow-batched numpy kernel (:func:`_numpy_cell_pairs`) over one
    cell-keyed exchange, cosines rounded to 4 decimals.
    At 100 TB the cell count k scales with the corpus so per-cell
    membership stays bounded — k is the density lever, exactly like
    LSH planes and SimHash block width. ``k="auto"`` (the default,
    and the declared query's form) derives it from the corpus count
    via :func:`similarity.density_cells`: a FIXED k makes the pair
    join ~n²/k — measured 20x wall-time for 10x data at k=8 — while
    the derived form caps cell occupancy at ~``target_cell`` and the
    join stays linear.
    """

    from .similarity import _assign_cells, density_cells, ivf_centroids

    stats = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.max(F.size(F.col(vec_col))).alias("d"),
    ).first()
    dim = stats["d"] or 0
    if k == "auto":
        k = density_cells(stats["n"], target_cell)
    # Fused assignment (r12): keep_vec rides the vector through the
    # argmax kernel, so the (id, v, cell) base table needs no corpus
    # join-back — the r11 shape paid one full exchange of the vector
    # table plus one of the assignment for the equi-join here.
    cents = ivf_centroids(embeddings, k, iters, id_col, vec_col)
    base = (
        _assign_cells(embeddings, cents, id_col, vec_col, keep_vec=True)
        .select(F.col("vec_id").alias("id"), "v", "cell")
        .transform(materialize, eager=False)
    )

    # Pair engine: Arrow-batched numpy per cell. A JVM equi-join's
    # fused 64-term dot lands past HotSpot's huge-method JIT ceiling
    # and evaluates as interpreted bytecode (~5µs/pair — measured ~25s
    # of the sf1 wall on 2.6M within-cell pairs; numpy: <1s). Parity
    # with the SQL cosine is by construction: the pair matrix
    # accumulates one OUTER PRODUCT per dimension, ASCENDING — each
    # pair's dot receives its terms in exactly the SQL chain's
    # left-assoc order — norms accumulate the same way, and the numpy
    # side emits RAW cosines with a sound candidate margin (cos >=
    # threshold - 5e-5 - 1e-12, the widest value that can still round
    # up to the threshold at 4 decimals); the exact round(.,4)+filter
    # stays JVM-side. Cell groups are one shuffle; per-cell memory is
    # O(occupancy²) doubles, bounded by the density-derived k
    # (~target_cell rows).
    return _numpy_cell_pairs(base, threshold, dim)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot diff: one row per document id present in either
    snapshot, with ``status`` in {added, removed, changed, unchanged}
    — the audit a pipeline runs when a crawl/source re-lands before
    recomputing anything downstream (changed + added ids feed the
    incremental maintainers; removed ids feed retractions).

    Shape: each side projects to (id, md5(text)) — content identity
    travels as a fixed-width hash, never the document — then ONE
    full-outer equi-join on id and a row-local CASE. Linear, one
    shuffle per side, no skew (ids are unique per snapshot). The
    DuckDB twin mirrors the md5 comparison."""

    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__ho")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("__hn")
    )
    return (
        o.join(n, "id", "full_outer")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("__ho").isNull(), F.lit("added"))
            .when(F.col("__hn").isNull(), F.lit("removed"))
            .when(F.col("__ho") == F.col("__hn"), F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """N-gram novelty scoring for curriculum/ordering decisions: per
    document, the fraction of its distinct n-gram shingles seen in NO
    earlier document (doc_id order — the corpus's canonical arrival
    order). A doc full of already-seen n-grams is redundant with the
    prefix; a high-novelty doc carries new content — the signal
    curriculum builders and dedup-aware samplers rank by. Returns
    (doc_id, n_shingles, n_novel, novelty) for documents with >= n
    tokens; novelty = round(n_novel / n_shingles, 4), one IEEE
    division.

    Shape (r13, ADVICE r12 — the r12 window form put every row of a
    hot shingle into ONE window task with no partial reduction): ONE
    tokenize into the checkpointed doc-scale array table; n_shingles
    is size(sarr) — row-local, no doc-keyed corpus shuffle; "first
    seen" is the shingle-keyed min(doc_id) aggregate (map-side
    partial reduction handles hot shingles), and n_novel is a
    doc-keyed re-aggregation of THAT shingle-scale table — a doc's
    novel count is how many shingles name it as their minimum, so no
    corpus-scale join back is needed at all. Values identical (same
    MIN over the same groups)."""

    from .dedup import shingle_arrays

    arr = shingle_arrays(docs, n, text_col)
    totals = arr.select(
        "doc_id", F.size("sarr").cast("long").alias("n_shingles")
    )
    novel = (
        arr.select("doc_id", F.explode("sarr").alias("shingle"))
        .groupBy("shingle")
        .agg(F.min("doc_id").alias("__d"))
        .groupBy(F.col("__d").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("__nn"))
    )
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("__nn"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(F.col("__nn"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
                4,
            ).alias("novelty"),
        )
    )
