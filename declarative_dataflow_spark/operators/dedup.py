"""Deduplication operators for training-data pipelines.

Beyond-reference extensions (BASELINE.json): exact hash dedup,
n-gram Jaccard near-dup, MinHash+LSH, SimHash. All built from JVM-side
SQL primitives (md5, higher-order array functions, hash-joins) except
the SimHash fingerprint, an exact-integer Arrow-batched numpy kernel —
and each with an exact DuckDB twin for the correctness gate.

Scale design (100 TB):
- exact dedup: one shuffle on the content hash.
- shingle/minhash pipelines: explode -> groupBy doc (map-side combine),
  signatures are fixed-width (k ints) regardless of doc size.
- LSH banding: candidate generation is a self-join on (band, band_hash)
  buckets — the join key is uniformly distributed by construction, so
  no skew; the quadratic verify step only runs inside buckets.
- brute-force pair join is only used by `jaccard_pairs` for
  verification and small corpora; the LSH path is the scale path.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from ..scratch import materialize, materialize_count

# uint32 from the first 8 hex chars of md5 — portable to DuckDB as
# ('0x' || substr(md5(x),1,8))::BIGINT.
def _h32(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def spread_input(docs: DataFrame) -> DataFrame:
    """Repartition ONLY when the source is under-parallelized (fewer
    splits than cores): the per-token md5/fold passes downstream are
    CPU-bound, and a mid-sized parquet file lands in 1-2
    maxPartitionBytes splits, running a 32-core host 2-wide (measured
    at the 10x bench scale: cross_neardup 21.7s -> the minhash_lsh
    guard's 3.0s shape once spread). At 100 TB the scan already has
    >> defaultParallelism splits and this is a no-op — the shuffle
    only ever pays where the alternative is idle cores."""

    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        return docs.repartition(target)
    return docs


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Group documents by content hash: (h, n, canonical doc_id)."""

    return (
        docs.select(F.md5(F.col(text_col)).alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("canonical"))
    )


def shingle_arrays(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per document as ONE row-local
    ARRAY row: (doc_id, sarr). The doc-scale form of :func:`shingles`
    — consumers that need both a per-document size and the exploded
    stream read this lazily checkpointed table and re-derive the
    explode map-side (the r12 base-array discipline), paying the
    tokenize a single time with only doc-scale state materialized.

    The returned table is checkpointed because the transform
    subscripts w[i+j] and is only safe on rows passing the size
    filter: an explode directly over the expression lets Catalyst
    evaluate its inferred `size(...) > 0` predicate ahead of that
    filter (INVALID_ARRAY_INDEX under ANSI mode). The checkpoint is a
    plan barrier, so explodes only ever see materialized arrays. (A
    CASE-guarded total expression was REJECTED: conditionals disable
    codegen subexpression elimination, and the un-cached
    double-evaluation under generate + inferred filter measured 10x
    on contamination.)"""

    words = F.split(F.lower(F.col(text_col)), " ")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= n
    )
    if n == 1:
        sh = F.col("w")
    else:
        parts = " , ".join(f"w[i + {j}]" for j in range(n))
        sh = F.expr(
            f"transform(sequence(0, size(w) - {n}), i -> concat_ws('_', {parts}))"
        )
    return base.select(
        "doc_id", F.array_distinct(sh).alias("sarr")
    ).transform(materialize, eager=False)


def shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-gram shingles per document: (doc_id, shingle).

    Tokenization is a plain space split; n-grams join tokens with '_'.
    For n=1 this is the distinct word set.

    The per-document dedup happens ROW-LOCALLY (array_distinct before
    the explode), never as a dropDuplicates shuffle: a document's
    n-grams all live in its own row, so deduplicating them needs no
    data movement — at corpus scale this removes an entire
    full-width shuffle of raw n-gram strings from every consumer
    (contamination, dup_ngram_frac, jaccard, MinHash, DSIR, Bloom).

    Kept as the DIRECT explode-over-expression form (not a hop
    through :func:`shingle_arrays`): this exact shape has a safe
    predicate order, while the named-column hop reordered the
    generate-inferred size predicate ahead of the size filter (see
    shingle_arrays' docstring).
    """

    words = F.split(F.lower(F.col(text_col)), " ")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= n
    )
    if n == 1:
        sh = F.col("w")
    else:
        parts = " , ".join(f"w[i + {j}]" for j in range(n))
        sh = F.expr(
            f"transform(sequence(0, size(w) - {n}), i -> concat_ws('_', {parts}))"
        )
    return base.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


def jaccard_pairs(
    docs: DataFrame,
    n: int = 1,
    threshold: float = 0.5,
    text_col: str = "text",
    prefix_filter: bool = False,
    group_identical: bool = False,
) -> DataFrame:
    """Document pairs with shingle-set Jaccard >= threshold.

    |A ∩ B| via a self-join on shingle, |A ∪ B| = |A| + |B| - |∩|;
    all integer arithmetic until the final rounded division. Pairs
    only materialize for documents SHARING a shingle (inverted-index
    join, never a cartesian).

    ``prefix_filter=True`` adds the classic set-similarity-join prefix
    filter (AllPairs/PPJoin): order every document's shingles by
    global document-frequency ascending (rarest first) and join only
    each document's first |d| - ceil(t*|d|) + 1 shingles — any pair
    with Jaccard >= t must collide inside both prefixes, so the
    output is IDENTICAL while the candidate join avoids the frequent
    shingles that dominate fanout (one stopword shingle otherwise
    joins everything against everything at corpus scale).
    Verification then counts full intersections for the surviving
    candidates only. r13 adds the PPJoin POSITIONAL filter on top:
    every prefix collision at sorted positions (ra, rb) bounds the
    achievable overlap by min(ra-1, rb-1) + min(|a|-ra+1, |b|-rb+1)
    (common tokens ordered before the match are capped by the earlier
    positions, those from the match on by the remaining suffixes —
    valid under ANY shared total token order); Jaccard >= t needs
    overlap >= t(|a|+|b|)/(1+t), so candidates whose tightest bound
    falls short never enter the verify join. The bound rides the
    candidate-dedup aggregate that already exists (min() instead of
    distinct()) — zero extra joins, unlike the r12-rejected
    length-filter variant.

    ``group_identical=True`` deduplicates IDENTICAL shingle sets
    before pairing (r13): docs group by their sorted set (exact array
    equality — never a hash, which could merge distinct sets), one
    representative per group runs the pair pipeline, and results
    expand back — cross-group pairs inherit the representatives'
    Jaccard (identical sets ⟹ identical similarity to everything),
    within-group pairs are Jaccard 1.0 by definition. On templated /
    near-duplicated corpora (the regime this operator targets) the
    quadratic pair work shrinks by the mean squared group size; the
    price is one doc-scale shuffle of the compact set arrays. The
    per-group doc list is collect_list-aggregated — bounded by the
    largest identical-template group (a corpus that is ONE template
    would concentrate in one task; acceptable because the pair
    pipeline it replaces is quadratic in exactly that case).
    """

    words = F.split(F.lower(F.col(text_col)), " ")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= n
    )
    if n == 1:
        sh_arr = F.array_distinct(F.col("w"))
    else:
        parts = " , ".join(f"w[i + {j}]" for j in range(n))
        # TOTAL expression (same guard as shingle_arrays): safe on any
        # row regardless of Catalyst's predicate evaluation order.
        sh_arr = F.array_distinct(
            F.expr(
                f"CASE WHEN size(w) < {n} THEN array() ELSE "
                f"transform(sequence(0, size(w) - {n}), "
                f"i -> concat_ws('_', {parts})) END"
            )
        )
    members = None
    if group_identical:
        groups = (
            base.select("doc_id", F.array_sort(sh_arr).alias("ss"))
            .groupBy("ss")
            .agg(
                F.min("doc_id").alias("gid"),
                F.collect_list("doc_id").alias("ds"),
            )
            # Feeds the rep pipeline AND the member expansion —
            # materialize once (the minhash discipline).
            .transform(materialize, eager=False)
        )
        members = groups.select(
            F.col("gid"), F.explode("ds").alias("doc_id")
        )
        ss = groups.select(F.col("gid").alias("doc_id"), "ss")
    else:
        ss = base.select("doc_id", sh_arr.alias("ss"))
    if prefix_filter:
        from pyspark.sql.window import Window

        # Feeds the frequency count, the prefix explode, and both
        # verify sides — materialize once (the minhash discipline).
        ss = materialize(ss, eager=False)
        sh = ss.select(
            "doc_id", F.size("ss").alias("sz"), F.explode("ss").alias("shingle")
        )
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
        w = Window.partitionBy("doc_id").orderBy(
            F.col("__df").asc(), F.col("shingle").asc()
        )
        pref = (
            sh.join(freq, "shingle")
            .withColumn("__rn", F.row_number().over(w))
            # ceil over an epsilon-slack product: double arithmetic can
            # round an exactly-integral t*|d| UP (0.07*100 ->
            # 7.000000000000001 -> ceil 8), shortening the prefix and
            # dropping a qualifying pair; the epsilon keeps the bound
            # never under-covering while t*|d| stays >= its exact value
            # minus 1e-9 (shingle counts are small integers, so no
            # legitimate product lands within 1e-9 below an integer).
            .filter(
                F.col("__rn")
                <= F.col("sz")
                - F.ceil(F.lit(threshold) * F.col("sz") - F.lit(1e-9))
                + 1
            )
            .select("doc_id", "sz", "shingle", F.col("__rn").alias("rn"))
        )
        pa = pref.toDF("a", "sz_a", "shingle", "rn_a")
        pb = pref.toDF("b", "sz_b", "shingle", "rn_b")
        # Candidate dedup + positional bound in ONE aggregate over the
        # same (a, b) shuffle the old distinct() paid. Discard only
        # when even the tightest bound cannot reach the required
        # overlap: ub*(1+t) >= t*(sz_a+sz_b) - eps. The slack only
        # ever ADMITS borderline candidates (the verify join decides
        # exactly), never drops one: a qualifying pair has true
        # overlap i <= ub with i >= t(sz_a+sz_b)/(1+t), so ub passes.
        ub_match = F.least(
            F.col("rn_a") - 1, F.col("rn_b") - 1
        ) + F.least(
            F.col("sz_a") - F.col("rn_a") + 1,
            F.col("sz_b") - F.col("rn_b") + 1,
        )
        cand = (
            pa.join(pb, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(
                F.min(ub_match).alias("__ub"),
                F.first("sz_a").alias("__sa"),
                F.first("sz_b").alias("__sb"),
            )
            .filter(
                F.col("__ub") * F.lit(1.0 + threshold)
                >= F.lit(threshold) * (F.col("__sa") + F.col("__sb"))
                - F.lit(1e-6)
            )
            .select("a", "b")
        )
        fa = sh.toDF("a", "sz_a", "shingle")
        fb = sh.toDF("b", "sz_b", "shingle")
        # work proportional to candidates' shingles, not corpus^2; the
        # set sizes ride the exploded rows (constant per group) and
        # collapse in the same partial aggregate — no join-back.
        inter = (
            cand.join(fa, "a")
            .join(fb, ["b", "shingle"])
            .groupBy("a", "b")
            .agg(
                F.count(F.lit(1)).alias("i"),
                F.first("sz_a").alias("sz_a"),
                F.first("sz_b").alias("sz_b"),
            )
        )
    else:
        sh = ss.select(
            "doc_id", F.size("ss").alias("sz"), F.explode("ss").alias("shingle")
        )
        a = sh.toDF("a", "sz_a", "shingle")
        b = sh.toDF("b", "sz_b", "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a") < F.col("b"))
            .groupBy("a", "b")
            .agg(
                F.count(F.lit(1)).alias("i"),
                F.first("sz_a").alias("sz_a"),
                F.first("sz_b").alias("sz_b"),
            )
        )
    jac = inter.withColumn(
        "jaccard",
        F.round(
            F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 4
        ),
    ).filter(F.col("jaccard") >= threshold)
    out = jac.select("a", "b", "jaccard")
    if not group_identical:
        return out
    # Expand representative pairs back to document pairs. Cross-group:
    # every (da in A, db in B) doc pair has exactly the reps' Jaccard;
    # least/greatest restores the a < b convention (group ids don't
    # order member ids). Within-group: identical sets are Jaccard 1.0
    # exactly (round(m/(m+m-m), 4) = 1.0), emitted directly for
    # threshold <= 1 without ever entering the pair pipeline.
    ma = members.toDF("ga", "da")
    mb = members.toDF("gb", "db")
    cross = (
        out.withColumnRenamed("a", "ga")
        .withColumnRenamed("b", "gb")
        .join(ma, "ga")
        .join(mb, "gb")
        .select(
            F.least("da", "db").alias("a"),
            F.greatest("da", "db").alias("b"),
            "jaccard",
        )
    )
    if threshold > 1.0:
        return cross
    within = (
        ma.join(mb, F.col("ga") == F.col("gb"))
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("a"),
            F.col("db").alias("b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


# Linear-permutation MinHash: one md5 per shingle, then k cheap
# (a*h + b) mod P transforms instead of k md5s (~k× less hashing work
# at 100 TB). P is the smallest prime > 2^32; a_i odd, b_i arbitrary
# fixed constants. Mirrored verbatim in the DuckDB oracle.
MINHASH_P = 4294967311


def minhash_coeffs(k: int) -> list[tuple[int, int]]:
    return [(2 * i + 1, i * 7919 + 1) for i in range(k)]


def hashed_shingle_sets(
    docs: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """(doc_id, hs array<bigint>): the distinct md5-uint32 hashed word
    n-gram shingle set per document, computed entirely row-side — no
    explode, no shuffle. At 100 TB this is a map-only pass; downstream
    operators decide what (if anything) to shuffle.
    """

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
    hs = F.expr(
        f"array_distinct(transform({sh_expr}, "
        "s -> CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)))"
    )
    return base.select("doc_id", hs.alias("hs"))


def _sig_array(k: int) -> Column:
    """MinHash signature from a row-local hashed shingle set ``hs``:
    ONE aggregate fold computes all k mins (the coefficients are the
    closed forms a_i = 2i+1, b_i = 7919i+1 from ``minhash_coeffs``),
    keeping the generated code small and the pass over hs single."""

    return F.expr(
        f"aggregate(hs, transform(sequence(0, {k - 1}), "
        f"i -> CAST({MINHASH_P} AS BIGINT)), "
        f"(acc, h) -> zip_with(acc, sequence(0, {k - 1}), "
        f"(m, i) -> least(m, ((2 * i + 1) * h + i * 7919 + 1) % {MINHASH_P})))"
    )


def minhash_signatures(
    docs: DataFrame, k: int = 16, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """k-permutation MinHash signatures: (doc_id, sig array<long>).

    h_i(s) = (a_i * uint32(md5(s)) + b_i) mod P; the signature is
    fixed-width and computed per-row (map-only, no shuffle), so
    downstream state is O(k) per document regardless of length.
    """

    return hashed_shingle_sets(docs, n, text_col).select(
        "doc_id", _sig_array(k).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """MinHash LSH near-duplicate pairs.

    Band the k-wide signature into ``bands`` groups of k/bands rows;
    candidates collide on at least one full band; candidates are then
    verified with exact Jaccard >= threshold. Returns (a, b, jaccard).
    """

    rows = k // bands
    # A map-only pass builds the hashed shingle set per document;
    # signatures, banding keys, and the exact-Jaccard verify all derive
    # from it row-side. The ONLY shuffles in this pipeline are the
    # band-bucket self-join (uniform keys by construction) and the two
    # candidate->set lookups — nothing proportional to shingle count
    # ever crosses the wire. The shingle-set pass feeds four plan
    # branches (band self-join left/right, verify a/b), so it is
    # materialized ONCE with disk spill rather than recomputed: the md5
    # pass costs ~70% of the query when run four times (round-4
    # measurement at sf0.1 after the repartition fix below: ~1.0s warm
    # materialized vs ~2.3s before it; recomputing was 5.3s). It is a
    # non-eager localCheckpoint, NOT a persist: spill behavior is the
    # same (MEMORY_AND_DISK), but a persist() holds a STRONG
    # CacheManager reference until someone calls unpersist() — which a
    # lazy operator returning an unevaluated DataFrame can never do —
    # so every call leaked a corpus-sized scratch table for the
    # session's lifetime (the r7 bench marathon accumulated these
    # into a uniform ~1.3-1.5x tax on later queries). Checkpoint
    # blocks are reaped by the ContextCleaner as soon as the caller
    # drops the result, with periodic driver GC forced minutely
    # (session.py). The lineage truncation is a scratch table the
    # size of the corpus's distinct shingles, spilled to executor
    # disk like any shuffle file. The DuckDB oracle mirrors the
    # hashing. TRADE (ADVICE r8): checkpoint blocks are executor-local
    # and NOT replicated — on executor loss the truncated lineage
    # cannot recompute them and the job fails instead of recovering.
    # Right for local mode (one JVM, no executor loss); a cluster
    # deployment that needs recompute-on-loss should swap this for
    # persist() + an unpersist handle returned to the caller, or
    # reliable checkpointing to the cluster FS.

    # The hashing pass parallelizes per input split; a small corpus in
    # one parquet row-group would otherwise run it on ONE core. Spread
    # only when the source is under-parallelized (at 100 TB the scan
    # already has >> defaultParallelism splits and this is a no-op).
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)

    sets = materialize(hashed_shingle_sets(docs, n, text_col), eager=False)
    sig = sets.select("doc_id", _sig_array(k).alias("sig"))
    # The band key is the xxhash64 of (band, slice): a fixed 8-byte
    # join key instead of shuffling rows-wide signature arrays. A hash
    # collision can only ADD a candidate pair, and every candidate is
    # verified with exact Jaccard below, so correctness is unaffected.
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(bi),
                        F.slice(F.col("sig"), bi * rows + 1, rows),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("key"),
    )
    left = banded.toDF("a", "key")
    right = banded.toDF("b", "key")
    candidates = (
        left.join(right, ["key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )

    # Verify candidates with exact Jaccard: join each pair to its two
    # hashed sets and intersect row-side (array_intersect) — the
    # quadratic work stays inside the candidate rows.
    a_sets = sets.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha"))
    b_sets = sets.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb"))
    jac = (
        candidates.join(a_sets, "a")
        .join(b_sets, "b")
        .select(
            "a",
            "b",
            F.size(F.array_intersect("ha", "hb")).alias("i"),
            F.size("ha").alias("sz_a"),
            F.size("hb").alias("sz_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("a", "b", "jaccard")


def cross_neardup(
    train: DataFrame,
    eval_docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus near-duplicate decontamination: (train_id, eval_id,
    jaccard) for every TRAIN document whose shingle-set Jaccard with an
    EVAL/benchmark document reaches ``threshold`` — the near-dup
    analog of ``curation.contamination``'s n-gram-overlap gate (GPT-3
    App. C-style decontamination drops the train side of each pair).

    Same candidate discipline as :func:`minhash_lsh_pairs`, but the
    band-bucket join is BIPARTITE (train-banded x eval-banded on the
    xxhash64 band key) instead of a self-join, so no a < b filter and
    no train x train or eval x eval work is ever generated. At 100 TB
    the eval side is a benchmark — thousands of rows against billions
    — so its banded keys and hashed sets broadcast (AQE picks
    BroadcastHashJoin by size) and the whole pass is one map-side scan
    of train; the shuffle-join shape stays correct if the eval side
    ever grows past broadcast range. Signature/banding constants are
    shared with minhash_lsh_pairs, mirrored in the DuckDB oracle.
    """

    rows = k // bands

    def banded_side(docs: DataFrame, out: str):
        # two consumers: band keys + exact verify
        sets = materialize(hashed_shingle_sets(docs, n, text_col), eager=False)
        sig = sets.select("doc_id", _sig_array(k).alias("sig"))
        b = sig.select(
            F.col("doc_id").alias(out),
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bi),
                            F.slice(F.col("sig"), bi * rows + 1, rows),
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("key"),
        )
        return sets, b

    t_sets, t_banded = banded_side(train, "train_id")
    e_sets, e_banded = banded_side(eval_docs, "eval_id")
    candidates = (
        t_banded.join(e_banded, ["key"])
        .select("train_id", "eval_id")
        .dropDuplicates(["train_id", "eval_id"])
    )
    jac = (
        candidates.join(
            t_sets.select(F.col("doc_id").alias("train_id"), F.col("hs").alias("ht")),
            "train_id",
        )
        .join(
            e_sets.select(F.col("doc_id").alias("eval_id"), F.col("hs").alias("he")),
            "eval_id",
        )
        .select(
            "train_id",
            "eval_id",
            F.size(F.array_intersect("ht", "he")).alias("i"),
            F.size("ht").alias("sz_t"),
            F.size("he").alias("sz_e"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("i") / (F.col("sz_t") + F.col("sz_e") - F.col("i")), 4
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return jac.select("train_id", "eval_id", "jaccard")


def connected_components(
    edges: DataFrame,
    src: str = "a",
    dst: str = "b",
    max_iters: int = 25,
    strict: bool = True,
    step: int = 6,
) -> DataFrame:
    """Connected components over an undirected edge list: (id, component)
    where component is the smallest vertex id reachable from ``id``.

    Hash-min label propagation, run to fixpoint: labels push across
    edges and each vertex keeps the minimum. Hop count to converge =
    graph diameter; ``step`` unrolls that many pushes into ONE Spark
    job between materializations (the shortest_cost unroll
    discipline) — min-combine is monotone and idempotent, so
    over-pushing past convergence is harmless and driver rounds drop
    to ceil(diameter/step). Each materialized round is one eager
    checkpoint whose own jobs count a CHANGE FLAG
    computed inside the round's FINAL hop (each vertex's
    before-last-hop label rides along as a tag column that never
    crosses edges — pushed rows carry NULL — so min(tag) recovers it
    without a probe join). Tagging the LAST hop rather than the round
    start means changed==0 ⟺ one full push was a no-op ⟺ true
    fixpoint — a round whose last hop lands past convergence
    terminates immediately, no pure confirm round. Near-duplicate
    graphs are the intended input — many tiny star/clique components,
    diameter a handful, so the default step converges them in ONE
    round. Adversarial long-chain graphs are covered too: every
    non-final round ends with a POINTER JUMP (component <-
    label(component) — the path-compression idea behind Kiveris et
    al., "Connected Components in MapReduce and Beyond"), doubling
    the labels' reach per round, so driver rounds are O(log diameter)
    and the default budget (25 rounds x step 6) converges
    million-vertex paths, not just star-shaped dedup graphs.

    ``strict=True`` (default) raises if ``max_iters`` rounds (of
    ``step`` hops each) pass without reaching the fixpoint — a
    silently-unconverged labeling merges fewer components than
    reachability implies (the kcore convergence discipline).
    """

    # Cache the input edges ONCE (r12): the symmetrization below
    # references them in BOTH union branches, so without the boundary
    # every caller's pair PIPELINE (banded MinHash verify, fuzzy
    # deletion-variant join, ...) computes twice. Lazy — sym's round-1
    # materialization pulls it in.
    edges = materialize(edges, eager=False)
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .transform(materialize, eager=False)
    )
    # Lazy (r12, the scc defer discipline): the vertex table is
    # consumed only by round 1's hop chain — its materialization folds
    # into that round's job instead of launching its own.
    labels = (
        sym.select(F.col("u").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("component"))
        .transform(materialize, eager=False)
    )
    ctype = dict(labels.dtypes)["component"]
    for _ in range(max_iters):
        cur = labels
        for _hop in range(max(0, step - 1)):
            pushed = sym.join(
                cur.withColumnRenamed("id", "u"), "u"
            ).select(F.col("v").alias("id"), "component")
            cur = (
                cur.union(pushed)
                .groupBy("id")
                .agg(F.min("component").alias("component"))
            )
        tagged = cur.withColumn("__old", F.col("component"))
        pushed = sym.join(
            tagged.withColumnRenamed("id", "u"), "u"
        ).select(
            F.col("v").alias("id"),
            "component",
            F.expr(f"CAST(NULL AS {ctype})").alias("__old"),
        )
        new, changed = materialize_count(
            tagged.select("id", "component", "__old")
            .union(pushed)
            .groupBy("id")
            .agg(
                F.min("component").alias("component"),
                F.min("__old").alias("__old"),
            ),
            F.col("component") < F.col("__old"),
        )
        labels = new.drop("__old")
        if changed == 0:
            break
        # Pointer jump (label doubling): component <- label(component).
        # Every label IS a vertex id of the same component (min over
        # labels seen, all vertex ids), so label(label(v)) exists, is
        # <= label(v) (labels are monotone, label includes self), and
        # stays in-component — reach DOUBLES per round on top of the
        # additive ``step`` hops, so driver rounds are O(log diameter)
        # instead of O(diameter/step): the 10k-edge path converges in
        # ~11 rounds where pure hash-min needs ~1,667. The fixpoint
        # test is untouched — it still fires only when a full hop is a
        # no-op, which remains iff labels are constant per component.
        # The join key is skewed toward component roots, but each hot
        # key matches exactly ONE right row (the root's own label) —
        # the AQE skew-join splits the fat side cleanly at scale.
        # Lazy (r12, the scc defer discipline): the jump reads only the
        # already-materialized round table; deferring its own
        # materialization into the next round's checkpoint job removes one
        # job launch per non-final round without re-computation.
        labels = (
            labels.join(labels.toDF("component", "__c2"), "component")
            .select("id", F.col("__c2").alias("component"))
            .transform(materialize, eager=False)
        )
    else:
        if strict:
            raise RuntimeError(
                f"connected_components: no fixpoint within {max_iters} "
                "rounds (graph diameter exceeds the budget); raise "
                "max_iters or use strict=False for the best-effort "
                "labeling"
            )
    return labels


def dedup_groups(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate group resolution: (doc_id, canonical).

    MinHash-LSH pairs (:func:`minhash_lsh_pairs`) form an undirected
    similarity graph; connected components collapse chains of pairwise
    near-dups into groups (a~b, b~c => one group even when a!~c), and
    each document maps to its group's smallest doc_id. Documents with
    no near-dup partner are their own canonical. A curation pipeline
    keeps rows where doc_id = canonical — one deterministic survivor
    per duplicate cluster.
    """

    pairs = minhash_lsh_pairs(docs, k, bands, n, threshold, text_col)
    comp = connected_components(pairs, "a", "b")
    return (
        docs.select("doc_id")
        .join(comp.withColumnRenamed("id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("canonical"),
        )
    )


def dedup_keep_best(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Quality-aware duplicate-cluster resolution: (doc_id, canonical)
    where canonical is the HIGHEST-``quality_col`` member of the
    document's near-dup cluster (ties to the smallest doc_id), not the
    smallest id as in :func:`dedup_groups`. This is the curation form
    production pipelines actually want — "of these five crawls of the
    same page, keep the longest/cleanest one" — while dedup_groups'
    min-id canonical is the arbitrary-survivor form.

    Same candidate discipline as dedup_groups (banded MinHash-LSH
    pairs -> hash-min connected components); the only extra work is
    ONE first_value window PARTITIONED BY component (cluster-sized
    partitions — bounded by the largest duplicate cluster, never a
    global sort): the head of each partition under (quality desc,
    doc_id asc) IS the cluster's best, so every member reads its
    canonical off the same window — no rn=1 filter and no
    component-keyed join-back (the r9 form shuffled the membership
    table twice more for exactly that). Singletons are their own
    canonical.
    """

    pairs = minhash_lsh_pairs(docs, k, bands, n, threshold, text_col)
    comp = connected_components(pairs, "a", "b")
    memb = docs.select("doc_id", quality_col).join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        quality_col,
    )
    w = Window.partitionBy("component").orderBy(
        F.desc(quality_col), F.asc("doc_id")
    )
    return memb.select(
        "doc_id", F.first("doc_id").over(w).alias("canonical")
    )


def fuzzy_match_groups(
    df: DataFrame,
    id_col: str = "id",
    s_col: str = "s",
    max_dist: int = 1,
) -> DataFrame:
    """Entity resolution end-to-end: cluster rows whose strings chain
    within Levenshtein distance ``max_dist`` (a~b, b~c => one entity
    even when dist(a, c) > max_dist — transitive closure over the
    :func:`fuzzy_match_pairs` graph, the record-linkage analog of
    ``dedup_groups``) and map every row to its cluster's smallest id.
    Returns (id, canonical); rows with no fuzzy partner are their own
    canonical, and a linkage pipeline keeps id = canonical.
    """

    pairs = fuzzy_match_pairs(df, id_col, s_col, max_dist)
    comp = connected_components(pairs, "a", "b")
    return (
        df.select(F.col(id_col).cast("long").alias("id"))
        .join(comp, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("canonical"),
        )
    )


def simhash(docs: DataFrame, bits: int = 32, text_col: str = "text") -> DataFrame:
    """Per-document SimHash over the distinct word set: (doc_id, simhash).

    For each bit b: sum +1/-1 over tokens by whether bit b of the
    token's ``bits``-wide md5-prefix hash is set; the fingerprint sets
    bit b iff the sum is positive. Pure integer arithmetic -> portable
    to SQL. ``bits`` <= 60 (the fingerprint lives in a signed 64-bit
    column); WIDER fingerprints are the density lever for banded
    Hamming near-dup search — block width bits/bands fixes the bucket
    count at 2^(bits/bands), so a corpus that outgrows its buckets
    needs more bits, not more bands (more bands with the same distance
    budget only loosens the pigeonhole filter).

    Engine: an Arrow-batched numpy kernel, map-only. A SQL form is a
    PER-TOKEN interpreted fold (aggregate over zip_with over ``bits``
    counters — tokens x bits lambda evaluations per document); at sf1
    it dominated simhash_neardup's 24s wall. The kernel is
    EXACT-INTEGER end to end, so it matches the SQL twin bit for bit:
    hashlib.md5(token).hexdigest()[:nhex] equals substring(md5(token),
    1, nhex) (same UTF-8 MD5, same hex prefix), the +1/-1 bit counters
    are an integer sum over the DISTINCT token set (order-free), and
    the fingerprint packs s > 0 bits. NULL text yields a NULL
    fingerprint. Tokenization mirrors split(lower(text), ' ')
    verbatim: literal single-space split (consecutive spaces produce
    empty tokens, kept once by distinct); Python str.lower and Java
    toLowerCase diverge only on exotic locale-sensitive code points.
    """

    if not 0 < bits <= 60:
        raise ValueError(f"bits must be in 1..60 (got {bits})")
    nhex = (bits + 3) // 4
    shifts = None

    def fp(batches):
        nonlocal shifts
        if shifts is None:
            shifts = np.arange(bits, dtype=np.uint64)
        for pdf in batches:
            out = []
            for t in pdf[text_col]:
                if t is None:
                    out.append(None)
                    continue
                toks = set(t.lower().split(" "))
                hs = np.array(
                    [
                        int(
                            hashlib.md5(tok.encode("utf-8")).hexdigest()[
                                :nhex
                            ],
                            16,
                        )
                        for tok in toks
                    ],
                    dtype=np.uint64,
                )
                ones = ((hs[:, None] >> shifts) & np.uint64(1)).astype(
                    np.int64
                )
                s = ones.sum(axis=0) * 2 - len(hs)
                val = int(
                    (
                        (s > 0).astype(np.int64)
                        << np.arange(bits, dtype=np.int64)
                    ).sum()
                )
                out.append(val)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "simhash": pd.Series(out, dtype="object"),
                }
            )

    spark = docs.sparkSession
    src = docs.select("doc_id", text_col)
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    id_type = dict(src.dtypes)["doc_id"]
    return src.mapInPandas(fp, f"doc_id {id_type}, simhash long")


def simhash_neardup_pairs(
    docs: DataFrame,
    max_distance: int = 3,
    bits: int = 32,
    bands: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """Document pairs whose SimHash fingerprints differ in at most
    ``max_distance`` bits: (a, b, dist) with a < b — Hamming-LSH
    near-duplicate detection over :func:`simhash` fingerprints.

    Scale path (the Manku/Jain/Sarma web-dedup construction): split
    the ``bits``-bit fingerprint into ``bands`` equal bit-blocks; by
    pigeonhole, any pair within ``max_distance < bands`` bit flips
    agrees EXACTLY on at least one block, so the self-join runs on
    (band, block-bits) keys — candidates are fingerprint-block
    collisions, never an all-pairs product — and the exact Hamming
    distance (bit_count of xor, JVM-side) verifies candidates.
    Requires ``max_distance < bands`` and ``bands | bits``.
    """

    if max_distance >= bands:
        raise ValueError(
            f"pigeonhole requires max_distance < bands "
            f"({max_distance} >= {bands})"
        )
    if bits % bands:
        raise ValueError(f"bands must divide bits ({bands} ∤ {bits})")
    width = bits // bands
    mask = (1 << width) - 1
    sh = simhash(docs, bits, text_col)
    banded = (
        sh.select(
            "doc_id",
            "simhash",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {bands - 1}), i -> "
                    f"named_struct('band', i, 'key', "
                    f"(simhash >> (i * {width})) & {mask}))"
                )
            ).alias("bk"),
        )
        .select("doc_id", "simhash", "bk.band", "bk.key")
        # Materialize ONCE (the minhash discipline, dedup.py ~:248):
        # both sides of the self-join read this table, and without the
        # checkpoint each side re-runs the interpreted per-token
        # fingerprint fold — measured 3.5x wall at sf0.1 (8.5s -> 2.4s).
        # Lazy (r12): the self-join's first side materializes it.
        .transform(materialize, eager=False)
    )
    a = banded.toDF("a", "ha", "band", "key")
    b = banded.toDF("b", "hb", "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ha", "hb")
        .distinct()  # a pair may collide in several bands
        .withColumn(
            "dist",
            F.expr("CAST(bit_count(ha ^ hb) AS INT)"),
        )
        .filter(F.col("dist") <= max_distance)
        .select("a", "b", "dist")
    )


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    partitions: int = 0,
) -> DataFrame:
    """Append a contiguous 1-based global row number ``rn`` in
    ``order_cols`` order — WITHOUT the single-partition window a naive
    ``row_number() OVER (ORDER BY ...)`` plans. The scalable form:
    range-partition on the order columns (Spark's distributed sort),
    number WITHIN each partition, then shift by the partition-size
    prefix sums — the sizes are one driver-small collect (one row per
    partition), broadcast back as a literal CASE map. The caller's
    ``order_cols`` must be a total order (append a unique id column)
    or numbering is nondeterministic.
    """

    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    ranged = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .transform(materialize, eager=False)
    )
    sizes = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(
            F.count(F.lit(1)).alias("cnt")
        ).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    off = F.element_at(
        F.create_map(
            *[
                F.lit(x)
                for pid in sorted(offsets)
                for x in (pid, offsets[pid])
            ]
        ),
        F.col("__pid"),
    ) if offsets else F.lit(0)
    return ranged.withColumn(
        "rn", (F.row_number().over(w) + off).cast("long")
    ).drop("__pid")


def sorted_neighborhood_pairs(
    docs: DataFrame,
    window: int = 5,
    key_chars: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-neighborhood blocking (the record-linkage classic,
    Hernández & Stolfo 1995): order the corpus by a normalized sort
    key and emit every pair within ``window`` positions — the
    candidate generator for near-dup families whose errors cluster
    under sorting (prefix typos, near-identical boilerplate heads)
    that hash blocking misses. Returns (a, b, gap) with a < b by
    position and ``gap`` the positional distance (1..window).

    Scale shape: the global order comes from :func:`global_row_number`
    (range partition + offset shift — no single-partition window);
    the neighbor join BUCKETIZES rn by ``window`` so each row joins
    its own and the next bucket with a residual gap filter (the
    interval-join discipline) — an equi-join on uniform integer keys,
    never a range join, output exactly n*window pairs.
    """

    key = F.substring(
        F.lower(F.regexp_replace(F.col(text_col), r"\s+", " ")),
        1,
        key_chars,
    )
    base = global_row_number(
        docs.select(
            F.col(id_col).alias("id"), key.alias("__k")
        ),
        ["__k", "id"],
    ).select("id", "rn")
    left = base.select(
        F.col("id").alias("a"),
        F.col("rn").alias("rn_a"),
        F.explode(
            F.array(
                F.expr(f"rn div {window}"),
                F.expr(f"rn div {window} + 1"),
            )
        ).alias("__blk"),
    )
    right = base.select(
        F.col("id").alias("b"),
        F.col("rn").alias("rn_b"),
        F.expr(f"rn div {window}").alias("__blk"),
    )
    return (
        left.join(right, "__blk")
        .filter(
            (F.col("rn_b") > F.col("rn_a"))
            & (F.col("rn_b") - F.col("rn_a") <= window)
        )
        .select(
            "a", "b", (F.col("rn_b") - F.col("rn_a")).alias("gap")
        )
    )


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str = "id",
    s_col: str = "s",
    max_dist: int = 1,
) -> DataFrame:
    """Approximate string self-join — record linkage / entity
    resolution over short keys (names, titles, product codes): every
    pair of rows whose strings are within Levenshtein distance
    ``max_dist``, found WITHOUT an all-pairs comparison. Returns
    (a, b, dist) with a < b by id.

    Candidate generation is symmetric-deletion blocking (FastSS,
    Bocek et al. 2007): two strings within edit distance 1 must share
    an equal member of their {0,1}-deletion neighborhoods — delete the
    substituted/inserted position and both sides collapse onto the
    same string, so the blocking is COMPLETE (no recall loss; the
    exact-oracle gate checks equality with the brute-force join).
    Only ``max_dist=1`` is supported: the d-deletion neighborhood
    grows O(len^d), and practical linkage stacks raise the radius by
    re-running on normalized keys instead.

    Scale shape: the explode factor is len(s)+1 rows per input row
    (short keys by assumption); variants shuffle as constant-width
    xxhash64 keys, never strings; one uniform-key equi-join generates
    candidates, a distinct collapses multi-variant matches, and the
    exact ``levenshtein`` verify runs per CANDIDATE, not per pair of
    rows. Skew note: k near-identical strings share variant keys and
    verify O(k^2) candidates — the same bucket-quadratic behavior as
    every LSH family; the output itself is Θ(k^2) there, so the work
    is output-bound.
    """

    if max_dist != 1:
        raise ValueError("fuzzy_match_pairs supports max_dist=1 only")
    base = spread_input(
        df.select(F.col(id_col).alias("id"), F.col(s_col).alias("s")).filter(
            F.col("s").isNotNull()
        )
    )
    variants = F.array_distinct(
        F.concat(
            F.array(F.col("s")),
            F.expr(
                "transform(sequence(1, length(s)), i -> "
                "concat(substr(s, 1, i - 1), substr(s, i + 1)))"
            ),
        )
    )
    # Materialize ONCE (r12, the minhash/simhash discipline): both
    # self-join sides read this table, and without the boundary the
    # per-row deletion-variant explode + hash re-runs per side.
    keyed = base.select(
        "id", "s", F.explode(variants).alias("__v")
    ).select("id", "s", F.xxhash64("__v").alias("__k")).transform(
        materialize, eager=False
    )
    left = keyed.select(
        F.col("id").alias("a"), F.col("s").alias("__sa"), "__k"
    )
    right = keyed.select(
        F.col("id").alias("b"), F.col("s").alias("__sb"), "__k"
    )
    cands = (
        left.join(right, "__k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "__sa", "__sb")
        .distinct()
    )
    return (
        cands.withColumn(
            "dist", F.levenshtein(F.col("__sa"), F.col("__sb")).cast("long")
        )
        .filter(F.col("dist") <= max_dist)
        .select("a", "b", "dist")
    )


def minhash_est_error(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Sketch-quality eval for the MinHash family: for every LSH
    candidate pair, the signature-ESTIMATED Jaccard (fraction of equal
    signature components — the unbiased MinHash estimator) next to the
    EXACT shingle-set Jaccard and their absolute error. This is the
    eval that qualifies a (k, bands) setting the way ann_recall
    qualifies nprobe: run it on a sample, read the error distribution,
    size k. Returns (a, b, est, jaccard, abs_err).

    Scale shape: identical to minhash_lsh_pairs (the signatures, band
    keys, and shingle sets are all row-local; the only shuffles are
    the uniform band-bucket join and the candidate lookups) plus one
    row-local zip_with compare per CANDIDATE. Candidates found via
    xxhash64 band keys are re-verified against the EXACT band slices
    (array equality) so a 64-bit band-key collision cannot admit a
    pair the exact banding would not — the declared oracle enumerates
    exact-band candidates, and this keeps the two candidate sets
    identical by construction, not by luck.
    """

    rows = k // bands
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target)
    # ONE materialized side table carrying both the signature and the
    # hashed set (r12): the r9 form checkpointed sets and sig
    # separately and joined candidates to each — four id-keyed joins
    # of the pair table. Candidates now join this table once per side,
    # reading est and exact Jaccard from the same row.
    sig = (
        hashed_shingle_sets(docs, n, text_col)
        .select("doc_id", "hs", _sig_array(k).alias("sig"))
        .transform(materialize, eager=False)
    )
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(bi),
                        F.slice(F.col("sig"), bi * rows + 1, rows),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("key"),
    )
    left = banded.toDF("a", "key")
    right = banded.toDF("b", "key")
    candidates = (
        left.join(right, ["key"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .dropDuplicates(["a", "b"])
    )
    sa = sig.select(
        F.col("doc_id").alias("a"),
        F.col("sig").alias("sa"),
        F.col("hs").alias("ha"),
    )
    sb = sig.select(
        F.col("doc_id").alias("b"),
        F.col("sig").alias("sb"),
        F.col("hs").alias("hb"),
    )
    exact_band = F.expr(
        " OR ".join(
            f"(slice(sa, {bi * rows + 1}, {rows}) = "
            f"slice(sb, {bi * rows + 1}, {rows}))"
            for bi in range(bands)
        )
    )
    est = (
        F.expr(
            "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), "
            "0, (acc, v) -> acc + v)"
        )
        / F.lit(float(k))
    )
    out = (
        candidates.join(sa, "a")
        .join(sb, "b")
        .filter(exact_band)
        .select(
            "a",
            "b",
            F.round(est, 4).alias("est"),
            F.round(
                F.size(F.array_intersect("ha", "hb"))
                / (
                    F.size("ha")
                    + F.size("hb")
                    - F.size(F.array_intersect("ha", "hb"))
                ),
                4,
            ).alias("jaccard"),
        )
        .withColumn(
            "abs_err", F.round(F.abs(F.col("est") - F.col("jaccard")), 4)
        )
    )
    return out


def lsh_precision_recall(
    docs: DataFrame,
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Banding-quality eval: precision/recall of the production
    MinHash-LSH pair set (:func:`minhash_lsh_pairs` — banded
    candidates, hashed-set Jaccard verify) against the EXACT
    set-similarity join at the same threshold (:func:`jaccard_pairs`
    with the prefix filter — ground truth over raw shingles). One
    row: (n_true, n_found, tp, fp, fn, precision, recall).

    This completes the sketch-eval family: ann_recall qualifies an
    IVF nprobe, minhash_est_error sizes k from per-pair estimator
    error, and this measures what the BANDING loses end-to-end —
    recall < 1 comes from true pairs whose signatures never collide
    on a full band; fp counts pairs the hashed-set verify admits but
    raw-shingle truth rejects (md5-uint32 collisions — in practice
    zero). Run it on a corpus sample when qualifying a (k, bands)
    setting; both inputs are the production scale paths (banded
    candidates; prefix-filtered truth), so the eval itself carries no
    all-pairs step.
    """

    found = (
        minhash_lsh_pairs(docs, k, bands, n, threshold, text_col)
        .select("a", "b")
        .withColumn("__f", F.lit(1))
    )
    truth = (
        jaccard_pairs(docs, n, threshold, text_col, prefix_filter=True)
        .select("a", "b")
        .withColumn("__t", F.lit(1))
    )
    j = found.join(truth, ["a", "b"], "full").select(
        F.coalesce(F.col("__f"), F.lit(0)).alias("f"),
        F.coalesce(F.col("__t"), F.lit(0)).alias("t"),
    )
    agg = j.agg(
        F.sum(F.col("t")).cast("long").alias("n_true"),
        F.sum(F.col("f")).cast("long").alias("n_found"),
        F.sum(F.col("f") * F.col("t")).cast("long").alias("tp"),
        F.sum(F.col("f") * (1 - F.col("t"))).cast("long").alias("fp"),
        F.sum((1 - F.col("f")) * F.col("t")).cast("long").alias("fn"),
    )
    return agg.select(
        "n_true",
        "n_found",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("n_found") > 0,
            F.round(F.col("tp") / F.col("n_found"), 4),
        )
        .otherwise(F.lit(1.0))
        .alias("precision"),
        F.when(
            F.col("n_true") > 0, F.round(F.col("tp") / F.col("n_true"), 4)
        )
        .otherwise(F.lit(1.0))
        .alias("recall"),
    )


def cdc_chunks(
    docs: DataFrame,
    divisor: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """Content-defined chunking (CDC) + chunk-level duplication
    signal: split every document into variable-length token chunks at
    CONTENT-DEFINED boundaries — a boundary falls after token i
    whenever the md5-uint32 hash of the bigram (w[i], w[i+1]) is
    ≡ 0 mod ``divisor`` — then report, per chunk, how many DISTINCT
    documents in the corpus share its content hash. Returns (doc_id,
    chunk_id, n_tokens, chunk_hash, n_docs). Expected chunk length is
    ~``divisor`` tokens.

    Why content-defined (the rsync/LBFS/FastCDC idea): fixed-width
    chunks lose all alignment after one token is inserted upstream,
    so shared passages stop matching; CDC boundaries depend only on
    the LOCAL bigram, so an edit perturbs at most its own chunk and
    every other shared chunk still hashes equal — the dedup
    granularity between exact-document (md5) and substring
    (dup_spans), and the form storage-level dedup actually deploys.

    Shape (r12): the ENTIRE chunking is row-local — boundary
    positions, chunk slicing, token counts, and chunk hashes are all
    array expressions over the document's own token array, and only
    the finished (doc_id, chunk_id, n_tokens, chunk_hash) rows ever
    explode. The r10 form exploded every TOKEN, ran a doc-partitioned
    running-sum window (one doc_id exchange + sort) and re-assembled
    chunks with a collect_list aggregate (a second exchange); a
    chunk's id is just its index among the boundary-delimited slices,
    so both corpus-token-sized shuffles were computing something the
    row already knew. What remains is exactly the irreducible part:
    one uniform chunk_hash aggregation + one chunk_hash-keyed join
    for the corpus-wide n_docs — linear at any corpus size."""

    words = F.split(F.lower(F.col(text_col)), " ")
    base = spread_input(docs).select("doc_id", words.alias("w")).filter(
        F.size("w") >= 1
    )
    # bp = ascending 0-based positions i (i >= 1) where a boundary
    # falls BEFORE token i: the bigram (w[i-1], w[i]) hashes to
    # 0 mod divisor. Chunk ci then spans tokens
    # [bp[ci-1], bp[ci]) with bp[-1] := 0 and bp[size] := size(w) —
    # identical to the running sum of boundary flags the r10 window
    # computed, because that sum increments exactly at each bp entry.
    # (sequence(0, ...) not sequence(1, ...): a 1-token doc would make
    # the latter a DESCENDING [1, 0] sequence.)
    withbp = base.select(
        "doc_id",
        "w",
        F.expr(
            "filter(sequence(0, size(w) - 1), i -> i >= 1 AND "
            "CAST(conv(substring(md5(concat_ws('_', w[i-1], w[i])), "
            f"1, 8), 16, 10) AS BIGINT) % {divisor} = 0)"
        ).alias("bp"),
    )
    chunk_structs = F.expr(
        "transform(sequence(0, size(bp)), ci -> named_struct("
        "'chunk_id', CAST(ci AS BIGINT), "
        "'toks', slice(w, IF(ci = 0, 1, bp[ci - 1] + 1), "
        "IF(ci = size(bp), size(w), bp[ci]) "
        "- IF(ci = 0, 0, bp[ci - 1]))))"
    )
    chunks = (
        withbp.select("doc_id", F.explode(chunk_structs).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.size("c.toks").cast("bigint").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("c.toks"))).alias("chunk_hash"),
        )
        .transform(materialize, eager=False)  # sharing count AND the join
    )
    shared = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return chunks.join(shared, "chunk_hash").select(
        "doc_id", "chunk_id", "n_tokens", "chunk_hash", "n_docs"
    )
