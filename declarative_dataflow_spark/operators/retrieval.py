"""Lexical retrieval over the document corpus: BM25 top-k.

Beyond-reference extension (BASELINE.json north star): training-data
curation routinely needs "find the documents most like this probe" —
seeding quality classifiers, pulling domain slices, auditing what a
filter removed. BM25 (Robertson/Spärck Jones, the Lucene-default
scoring) is the standard lexical form of that query.

Scale shape: the query's term list is a literal filter pushed into the
token explode, so the corpus-side work is one scan + two uniform-key
aggregations (per-doc term frequencies, per-doc lengths); document
frequencies aggregate to |query| rows and broadcast back, and the
corpus-wide (N, avgdl) statistics ride in on a one-row broadcast.
Per-term partial scores round to 6 decimals and sum in DECIMAL(18,6)
(order-independent — the PageRank discipline), and the final top-k is
orderBy + limit, which Catalyst lowers to TakeOrderedAndProject
(per-partition k-heaps; no global sort partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..scratch import materialize


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents by BM25 score against ``query_terms``.

    idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))   (the Lucene form)
    score(d) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b + b*dl/avgdl))

    Returns (doc_id, score, rk); ties break by doc_id so the ranking
    is total and engine-portable.

    r12 (guide §2.4, the batch-7 base-array discipline): ONE corpus
    tokenize feeds everything. The r6 form exploded every token,
    shuffled the full token stream into the per-doc length aggregate,
    and — because the dl chain and the filtered tf chain are not
    canonically identical subtrees — Spark re-ran the corpus tokenize
    for every consumer (executed plan: 8 document scans, zero reuse).
    Now the doc-scale token-ARRAY table materializes once (lazy
    localCheckpoint, one array row per document); dl = size(array) is
    map-side, the tf explode re-derives map-side from the cached
    arrays and filters to the |q| query literals BEFORE its shuffle,
    so nothing corpus-token-scale ever crosses the wire. (A first cut
    computed tf row-locally with size(filter(arr, == t)) per term —
    higher-order functions fall out of whole-stage codegen and
    re-evaluated the split per expression: measured 2.3x WORSE at sf1.
    The codegen explode over cached arrays wins.) Identical on any
    input: split emits [""] for empty non-null text exactly like the
    exploded form, so the isNotNull filter reproduces the old dl row
    set.

    Fault-tolerance note (ADVICE r12): the base table is CORPUS-scale
    and localCheckpoint stores it as unreplicated executor-local
    blocks with TRUNCATED lineage — on a multi-node cluster an
    executor loss (or dynamic-allocation decommission) during the
    query fails it unrecoverably, and the scratch space scales with
    the corpus rather than the dimension-sized state other operators
    checkpoint. That trade is deliberate here: the alternative
    (persist(DISK_ONLY), recomputable lineage) re-tokenizes the lost
    partitions but keeps the full plan under every consumer, which
    re-inflates the per-consumer Catalyst cost this rewrite removed.
    Deployments with preemptible executors should prefer
    spark.decommission.enabled block migration or swap this boundary
    for persist(DISK_ONLY) and accept the compile-cost regression.
    """

    base = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            "doc_id",
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__t"),
        )
        .transform(materialize, eager=False)
    )
    dl = base.select("doc_id", F.size("__t").cast("long").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qtoks = base.select("doc_id", F.explode("__t").alias("term")).filter(
        F.col("term").isin(list(query_terms))
    )
    tf = qtoks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return rank_bm25(tf, df_, dl, stats, k=k, k1=k1, b=b)


def bm25_part_column(k1: float = 1.2, b: float = 0.75):
    """The per-(doc, term) BM25 partial score over columns
    (tf, df, dl, n_docs, avgdl) — rounded to 6 decimals and cast to
    DECIMAL(18,6) so score sums are order-independent. Shared verbatim
    by the batch operator and the maintained index (the PageRank
    discipline: one expression, every path)."""

    return (
        F.round(
            F.log(
                1.0
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            )
            * (F.col("tf") * (k1 + 1.0))
            / (
                F.col("tf")
                + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("part")
    )


def rank_bm25(
    tf: DataFrame,
    df_: DataFrame,
    dl: DataFrame,
    stats: DataFrame,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score and rank from the BM25 state tables: tf(doc_id, term,
    tf), df_(term, df), dl(doc_id, dl), stats one row (n_docs,
    avgdl). The df / stats sides broadcast; the final top-k lowers to
    TakeOrderedAndProject."""

    from pyspark.sql import Window

    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", bm25_part_column(k1, b))
    )
    top = (
        scored.groupBy("doc_id")
        .agg(F.sum("part").cast("double").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def tfidf_topk_terms(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-k keywords by TF-IDF (tf * ln(N/df)) — the
    keyword-extraction primitive behind corpus browsing, cluster
    labeling, and topic slicing. Returns (doc_id, term, score, rk);
    ties break by term so the ranking is total and engine-portable.

    Scale shape: one token explode; tf aggregates on the uniform
    (doc_id, term) key; df = groupBy('term') count of the same tf
    table joined back (r13, ADVICE r12: the r12 term-WINDOW form put
    every (doc, term) row of a stopword — a term present in EVERY
    document, this operator's common case — into ONE window task with
    no map-side reduction and no AQE help; the aggregate form partial-
    reduces map-side and the join back is AQE-skew-splittable. The tf
    subtree under both consumers is canonically identical, so runtime
    exchange reuse runs the explode+aggregate once — the r6 problem
    this replaced was TWO SEPARATE compilations of the explode, not
    the join itself); the final rank is a window PARTITIONED by
    doc_id — parallel across documents, never a global sort.
    """

    from pyspark.sql import Window

    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias(
            "term"
        ),
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # Materialize tf once: its two consumers (the df aggregate and the
    # join's probe side) do NOT canonicalize to a reusable exchange
    # (verified on the executed plan: 6 document scans, 0 Reused
    # markers without the boundary; 0 extra scans with it), and the
    # duplicated subtree is the corpus explode + (doc, term) aggregate
    # — exactly the batch-12 "boundary pays" criterion. The df partial
    # aggregate scans every partition, so the lazy checkpoint
    # materializes fully (no early-exit hazard).
    tf = materialize(tf, eager=False)
    # count(*) per term == the old per-term row count of tf (each row
    # is one distinct (doc, term) pair) — identical df.
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    tf = tf.join(dft, "term")
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = tf.crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        F.round(
            F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
        ).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "term"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
    )

def rrf_fusion(
    docs: DataFrame,
    embeddings: DataFrame,
    query_terms: list[str],
    query_vec_id: int = 0,
    k: int = 10,
    depth: int = 50,
    c: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion (Cormack et al.
    2009): fuse the lexical BM25 top-``depth`` and the dense cosine
    top-``depth`` (the embedding row whose vec_id equals the doc_id)
    with rrf(d) = sum over lists of 1/(c + rank_d); documents absent
    from a list contribute 0. Returns (doc_id, rrf, rk_bm, rk_cos, rk)
    — the per-list ranks kept for audit; ties break by doc_id.

    Scale shape: both inputs are top-``depth`` lists (k-heap bounded,
    never corpus-sized), so the fusion join, the rounding, and the
    final orderBy+limit all run on <= 2*depth rows. The engine
    parity argument: 1/(c+rank) is one correctly-rounded IEEE divide
    on identical integers, the two-term sum is one correctly-rounded
    add, and the result rounds to 9 decimals.
    """

    from pyspark.sql import Window

    from . import similarity

    bm = bm25_topk(docs, query_terms, k=depth, text_col=text_col).select(
        "doc_id", F.col("rk").alias("rk_bm")
    )
    cos = similarity.cosine_topk(
        embeddings, query_ids=[query_vec_id], k=depth
    ).select(
        F.col("neighbor").alias("doc_id"),
        F.col("rank").cast("long").alias("rk_cos"),
    )
    fused = bm.join(cos, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (F.lit(c) + F.col("rk_bm")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(c) + F.col("rk_cos")), F.lit(0.0)),
            9,
        ).alias("rrf"),
        "rk_bm",
        "rk_cos",
    )
    top = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(k)
    w = Window.orderBy(F.col("rrf").desc(), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("long"))


def retrieval_eval(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Retrieval-quality metrics for the cosine index against label
    ground truth (a neighbor is RELEVANT iff it shares the query's
    label): per query, the relevant-corpus size, top-k hit count,
    MRR, and nDCG@k. The eval loop every embedding/index change runs
    before shipping — expressed as one declarative query so it runs
    where the index runs. Returns (q, n_rel, hits, mrr, ndcg).

    Engine portability: the log2 rank discounts are PYTHON-computed
    constants injected as shortest-round-trip literals into both
    engines — cross-engine libm log2 may differ in the last ulp, so
    neither engine ever calls log2 at query time. DCG sums its <= k
    per-rank terms in DECIMAL (order-independent); MRR's 1/rank and
    the final DCG/IDCG are single exact-operand double divisions.

    Scale shape: rides :func:`similarity.cosine_topk` (broadcast
    probes, one corpus scan) plus two broadcast joins of label tables
    and a per-query aggregation over <= k rows — probe-bounded, never
    corpus-quadratic.
    """

    import math

    from .similarity import cosine_topk

    disc = [1.0 / math.log2(i + 1) for i in range(1, k + 1)]
    idcg = []
    acc = 0.0
    for d in disc:
        acc += d
        idcg.append(acc)

    def dlits(xs: list[float]) -> str:
        return ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in xs)

    top = cosine_topk(embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col)
    labels = embeddings.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl")
    )
    lbl_counts = embeddings.groupBy(
        F.col(label_col).alias("__qlbl")
    ).agg(F.count(F.lit(1)).alias("__lcnt"))
    qlab = labels.filter(F.col("__id").isin(query_ids)).select(
        F.col("__id").alias("q"), F.col("__lbl").alias("__qlbl")
    )
    scored = (
        top.join(F.broadcast(qlab), "q")
        .join(
            F.broadcast(labels.withColumnRenamed("__id", "neighbor")),
            "neighbor",
        )
        .join(F.broadcast(lbl_counts), "__qlbl")
        .withColumn(
            "__rel",
            (F.col("__lbl") == F.col("__qlbl")).cast("int"),
        )
        .withColumn(
            "__term",
            F.expr(
                f"CAST(round(element_at(array({dlits(disc)}), rank) "
                "* __rel, 15) AS DECIMAL(24,15))"
            ),
        )
    )
    agg = scored.groupBy("q").agg(
        (F.max("__lcnt") - 1).alias("n_rel"),
        F.sum("__rel").cast("long").alias("hits"),
        F.min(F.when(F.col("__rel") == 1, F.col("rank"))).alias("__fr"),
        F.sum("__term").alias("__dcg"),
    )
    ideal = F.expr(
        f"element_at(array({dlits(idcg)}), "
        f"CAST(least({k}, n_rel) AS INT))"
    )
    return agg.select(
        "q",
        "n_rel",
        "hits",
        F.round(
            F.coalesce(1.0 / F.col("__fr"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.when(F.col("n_rel") <= 0, F.lit(0.0))
        .otherwise(
            F.round(F.col("__dcg").cast("double") / ideal, 6)
        )
        .alias("ndcg"),
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 5,
    depth: int = 20,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998): greedily pick ``k`` results per probe from its ``depth``
    most-relevant candidates, each step maximizing λ·rel(d) −
    (1−λ)·max_{s∈S} sim(d, s) — relevance traded against redundancy,
    the diversity pass a RAG retriever runs between ANN and the
    context window. Returns (q, neighbor, step, score), step 1..k;
    step 1 is the pure-relevance argmax (empty selected set).

    Scale shape: candidates come from :func:`..similarity.cosine_topk`
    (probe-bounded, the Arrow kernel + tie discipline), so EVERY
    table after the candidate pass is |queries| × depth or smaller —
    the candidate pair-sim table is |q|·depth² rows. Both are
    PROBE-BOUNDED, so (r12) they collect to the driver and the k-step
    greedy argmax runs THERE, like the Lloyd centroid loop and the
    BPE merge argmax: the r10 form orchestrated k rounds of
    anti-join + max-aggregate + argmax window + union over these tiny
    tables — ~5 Spark jobs per step of pure scheduling latency at any
    scale, with nothing corpus-sized ever in them. The corpus-scale
    work (cosine_topk's scan, the candidate-vector pair-sim join)
    stays distributed, and the pair sims are computed by the SAME
    Spark expressions as before (identical fold order → identical
    doubles). Determinism: rel and pair sims round to 4 (cosine_topk's
    contract), selection compares the UNROUNDED score (ties score
    desc, neighbor asc), reported scores round to 6 via the exact
    shortest-repr HALF_UP Spark's round() applies to doubles."""

    from decimal import ROUND_HALF_UP, Decimal

    from .similarity import cosine_topk, _dot, _norm

    cand = cosine_topk(
        embeddings, query_ids, k=depth, id_col=id_col, vec_col=vec_col
    ).select("q", "neighbor", F.col("sim").alias("rel"))
    cand = materialize(cand, eager=False)

    vecs = embeddings.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    )
    a = cand.select("q", F.col("neighbor").alias("a")).join(
        vecs.withColumnRenamed("__id", "a").withColumnRenamed("__v", "va"),
        "a",
    )
    b = cand.select("q", F.col("neighbor").alias("b")).join(
        vecs.withColumnRenamed("__id", "b").withColumnRenamed("__v", "vb"),
        "b",
    )
    pair_sims = (
        a.join(b, "q")
        .filter(F.col("a") != F.col("b"))
        .select(
            "q",
            "a",
            "b",
            F.round(
                _dot("va", "vb")
                / F.nullif(_norm("va") * _norm("vb"), F.lit(0.0)),
                4,
            ).alias("psim"),
        )
    )

    # Probe-bound guard (VERDICT r12 #9): the driver-side greedy is
    # safe ONLY because every collected table is probe-bounded —
    # |q|·depth candidates and at most |q|·depth² pair sims. Enforce
    # the bound at the operator boundary instead of trusting callers:
    # a future |q| in the thousands would otherwise collect a
    # corpus-scale table to the driver.
    if len(query_ids) * depth * depth > 1_000_000:
        raise ValueError(
            "mmr_rerank collects |q|*depth^2 pair sims driver-side; "
            f"{len(query_ids)}*{depth}^2 exceeds the 1e6-row bound — "
            "shard query_ids or lower depth"
        )
    cand_rows = cand.collect()
    psim_map: dict = {}
    for r in pair_sims.collect():
        psim_map[(r["q"], r["a"], r["b"])] = r["psim"]

    def _round6(v: float) -> float:
        # Spark's round(double, 6): BigDecimal.valueOf (shortest
        # decimal repr, same algorithm as Python's repr) + HALF_UP.
        return float(
            Decimal(repr(v)).quantize(Decimal("1e-6"), rounding=ROUND_HALF_UP)
        )

    by_q: dict = {}
    for r in cand_rows:
        by_q.setdefault(r["q"], []).append((r["neighbor"], r["rel"]))
    out_rows = []
    for q in sorted(by_q):
        remaining = dict(by_q[q])
        selected: list = []
        # Step 1 picks by RELEVANCE itself, not λ·rel: they order the
        # same for λ > 0, but at λ = 0 every λ·rel is 0 and the pick
        # would silently degenerate to the lowest neighbor id. The
        # reported score stays λ·rel (the MMR objective with an empty
        # selected set).
        if not remaining:
            continue
        first = min(remaining.items(), key=lambda nr: (-nr[1], nr[0]))
        out_rows.append((q, first[0], 1, _round6(lam * first[1])))
        selected.append(first[0])
        del remaining[first[0]]
        for step in range(2, k + 1):
            if not remaining:
                break
            best = None
            for nb, rel in remaining.items():
                msims = [
                    psim_map[(q, nb, s)]
                    for s in selected
                    if (q, nb, s) in psim_map
                    and psim_map[(q, nb, s)] is not None
                ]
                msim = max(msims) if msims else 0.0
                score = lam * rel - (1.0 - lam) * msim
                key = (-score, nb)
                if best is None or key < best[0]:
                    best = (key, nb, score)
            out_rows.append((q, best[1], step, _round6(best[2])))
            selected.append(best[1])
            del remaining[best[1]]

    fields = {f.name: f.dataType.simpleString() for f in cand.schema.fields}
    schema = (
        f"q {fields['q']}, neighbor {fields['neighbor']}, "
        "step int, score double"
    )
    return embeddings.sparkSession.createDataFrame(out_rows, schema)
