"""Similarity search over embedding columns.

Beyond-reference extensions (BASELINE.json): brute-force cosine top-k
as the exact baseline, and an LSH-bucketed (random hyperplane) variant
as the scale path. Embeddings are ``array<float>`` columns. The dense
kernels (exact cosine scoring, k-means cell assignment, PQ codebook
assignment) run as Arrow-batched numpy over ``mapInPandas``, folding
dimensions in ascending order like the SQL helpers below; the rest of
the vector math uses built-in higher-order functions (zip_with +
aggregate), which execute JVM-side.

Scale design (100 TB):
- brute force is O(|Q| * |N|): correct for verification and small
  query sets (broadcast the queries, one pass over the corpus).
- LSH: each vector gets a ``planes``-bit signature from sign(v · r_p)
  with pseudo-random hyperplanes derived from a hash (deterministic,
  no stored model); candidates share a signature bucket; exact cosine
  only runs inside buckets. Bucket count 2^planes controls recall vs
  fanout.
"""

from __future__ import annotations

from typing import Optional, Union

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from ..scratch import materialize


def density_planes(n: int, target_bucket: int = 32) -> int:
    """Density-adjusted hyperplane count: ``ceil(log2(n /
    target_bucket))``, floored at 1.

    Within-bucket candidate pairs grow ~n²/2^planes, so a FIXED plane
    count degrades toward bucket-quadratic as a corpus densifies
    (measured 26x wall-time for 10x data at planes=6 vs 8x with this
    adjustment). Deriving planes from the corpus count keeps the
    expected bucket occupancy ~``target_bucket`` at any scale — the
    form a 100 TB caller must use, and the form the declared queries
    use (``planes="auto"``)."""

    import math

    return max(1, math.ceil(math.log2(max(n, 2) / target_bucket)))


def density_cells(n: int, target_cell: int = 256, k_min: int = 8) -> int:
    """Density-adjusted k-means cell count: ``max(k_min,
    ceil(n / target_cell))`` in exact integer arithmetic.

    Within-cell pair joins (SemDeDup) grow ~(n/k)²·k = n²/k, so a
    FIXED k degrades quadratically as the corpus densifies — the same
    trap as a fixed LSH plane count (measured 20x wall-time for 10x
    data at k=8). Deriving k from the corpus count caps expected cell
    occupancy at ~``target_cell``, making the pair join linear in n.
    ``(n + t - 1) // t`` — never ``ceil(n / t)`` in doubles, where the
    float quotient of an exact multiple can round up past the integer
    (the winsorize/prefix-filter discipline)."""

    return max(k_min, (n + target_cell - 1) // target_cell)


def _dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.expr(
            f"aggregate({a}, CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id.

    Returns (q, neighbor, sim, rank); sim rounded to 4 decimals and
    ties broken by neighbor id so results are deterministic across
    engines. Queries are broadcast — one scan of the corpus; each
    corpus row's norm is computed once per batch, not once per
    (query, neighbor) pair.
    """

    from pyspark.sql.window import Window

    # Scoring engine: Arrow-batched numpy (raw sims; the exact
    # round(.,4) + ranking stays JVM-side). The zip_with/aggregate dot
    # is an interpreted per-element lambda — on a 20k x 64 corpus with
    # 32 probes it was the whole cost of retrieval_eval. Parity
    # contract as everywhere: dots and norms accumulate dim-ascending
    # in IEEE float64 (the aggregate fold's exact order), zero-norm or
    # length-mismatched pairs drop exactly like the SQL NULL algebra
    # drops them.
    scored = _numpy_cosine_scores(embeddings, query_ids, id_col, vec_col)
    sims = scored.withColumn("sim", F.round(F.col("sim"), 4)).filter(
        F.col("sim").isNotNull()
    )
    w = Window.partitionBy("q").orderBy(
        F.col("sim").desc(), F.col("neighbor").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "sim", "rank")
    )


def hard_negatives(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-``k`` most-similar corpus vectors whose
    ``label_col`` DIFFERS from the query's — the near-misses a
    contrastive or reranker trainer wants in the batch, as opposed to
    random negatives cosine already separates. Returns (q, neighbor,
    sim, rank); same determinism contract as :func:`cosine_topk`
    (round(sim, 4), neighbor-id tiebreak), rows with a NULL label on
    either side drop (SQL != algebra, identical in any engine).

    Scoring rides the same Arrow numpy kernel as cosine_topk; labels
    attach via one id-keyed equi-join on the corpus side plus a
    broadcast of the probe-sized query-label table, so the pass stays
    one corpus scan. The label filter runs BEFORE the rank window, so
    the per-query partition the window sorts is candidate-sized, never
    appended-k.
    """

    from pyspark.sql.window import Window

    labels = embeddings.select(
        F.col(id_col).alias("neighbor"), F.col(label_col).alias("n_label")
    )
    q_labels = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q"), F.col(label_col).alias("q_label")
    )
    scored = _numpy_cosine_scores(embeddings, query_ids, id_col, vec_col)
    sims = (
        scored.withColumn("sim", F.round(F.col("sim"), 4))
        .filter(F.col("sim").isNotNull())
        .join(labels, "neighbor")
        .join(F.broadcast(q_labels), "q")
        .filter(F.col("n_label") != F.col("q_label"))
    )
    w = Window.partitionBy("q").orderBy(
        F.col("sim").desc(), F.col("neighbor").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "sim", "rank")
    )


def _numpy_cosine_scores(
    embeddings: DataFrame,
    query_ids: list[int],
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(q, neighbor, sim): RAW cosine of every (probe, corpus) pair,
    self-pairs and undefined cosines (zero norms, length mismatches)
    dropped — the numpy engine under :func:`cosine_topk`."""

    spark = embeddings.sparkSession
    q_rows = (
        embeddings.filter(F.col(id_col).isin(query_ids))
        .select(id_col, vec_col)
        .collect()
    )
    probes = []
    for r in q_rows:
        qv = r[vec_col]
        if qv is None:
            continue  # SQL: every dot NULL -> every pair drops
        v = np.array([float(x) for x in qv], dtype=np.float64)
        qn = 0.0
        for x in v:  # dim-ascending, like _norm's fold
            qn += x * x
        probes.append((r[id_col], v, float(np.sqrt(qn))))
    bQ = spark.sparkContext.broadcast(probes)

    def score(batches):
        qs = bQ.value
        for pdf in batches:
            if len(pdf) == 0 or not qs:
                continue
            ids = pdf["__nid"].to_numpy()
            vals = pdf["__nv"].tolist()
            out_q, out_n, out_s = [], [], []
            by_len: dict = {}
            for qid, qv, qn in qs:
                by_len.setdefault(len(qv), []).append((qid, qv, qn))
            for d, group in by_len.items():
                ok = np.array(
                    [x is not None and len(x) == d for x in vals],
                    dtype=bool,
                )
                if not ok.any():
                    continue
                idx = np.nonzero(ok)[0]
                V = np.array(
                    [list(vals[i]) for i in idx], dtype=np.float64
                )
                vn = np.zeros(len(idx))
                for i in range(d):
                    vn += V[:, i] * V[:, i]
                vn = np.sqrt(vn)
                for qid, qv, qn in group:
                    dot = np.zeros(len(idx))
                    for i in range(d):
                        dot += V[:, i] * qv[i]
                    den = vn * qn
                    valid = (den != 0.0) & (ids[idx] != qid)
                    if not valid.any():
                        continue
                    safe = np.where(den == 0.0, 1.0, den)
                    sim = dot / safe
                    out_q.extend([qid] * int(valid.sum()))
                    out_n.extend(ids[idx][valid].tolist())
                    out_s.extend(sim[valid].tolist())
            yield pd.DataFrame(
                {
                    "q": np.array(out_q, dtype=ids.dtype),
                    "neighbor": np.array(out_n, dtype=ids.dtype),
                    "sim": np.array(out_s, dtype=np.float64),
                }
            )

    src = embeddings.select(
        F.col(id_col).alias("__nid"), F.col(vec_col).alias("__nv")
    )
    par = spark.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    id_type = dict(src.dtypes)["__nid"]
    return src.mapInPandas(
        score, f"q {id_type}, neighbor {id_type}, sim double"
    )


def _plane_weight(p: int, i: int) -> int:
    """±1 from the parity of uint32(md5(f"{p}_{i}")) — the oracle twin
    of the SQL weight expression in :func:`hyperplane_signature` (hex
    base is even, so uint32 parity == parity of the 8th hex digit)."""

    import hashlib

    h = int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:8], 16)
    return h % 2 * 2 - 1


# ±1 from md5 parity, usable verbatim in Spark SQL and DuckDB: the
# parity of uint32(md5(..)[:8]) is the parity of its 8th hex digit.
PLANE_WEIGHT_SQL = (
    "CASE WHEN substring(md5(concat(CAST({p} AS STRING), '_', "
    "CAST({i} AS STRING))), 8, 1) IN "
    "('1','3','5','7','9','b','d','f') THEN 1.0 ELSE -1.0 END"
)


def hyperplane_signature(
    embeddings: DataFrame,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """LSH bucket id per vector: ``planes``-bit random-hyperplane
    signature, sign(v · r_p) per plane.

    Plane weights are ±1 from md5-parity of (plane, index), computed
    ONCE in a one-row broadcast DataFrame (planes x dim values total,
    not per corpus row) — the plan carries no literal arrays, so its
    size is independent of ``dim``, and the whole signature pass stays
    map-only (broadcast cross join of a single row, no shuffle).

    ``dim`` is the embedding dimensionality; pass it explicitly at
    scale — when omitted, one tiny driver query sniffs it (convenience
    for ad-hoc use only).
    """

    if dim is None:
        dim_row = embeddings.select(
            F.size(F.col(vec_col)).alias("d")
        ).first()
        dim = dim_row["d"] if dim_row else 0
    if dim <= 0 or planes <= 0:
        return embeddings.select(
            F.col(id_col).alias("vec_id"), F.lit(0).alias("bucket")
        )

    return _with_bucket(embeddings, planes, dim, vec_col).select(
        F.col(id_col).alias("vec_id"), "bucket"
    )


def _with_bucket(
    df: DataFrame, planes: int, dim: int, vec_col: str
) -> DataFrame:
    """Attach the ``planes``-bit hyperplane-LSH ``bucket`` column to
    ``df`` map-side: one broadcast cross join of a SINGLE-ROW weights
    frame (planes x dim ±1 values) — the only nested-loop join these
    operators ever plan, and it carries one row."""

    spark = df.sparkSession
    weight = PLANE_WEIGHT_SQL.format(p="p", i="i")
    weights = spark.range(1).select(
        F.expr(
            f"transform(sequence(0, {planes - 1}), p -> "
            f"transform(sequence(0, {dim - 1}), i -> "
            f"CAST({weight} AS DOUBLE)))"
        ).alias("__planes")
    )
    bucket = F.expr(
        f"aggregate(sequence(0, {planes - 1}), 0, (acc, p) -> acc + "
        f"IF(aggregate(zip_with({vec_col}, __planes[p], "
        "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), "
        "(a, t) -> a + t) > 0, CAST(shiftleft(1, p) AS INT), 0))"
    )
    return (
        df.crossJoin(F.broadcast(weights))
        .withColumn("bucket", bucket)
        .drop("__planes")
    )


def embedding_neardup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    planes: Union[int, str, None] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    target_bucket: int = 32,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (a, b, sim) with a < b
    and cosine >= threshold.

    ``planes=None`` is the exact all-pairs variant (the oracle-checked
    baseline; O(n²) — fine for verification corpora). With ``planes``
    set, the self-join is restricted to hyperplane-LSH buckets — the
    scale path: at 100 TB the join degenerates from all-pairs to
    per-bucket, ~2^planes fewer comparisons, same exact cosine inside
    each bucket (near-identical vectors land in the same bucket with
    high probability). ``planes="auto"`` derives the count from the
    corpus size (:func:`density_planes`) so bucket occupancy stays
    ~``target_bucket`` as the corpus grows — a fixed plane count is
    bucket-quadratic on a densifying corpus. The count is one
    zero-column parquet scan; the resulting plan is identical in shape
    to an explicit ``planes=k``.
    """

    if planes == "auto":
        planes = density_planes(embeddings.count(), target_bucket)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(vec_col).alias("nrm"),
    )
    if planes is not None:
        if dim is None:
            dim_row = embeddings.select(
                F.size(F.col(vec_col)).alias("d")
            ).first()
            dim = dim_row["d"] if dim_row else 0
    if planes is not None and (planes <= 0 or dim <= 0):
        # Degenerate bucketing = a single bucket = the exact all-pairs
        # baseline (mirrors hyperplane_signature's guard — without it
        # sequence(0, planes-1) would mis-bucket and drop pairs).
        planes = None
    if planes is not None:
        # Bucket computed inline on the pair base (one single-row
        # weights broadcast per side) — no extra equi-join back on id —
        # then materialized ONCE: both self-join sides read the base,
        # and the planes x dim interpreted bucket fold re-run per side
        # costs more than the join itself (measured 10.8s -> ~4s for
        # 20k x 64-dim vectors; the minhash/simhash discipline).
        base = _with_bucket(base, planes, dim, "v").select(
            "id", "v", "nrm", "bucket"
        # Lazy (r12): the self-join's first side materializes it.
        ).transform(materialize, eager=False)
        left = base.toDF("a", "va", "na", "bucket")
        right = base.toDF("b", "vb", "nb", "bucket")
        pairs = left.join(right, "bucket").filter(F.col("a") < F.col("b"))
    else:
        left = base.toDF("a", "va", "na")
        right = base.toDF("b", "vb", "nb")
        pairs = left.crossJoin(right).filter(F.col("a") < F.col("b"))
    return (
        pairs.withColumn(
            "sim",
            F.round(
                _dot("va", "vb")
                / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
                4,
            ),
        )
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def _seed_centroids(
    embeddings: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic seed: the ``n_centroids`` lowest-id vectors,
    labeled by their vec_id (the label survives refinement)."""

    return (
        embeddings.orderBy(F.col(id_col).asc())
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )


def _numpy_assign_cells(
    embeddings: DataFrame,
    rows: list,
    id_col: str,
    vec_col: str,
    dim: int,
    keep_vec: bool = False,
    with_sim: bool = False,
) -> DataFrame:
    """Arrow-batched argmax-cosine assignment: (vec_id, cell), plus
    optionally the input vector passed through (``keep_vec`` — column
    ``v``, saving the Lloyd means pass a full corpus join-back) and
    the WINNING cosine (``with_sim`` — column ``csim``, the exact
    value an n x 1 rescore against the assigned centroid would
    recompute; -inf marks rows whose every score poisoned to -inf,
    i.e. NULL/short/zero-norm vectors or an all-zero-norm centroid
    set — the rescore's NULL, mapped by the caller).

    ``rows`` are the centroid rows (``cell``, ``cv``) sorted by cell;
    ``dim`` is the width the dots run over. Bit-parity with the SQL
    cosine (``_dot`` / ``_norm``) is by construction: dots and norms
    accumulate dim-ASCENDING in IEEE float64 (`acc += V[:, i] * c[i]`
    is the left-assoc fold, vectorized across rows, not a reordered
    BLAS reduction), float->double casts are exact, and cells scan
    ascending with a strict >, so ties keep the lowest cell id. Rows
    that score -inf everywhere fall to the lowest cell: zero-norm,
    NULL and shorter-than-dim vectors. A NULL centroid scores -inf in
    its cell (the SQL NULL algebra); an empty centroid set yields an
    empty assignment. Pinned in
    test_numpy_assign_edge_semantics_match_bruteforce."""

    spark = embeddings.sparkSession
    C = np.zeros((len(rows), dim))
    for j, r in enumerate(rows):
        if r["cv"] is not None:  # a NULL centroid keeps norm 0
            C[j] = [float(x) for x in r["cv"]]
    cellids = np.array([int(r["cell"]) for r in rows], dtype=np.int64)
    cn = np.zeros(len(rows))
    for i in range(dim):
        cn += C[:, i] * C[:, i]
    cn = np.sqrt(cn)
    bC = spark.sparkContext.broadcast((C, cellids, cn))

    def score(batches):
        Cb, cells_b, cn_b = bC.value
        kk, d = Cb.shape
        for pdf in batches:
            if len(pdf) == 0 or kk == 0:
                continue
            vals = pdf[vec_col].tolist()
            # Mirror the SQL null algebra: a NULL or shorter-than-dim
            # vector makes every per-term v[i] reference NULL,
            # poisoning the dot AND the norm, so the row scores -inf
            # in every cell and lands in the lowest cell id; longer
            # vectors contribute their dim-prefix.
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
            n = V.shape[0]
            vn = np.zeros(n)
            for i in range(d):
                vn += V[:, i] * V[:, i]
            vn = np.sqrt(vn)
            best_s = np.full(n, -np.inf)
            best_c = np.full(n, cells_b[0], dtype=np.int64)
            for j in range(kk):  # ascending: strict > keeps lowest cell
                dot = np.zeros(n)
                cj = Cb[j]
                for i in range(d):
                    dot += V[:, i] * cj[i]
                den = vn * cn_b[j]
                safe = np.where(den == 0.0, 1.0, den)
                s = np.where(den == 0.0, -np.inf, dot / safe)
                s = np.where(ok, s, -np.inf)
                take = s > best_s
                best_s = np.where(take, s, best_s)
                best_c = np.where(take, cells_b[j], best_c)
            out = {"vec_id": pdf[id_col], "cell": best_c}
            if keep_vec:
                out["v"] = pdf[vec_col]
            if with_sim:
                out["csim"] = best_s
            yield pd.DataFrame(out)

    src = embeddings.select(id_col, vec_col)
    par = spark.sparkContext.defaultParallelism
    if embeddings.rdd.getNumPartitions() < par:
        src = src.repartition(par)
    dt = dict(src.dtypes)
    schema = f"vec_id {dt[id_col]}, cell long"
    if keep_vec:
        schema += f", v {dt[vec_col]}"
    if with_sim:
        schema += ", csim double"
    return src.mapInPandas(score, schema)


def _assign_cells(
    embeddings: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    keep_vec: bool = False,
    with_sim: bool = False,
) -> DataFrame:
    """(vec_id, cell): each vector's argmax-cosine centroid, ties
    broken by lowest cell id. ``keep_vec`` rides the input vector
    through as ``v``; ``with_sim`` adds the winning cosine as ``csim``.

    Scoring is the Arrow-batched numpy argmax
    (:func:`_numpy_assign_cells`) at every shape, with ``dim`` taken
    from the first non-NULL centroid. A JVM scorer re-analyzes and
    re-compiles a fresh k x dim literal tree every Lloyd pass (the
    centroid literals change, so the codegen cache never hits), and
    past janino's 64 KB method limit and HotSpot's huge-method JIT
    ceiling it runs interpreted — the SCALE.md round-11 Lloyd-ladder
    attribution measured it ~15x behind the kernel at k=79. Only the
    kernel can carry the vector and the winning cosine through the
    argmax, which deletes the means pass's corpus join-back and
    embed_prune's n x 1 rescore join."""

    # Probe-bound guard (VERDICT r12 #9): the centroid table is
    # collected and broadcast per task — keep it provably
    # cell-count-bounded whatever DataFrame a caller passes, and
    # never collect more than one row past the bound.
    rows = sorted(cents.limit(65537).collect(), key=lambda r: r["cell"])
    if len(rows) > 65536:
        raise ValueError(
            "_assign_cells: more than 65536 centroid rows exceed the "
            "driver-side bound"
        )
    dim = next((len(r["cv"]) for r in rows if r["cv"] is not None), 0)
    return _numpy_assign_cells(
        embeddings,
        rows,
        id_col,
        vec_col,
        dim,
        keep_vec=keep_vec,
        with_sim=with_sim,
    )


def ivf_centroids(
    embeddings: DataFrame,
    n_centroids: int = 16,
    iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """IVF centroids: deterministic seed sample refined by ``iters``
    Lloyd (k-means) steps.

    Each step is one broadcast-assign pass over the corpus followed by
    a (cell, component)-keyed aggregate of per-component means. The
    means run over ``posexplode(v)`` — one (cell, i) AVG with map-side
    partial aggregation, so the shuffle carries n_centroids x dim
    partial rows per task, never the vectors. The values are identical
    to the wide per-column ``avg(v[i])`` form this replaced (same AVG
    operator over the same rows, same per-partition accumulation
    order, same 6-decimal round), but Catalyst analyzes ~4 expressions
    instead of ``dim`` round(avg(getItem)) trees — the wide form's
    per-step re-analysis measured 1.7s against 0.8s for this one at
    dim=64 (r12, driver-side serial cost that no executor count
    hides). The input vector rides THROUGH the argmax kernel
    (keep_vec), so each Lloyd step is ONE job — kernel into
    map-side-combined means — with no checkpoint and no corpus
    join-back shuffle (the r11 Lloyd-ladder fusion). New
    components are rounded to 6 decimals each step so refinement is
    reproducible across engines and cluster layouts; cells that
    capture no vectors keep their previous centroid. The centroid
    table lives driver-side across steps (k x dim doubles — the same
    structure Spark MLlib's KMeans collects per iteration); each step
    collects only the k x dim mean rows, and the seed/dim probe jobs
    of the r11 shape are gone: dim comes off the first non-NULL
    collected seed row instead of a separate ``first()`` pass. A NULL
    seed stays a NULL centroid until a refinement step gives its cell
    members with a vector.
    """

    spark = embeddings.sparkSession
    # Probe-bound guard (VERDICT r12 #9): the centroid table lives
    # driver-side, so its k x dim size must stay provably tiny.
    if n_centroids > 65536:
        raise ValueError(
            f"ivf_centroids: n_centroids={n_centroids} exceeds the "
            "65536 driver-side centroid bound"
        )
    rows: list = [
        (r["cell"], list(r["cv"]) if r["cv"] is not None else None)
        for r in sorted(
            _seed_centroids(embeddings, n_centroids, id_col, vec_col)
            .collect(),
            key=lambda r: r["cell"],
        )
    ]
    if dim is None:
        dim = next((len(cv) for _, cv in rows if cv is not None), 0)
    if n_centroids * max(dim, 1) > 8_388_608:
        raise ValueError(
            f"ivf_centroids: k*dim = {n_centroids}*{dim} exceeds the "
            "2^23 driver-side state bound — lower k or the dimension"
        )
    for _ in range(max(0, iters)):
        assigned = _numpy_assign_cells(
            embeddings,
            [{"cell": c, "cv": cv} for c, cv in rows],
            id_col,
            vec_col,
            dim,
            keep_vec=True,
        )
        mrows = (
            assigned.select("cell", F.posexplode("v").alias("__i", "__x"))
            .groupBy("cell", "__i")
            .agg(F.round(F.avg("__x"), 6).alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in mrows:
            by_cell.setdefault(r["cell"], {})[r["__i"]] = r["m"]
        rows = [
            (
                c,
                [by_cell[c].get(i) for i in range(dim)]
                if c in by_cell
                else cv,
            )
            for c, cv in rows
        ]
    return spark.createDataFrame(rows, "cell long, cv array<double>")


def ivf_assign(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
    dim: Optional[int] = None,
) -> DataFrame:
    """IVF cell assignment: (vec_id, cell) — each vector belongs to its
    highest-cosine centroid.

    ``iters=0`` uses the raw seed sample; ``iters>0`` runs that many
    Lloyd refinement steps first (:func:`ivf_centroids`). Centroids
    are broadcast; assignment is one pass over the corpus, no shuffle
    of the vectors themselves.
    """

    cents = ivf_centroids(embeddings, n_centroids, iters, id_col, vec_col, dim=dim)
    return _assign_cells(embeddings, cents, id_col, vec_col).select(
        "vec_id", "cell"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    dim: Optional[int] = None,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest cells per
    query, exact cosine only inside probed cells.

    The scale path complement to LSH: comparisons drop by roughly
    n_centroids/nprobe, and the cell assignment doubles as a
    partitioning key for the corpus (cluster layout: repartition by
    cell, co-locating each probe). ``refine_iters`` Lloyd steps tighten
    the cells before probing (better recall at the same nprobe).
    """

    from pyspark.sql.window import Window

    cents = ivf_centroids(
        embeddings, n_centroids, refine_iters, id_col, vec_col, dim=dim
    )
    assign = _assign_cells(embeddings, cents, id_col, vec_col).select(
        "vec_id", "cell"
    )

    q = embeddings.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("q"), F.col(vec_col).alias("qv")
    )
    qc = q.crossJoin(F.broadcast(cents)).withColumn(
        "csim",
        _dot("qv", "cv") / F.nullif(_norm("qv") * _norm("cv"), F.lit(0.0)),
    )
    wq = Window.partitionBy("q").orderBy(F.col("csim").desc(), F.col("cell").asc())
    probes = (
        qc.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("q", "qv", "cell")
    )

    corpus = embeddings.select(
        F.col(id_col).alias("neighbor"),
        F.col(vec_col).alias("nv"),
        _norm(vec_col).alias("n_norm"),
    ).join(assign.toDF("neighbor", "cell"), "neighbor")
    sims = (
        corpus.join(probes.withColumn("q_norm", _norm("qv")), "cell")
        .filter(F.col("q") != F.col("neighbor"))
        .withColumn(
            "sim",
            F.round(
                _dot("qv", "nv")
                / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                4,
            ),
        )
        .filter(F.col("sim").isNotNull())
    )
    w = Window.partitionBy("q").orderBy(
        F.col("sim").desc(), F.col("neighbor").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "sim", "rank")
    )


def ann_recall(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the IVF index against the exact scan: (q, recall).

    The index-quality eval every ANN deployment needs before trading
    the exact scan for :func:`ivf_topk`: for each probe query, the
    fraction of the TRUE top-k (:func:`cosine_topk`, ties broken by
    neighbor id — deterministic in both engines) that the IVF probe
    set recovers at the same k. Cost is probe-bounded: both sides are
    per-query top-k over broadcast probes, the intersection joins two
    |queries| x k result sets — nothing corpus-quadratic beyond the
    documented exact-baseline scan, and the denominator is the exact
    side's actual result size (== k unless the corpus is smaller).
    Tuning loop: sweep nprobe until recall clears the target, then
    ship that nprobe to the cluster job.
    """

    exact = cosine_topk(
        embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col
    )
    approx = ivf_topk(
        embeddings,
        query_ids,
        k=k,
        n_centroids=n_centroids,
        nprobe=nprobe,
        id_col=id_col,
        vec_col=vec_col,
    )
    hits = (
        exact.select("q", "neighbor")
        .join(approx.select("q", "neighbor"), ["q", "neighbor"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    base = exact.groupBy("q").agg(F.count(F.lit(1)).alias("__k"))
    return (
        base.join(hits, "q", "left")
        .select(
            "q",
            F.round(
                F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__k"), 4
            ).alias("recall"),
        )
    )


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    planes: Union[int, str] = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    target_bucket: int = 32,
) -> DataFrame:
    """Approximate top-k: exact cosine within hyperplane buckets.

    The scale path: the corpus self-join is restricted to equal
    signatures (2^planes buckets), so comparisons drop by ~2^planes
    versus brute force at the cost of recall. ``planes="auto"``
    (the declared query's form) derives the count from the corpus
    size (:func:`density_planes`) so per-bucket probe cost stays
    ~``target_bucket`` as the corpus grows — a FIXED plane count
    makes every query's bucket scan grow linearly with a densifying
    corpus, the same trap as a fixed SemDeDup k.
    """

    from pyspark.sql.window import Window

    if planes == "auto":
        planes = density_planes(embeddings.count(), target_bucket)
    if dim is None:
        dim_row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = dim_row["d"] if dim_row else 0
    # Bucket attached INLINE on the vector rows (the embedding_neardup
    # keep-vec discipline, r12): the r5 form computed the signature
    # table separately and equi-joined it back on id — a corpus-wide
    # exchange pair moving the vectors just to re-attach a value that
    # was computed FROM those same rows. Materialized once: the query
    # side and the corpus side both read it, and the planes x dim
    # interpreted bucket fold re-run per consumer costs more than the
    # pass itself.
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _norm(vec_col).alias("nrm"),
    )
    if planes <= 0 or dim <= 0:
        emb = base.withColumn("bucket", F.lit(0))
    else:
        emb = _with_bucket(base, planes, dim, "v").select(
            "id", "v", "nrm", "bucket"
        )
    emb = materialize(emb, eager=False)
    q = emb.filter(F.col("id").isin(query_ids)).select(
        F.col("id").alias("q"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("q_norm"),
        F.col("bucket"),
    )
    n = emb.select(
        F.col("id").alias("neighbor"),
        F.col("v").alias("nv"),
        F.col("nrm").alias("n_norm"),
        F.col("bucket"),
    )
    sims = (
        n.join(F.broadcast(q), "bucket")
        .filter(F.col("q") != F.col("neighbor"))
        .withColumn(
            "sim",
            F.round(
                _dot("qv", "nv")
                / F.nullif(F.col("q_norm") * F.col("n_norm"), F.lit(0.0)),
                4,
            ),
        )
        .filter(F.col("sim").isNotNull())
    )
    w = Window.partitionBy("q").orderBy(
        F.col("sim").desc(), F.col("neighbor").asc()
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "sim", "rank")
    )


def quantize_embeddings(
    vectors: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scalar int8 quantization: (vec_id, scale, qvec array<int>).

    Per-vector symmetric quantization — scale = max(|x|)/127, q_i =
    round(x_i / scale) in [-127, 127] — cuts ANN memory 4x against
    float32 with a per-vector scale for dequantization. Pure
    higher-order array expressions (aggregate/transform), map-only,
    fused into the scan; the DuckDB twin mirrors the arithmetic. Zero
    vectors quantize to scale 0 with all-zero codes.

    The scale rounds to 9 decimals before the division so code values
    are reproducible across engines (float32 inputs are exact in
    float64 arithmetic; the shared rounding pins the derived scale).
    """

    amax = F.expr(
        f"aggregate({vec_col}, CAST(0.0 AS DOUBLE), "
        "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))"
    )
    staged = vectors.select(
        F.col(id_col),
        F.col(vec_col),
        F.round(amax / F.lit(127.0), 9).alias("scale"),
    )
    codes = F.expr(
        f"transform({vec_col}, x -> "
        "CAST(round(CAST(x AS DOUBLE) / scale, 0) AS INT))"
    )
    zeros = F.expr(f"transform({vec_col}, x -> 0)")
    return staged.select(
        id_col,
        "scale",
        F.when(F.col("scale") == 0.0, zeros).otherwise(codes).alias("qvec"),
    )


def dequantize_embeddings(
    quantized: DataFrame, id_col: str = "vec_id"
) -> DataFrame:
    """Reconstruct (vec_id, embedding) from int8 codes: x ~= scale * q.
    Row-local transform; composes with every search operator, so the
    4x-smaller quantized table can BE the ANN corpus (the standard
    quantized-index serving layout)."""

    return quantized.select(
        id_col,
        F.expr(
            "transform(qvec, c -> CAST(c AS DOUBLE) * scale)"
        ).alias("embedding"),
    )


def embed_dedup_groups(
    embeddings: DataFrame,
    threshold: float = 0.4,
    planes: Union[int, str, None] = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """Semantic near-duplicate group resolution over embeddings:
    (vec_id, canonical) — the embedding-space analog of
    dedup.dedup_groups. Cosine-similar pairs form an undirected graph;
    connected components collapse chains (a~b, b~c => one group even
    when a!~c); each vector maps to its component's smallest id, and
    singletons are their own canonical. A curation pipeline keeps rows
    where vec_id = canonical. ``planes`` switches candidate generation
    to the LSH-bucketed scale path, exactly as in embedding_neardup
    (including ``"auto"`` for density-adjusted plane counts)."""

    from .dedup import connected_components

    pairs = embedding_neardup(
        embeddings, threshold, planes, id_col, vec_col, dim=dim
    )
    comp = connected_components(pairs, "a", "b")
    return (
        embeddings.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("component"), F.col(id_col)).alias("canonical"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the 100 TB embedding-serving compressor.
# Each vector splits into m subvectors; each subspace gets its own
# n_codes-centroid codebook (deterministic seed + rounded Lloyd steps,
# the ivf_centroids discipline), and a vector is stored as m small
# codes (m bytes at n_codes<=256 — a 64-dim float32 vector compresses
# 256B -> 8B). Search uses asymmetric distance (ADC): per query, an
# m x n_codes table of exact subspace distances (broadcast — it is
# tiny), then every corpus row's distance is m table lookups summed.
# ---------------------------------------------------------------------------


def _l2sq(a: str, b: str) -> Column:
    """Squared L2 distance between two double arrays, sequential fold
    (deterministic summation order)."""

    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _subvectors(
    df: DataFrame, m: int, d: int, id_col: str, vec_col: str
) -> DataFrame:
    """(vid, sub, sv): the m d-dimensional subvector slices per row,
    cast to double. One explode — m rows per vector, each d wide."""

    return df.select(
        F.col(id_col).alias("vid"),
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        F.col(vec_col).alias("__v"),
    ).select(
        "vid",
        "sub",
        F.expr(
            f"transform(slice(__v, sub * {d} + 1, {d}), "
            "x -> CAST(x AS DOUBLE))"
        ).alias("sv"),
    )


def _pq_assign(sv: DataFrame, books: DataFrame) -> DataFrame:
    """(vid, sub, code, sv): nearest codebook entry per subvector —
    lowest squared L2, ties to the lowest code. Codebooks broadcast
    (m x n_codes x d doubles — always tiny).

    Engine: an Arrow-batched numpy argmin — the JVM zip_with/aggregate
    fold is an interpreted per-element lambda (~1µs/subvector-code
    pair; the n x m x n_codes expansion made it the dominant cost of
    PQ training AND encoding). Parity with the :func:`_l2sq` fold by
    construction: squared-difference terms accumulate dim-ASCENDING
    (the aggregate fold's order), codes scan ascending with a strict
    < so ties keep the lowest code, and a NULL/short subvector (whose
    SQL distance is NULL for every code) maps to +inf distances,
    landing in the lowest code."""

    spark = sv.sparkSession
    book_rows = books.select("sub", "code", "cv").collect()
    by_sub: dict = {}
    for r in book_rows:
        by_sub.setdefault(int(r["sub"]), []).append(
            (int(r["code"]), [float(x) for x in r["cv"]])
        )
    packed = {
        s: (
            np.array([c for c, _ in sorted(entries)], dtype=np.int64),
            np.array([v for _, v in sorted(entries)], dtype=np.float64),
        )
        for s, entries in by_sub.items()
    }
    bB = spark.sparkContext.broadcast(packed)

    def assign(batches):
        bk = bB.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_code = np.zeros(len(pdf), dtype=np.int64)
            subs = pdf["sub"].to_numpy()
            vals = pdf["sv"].tolist()
            for s in np.unique(subs):
                entry = bk.get(int(s))
                if entry is None:
                    continue
                codes, C = entry
                d = C.shape[1]
                idx = np.nonzero(subs == s)[0]
                ok = np.array(
                    [
                        vals[i] is not None and len(vals[i]) == d
                        for i in idx
                    ],
                    dtype=bool,
                )
                V = np.array(
                    [
                        list(vals[i]) if ok_i else [0.0] * d
                        for i, ok_i in zip(idx, ok)
                    ],
                    dtype=np.float64,
                )
                best_d = np.full(len(idx), np.inf)
                best_c = np.full(len(idx), codes[0], dtype=np.int64)
                for j in range(len(codes)):  # ascending: ties -> lowest
                    acc = np.zeros(len(idx))
                    cj = C[j]
                    for i in range(d):  # the aggregate fold's order
                        diff = V[:, i] - cj[i]
                        acc += diff * diff
                    acc = np.where(ok, acc, np.inf)
                    take = acc < best_d
                    best_d = np.where(take, acc, best_d)
                    best_c = np.where(take, codes[j], best_c)
                out_code[idx] = best_c
            yield pd.DataFrame(
                {
                    "vid": pdf["vid"],
                    "sub": pdf["sub"],
                    "code": out_code,
                    "sv": pdf["sv"],
                }
            )

    vid_type = dict(sv.dtypes)["vid"]
    sub_type = dict(sv.dtypes)["sub"]
    return sv.mapInPandas(
        assign,
        f"vid {vid_type}, sub {sub_type}, code long, sv array<double>",
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """Per-subspace PQ codebooks: (sub, code, cv array<double>).

    Deterministic: seeds are the ``n_codes`` lowest-id vectors'
    subslices (codes labeled by seed vec_id, the ivf_centroids
    convention), refined by ``iters`` Lloyd steps whose per-component
    means round to 6 decimals — reproducible across engines and
    partitionings; empty cells keep their previous entry. Each step is
    one broadcast-assign pass + an (m x n_codes)-group aggregate of
    d-component means; the refined books (m x n_codes x d doubles)
    collect to the driver and re-broadcast, exactly like MLlib KMeans.
    """

    if dim is None:
        dim_row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = dim_row["d"] if dim_row else 0
    if m <= 0 or dim % m:
        raise ValueError(f"m must divide dim ({m} ∤ {dim})")
    d = dim // m
    spark = embeddings.sparkSession
    seeds = embeddings.orderBy(F.col(id_col).asc()).limit(n_codes)
    books = _subvectors(seeds, m, d, id_col, vec_col).select(
        "sub", F.col("vid").alias("code"), F.col("sv").alias("cv")
    )
    for _ in range(max(0, iters)):
        sv = _subvectors(embeddings, m, d, id_col, vec_col)
        assigned = _pq_assign(sv, books)
        means = assigned.groupBy("sub", "code").agg(
            F.array(
                *[F.round(F.avg(F.col("sv").getItem(i)), 6) for i in range(d)]
            ).alias("mv")
        )
        refined = (
            books.join(means, ["sub", "code"], "left")
            .select(
                "sub", "code", F.coalesce(F.col("mv"), F.col("cv")).alias("cv")
            )
            .collect()
        )
        books = spark.createDataFrame(
            refined, "sub int, code long, cv array<double>"
        )
    return books


def pq_encode(
    embeddings: DataFrame,
    books: DataFrame,
    m: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """(vec_id, sub, code): each vector's per-subspace code under
    ``books`` — the PQ-compressed corpus representation (m small ints
    per vector; at n_codes<=256 that is m bytes against 4*dim for
    float32)."""

    if dim is None:
        dim_row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = dim_row["d"] if dim_row else 0
    d = dim // m
    sv = _subvectors(embeddings, m, d, id_col, vec_col)
    return _pq_assign(sv, books).select(
        F.col("vid").alias(id_col), "sub", "code"
    )


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """PQ approximate top-k by asymmetric distance: (q, neighbor,
    adist, rank) — smallest summed subspace distance first.

    ADC: each query computes its EXACT squared L2 to every codebook
    entry (an m x n_codes table, broadcast), and a corpus row's
    approximate distance is the sum of m table lookups on its codes —
    one scan of the compressed corpus per query batch, no vector
    arithmetic in the hot loop. ``adist`` rounds to 4 decimals and
    ties break by neighbor id (the cosine_topk determinism
    discipline)."""

    from pyspark.sql.window import Window

    if dim is None:
        dim_row = embeddings.select(F.size(F.col(vec_col)).alias("d")).first()
        dim = dim_row["d"] if dim_row else 0
    d = dim // m
    books = pq_codebooks(
        embeddings, m, n_codes, iters, id_col, vec_col, dim=dim
    )
    codes = pq_encode(embeddings, books, m, id_col, vec_col, dim=dim)
    q_sub = _subvectors(
        embeddings.filter(F.col(id_col).isin(query_ids)), m, d, id_col, vec_col
    )
    dtab = (
        q_sub.join(F.broadcast(books), "sub")
        .select(
            F.col("vid").alias("q"),
            "sub",
            "code",
            _l2sq("sv", "cv").alias("dist"),
        )
    )
    sums = (
        codes.withColumnRenamed(id_col, "neighbor")
        .join(F.broadcast(dtab), ["sub", "code"])
        .filter(F.col("q") != F.col("neighbor"))
        .groupBy("q", "neighbor")
        .agg(F.round(F.sum("dist"), 4).alias("adist"))
    )
    w = Window.partitionBy("q").orderBy(
        F.col("adist").asc(), F.col("neighbor").asc()
    )
    return (
        sums.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q", "neighbor", "adist", "rank")
    )

def embed_prune(
    embeddings: DataFrame,
    k="auto",
    iters: int = 2,
    frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 256,
) -> DataFrame:
    """Prototypicality pruning (the SemDeDup COMPLEMENT — SSL-
    prototypes-style): cluster the corpus with the same deterministic
    Lloyd machinery as :func:`kmeans_assign`, score every vector by
    cosine to its OWN centroid, and flag the least-prototypical
    ``frac`` of each cell — the "prune the weird/broken tail of every
    semantic cluster" curation pass. Returns (vec_id, cell, sim_c,
    pruned); sim_c rounds to 4 decimals, the per-cell cut ranks by
    (sim_c asc, vec_id) with NULL cosines (zero-norm vectors) sorted
    first via an explicit coalesce(-2.0) key (cosine >= -1, and
    Spark/DuckDB disagree on default NULL order), and the cut count
    is floor(cell_size * frac) — exact and engine-free.

    Cost over kmeans_assign: ZERO extra corpus passes — the final
    assignment kernel already computed cosine(v, own centroid) to pick
    the cell, and rides it out as ``csim`` (the r11 Lloyd-ladder
    fusion), leaving only a cell-partitioned window whose partitions
    are CELL-sized. The wall is linear in n while k tracks the corpus.
    ``k="auto"`` (the default, and the declared query's form) derives
    ``k = density_cells(n, target_cell)``, capping expected cell
    occupancy at ~``target_cell`` rows: each row_number partition is
    a bounded single-reducer sort at any corpus size. A FIXED k is
    the semdedup trap transposed to windows — k partitions of ~n/k
    rows each land on one reducer apiece, i.e. k giant single-task
    sorts at 100x data.
    """

    from pyspark.sql.window import Window

    if k == "auto":
        k = density_cells(embeddings.count(), target_cell)

    cents = ivf_centroids(embeddings, k, iters, id_col, vec_col)
    assign = _assign_cells(
        embeddings, cents, id_col, vec_col, with_sim=True
    )
    # The winning cosine IS the rescore value: the kernel computed
    # cosine(v, own centroid) to pick the cell. -inf marks rows whose
    # every score poisoned (NULL/zero-norm vectors) — exactly the rows
    # a SQL rescore nulls via nullif(den, 0), mapped back to NULL here.
    scored = assign.select(
        "vec_id",
        "cell",
        F.round(
            F.when(
                F.col("csim") == F.lit(float("-inf")), F.lit(None)
            ).otherwise(F.col("csim")),
            4,
        ).alias("sim_c"),
    )
    w = Window.partitionBy("cell").orderBy(
        F.coalesce(F.col("sim_c"), F.lit(-2.0)).asc(), F.asc("vec_id")
    )
    wc = Window.partitionBy("cell")
    return scored.select(
        "vec_id",
        "cell",
        "sim_c",
        (
            F.row_number().over(w)
            <= F.floor(F.count(F.lit(1)).over(wc) * frac)
        ).alias("pruned"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-means clustering of the embedding corpus:
    (vec_id, cell) after ``iters`` Lloyd steps — the semantic-
    clustering primitive behind topic balancing, per-cluster sampling
    quotas, and cluster-labeled corpus browsing (pair with
    retrieval.tfidf_topk_terms for labels).

    Same machinery as the IVF index build (:func:`ivf_centroids`:
    lowest-id seeds, broadcast-assign passes, 6-decimal-rounded
    per-component means, empty cells keep their centroid) — exposed as
    a first-class operator whose output is the ASSIGNMENT rather than
    the index. Each iteration is one corpus scan + a k x dim partial
    aggregate; the k x dim centroid table is the only driver traffic.
    """

    cents = ivf_centroids(embeddings, k, iters, id_col, vec_col)
    return _assign_cells(embeddings, cents, id_col, vec_col).select(
        "vec_id", "cell"
    )


def top_component(
    embeddings: DataFrame,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top singular direction by POWER ITERATION (uncentered PCA) +
    per-vector projection: v_{t+1} = normalize(Xᵀ(Xv_t)) from the
    deterministic start v_0 = 1/sqrt(dim)·(1..1), then proj_i =
    round(x_i · v_final, 6) — the spectral primitive behind embedding
    whitening, spectral hashing init, and 1-D corpus ordering; compose
    with a mean-subtract projection for centered PCA. Returns
    (vec_id, proj).

    Determinism discipline (the PageRank/centroid pattern made
    iterative-linear-algebra): each power step is ONE corpus pass — a
    row computes dot = x·v_t as a positionally-unrolled left-assoc
    double chain (codegen-resident; v_t rides as dim literals, the
    centroid trick), the per-component contribution round(dot·x_j, 15)
    casts to DECIMAL(38,15) and sums EXACTLY (partition-order-free),
    the norm squares those sums through the same round-15 decimal path,
    and the refreshed component rounds to 6 decimals — so Spark and
    the DuckDB twin agree bit-for-bit at every step. Driver traffic is
    one dim-sized row per iteration; nothing corpus-sized sorts,
    collects, or broadcasts."""

    import math

    stats = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
    ).first()
    if not stats["n"] or stats["dmin"] is None:
        return embeddings.select(
            F.col(id_col).alias("vec_id"),
            F.lit(None).cast("double").alias("proj"),
        )
    if stats["dmin"] != stats["dmax"]:
        raise ValueError(
            "top_component requires a uniform embedding dimension "
            f"(got {stats['dmin']}..{stats['dmax']})"
        )
    dim = stats["dmax"]

    base = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")
    )
    # Every power step AND the final projection re-scan base with a
    # dim-unrolled arithmetic chain — CPU-bound work that a mid-sized
    # parquet corpus would run 1-2 splits wide (measured 7.9s vs 1.7s
    # per step at 20k x 64 on one split). Spread ONLY when
    # under-parallelized (the spread_input discipline — a no-op at
    # real scale) and materialize once for the iters+1 consumers.
    spark_ctx = embeddings.sparkSession.sparkContext
    if base.rdd.getNumPartitions() < spark_ctx.defaultParallelism:
        base = base.repartition(spark_ctx.defaultParallelism)
    base = materialize(base, eager=False)

    def dot_expr(vlits: list) -> str:
        # left-assoc ascending — list_dot_product's exact fold order
        return " + ".join(
            f"CAST(v[{j}] AS DOUBLE) * CAST('{vlits[j]!r}' AS DOUBLE)"
            for j in range(dim)
        )

    v = [1.0 / math.sqrt(dim)] * dim
    spark = embeddings.sparkSession
    for _ in range(max(0, iters)):
        scored = base.select(F.expr(f"({dot_expr(v)})").alias("dot"), "v")
        # Contribution sums via posexplode + one 2-column hash agg
        # (r12, the Lloyd-means shape): the dim-wide literal agg built
        # 64 fresh round(sum) trees PER STEP — Catalyst re-analysis +
        # codegen dominated the corpus pass at every scale where the
        # scan doesn't. SUM over DECIMAL(38,15) of the identical
        # round-15 terms is exact and partition-order-free, so the
        # per-j results are bit-identical to the unrolled form.
        wrows = (
            scored.select("dot", F.posexplode("v").alias("j", "xj"))
            .groupBy("j")
            .agg(
                F.sum(
                    F.expr(
                        "CAST(round(dot * CAST(xj AS DOUBLE), 15) "
                        "AS DECIMAL(38,15))"
                    )
                ).alias("w")
            )
            .collect()
        )
        if not wrows:  # empty corpus after filters
            break
        wmap = {r["j"]: r["w"] for r in wrows}
        wrow = {f"w{j}": wmap[j] for j in range(dim)}
        if wrow["w0"] is None:
            break
        # Normalize through SQL on LITERALS, one tiny 1-row query per
        # step: embedding the 64-term norm sum inside every one of the
        # 64 output columns (the first cut) handed Catalyst a
        # 4096-term tree per iteration — measured ~3s of ANALYSIS per
        # step, dwarfing the 1.7s corpus pass. float(Decimal) is the
        # correctly-rounded CAST(w AS DOUBLE); repr literals are
        # shortest-round-trip, so the SQL sees the identical doubles.
        wd = [repr(float(wrow[f"w{j}"])) for j in range(dim)]
        sq = " + ".join(
            f"CAST(round(CAST('{x}' AS DOUBLE) * CAST('{x}' AS DOUBLE), "
            "15) AS DECIMAL(38,15))"
            for x in wd
        )
        nrm = spark.range(1).select(
            F.expr(f"sqrt(CAST(({sq}) AS DOUBLE))").alias("n")
        ).first()["n"]
        if nrm is None or nrm == 0.0:  # zero-norm corpus: keep v_t
            break
        nl = repr(nrm)
        nxt_row = spark.range(1).select(
            *[
                F.expr(
                    f"round(CAST('{x}' AS DOUBLE) / "
                    f"CAST('{nl}' AS DOUBLE), 6)"
                ).alias(f"v{j}")
                for j, x in enumerate(wd)
            ]
        ).first()
        v = [nxt_row[f"v{j}"] for j in range(dim)]

    return base.select(
        "vec_id", F.expr(f"round(({dot_expr(v)}), 6)").alias("proj")
    )


def truncation_recall(
    embeddings: DataFrame,
    query_ids: list,
    k: int = 5,
    trunc_dim: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka truncation eval (Kusupati et al. 2022 MRL): recall@k
    of exact cosine search over the FIRST ``trunc_dim`` dimensions
    against exact full-dimension search — the eval that decides
    whether a deployment can serve the cheap dim-truncated index (a
    2x dim cut is a 2x scan-cost/RAM cut at 100 TB) before committing
    to it. Returns (q, recall) per probe; recall = |trunc-top-k ∩
    full-top-k| / |full-top-k|, denominator = the exact side's actual
    result size (== k unless the corpus is smaller).

    Shape: two :func:`cosine_topk` passes (same kernel and
    determinism contract — ties by neighbor id on both sides), the
    truncated side over a row-local array slice (map-side, no extra
    shuffle); the intersection joins two |queries| x k result sets.
    Probe-bounded like ann_recall."""

    exact = cosine_topk(
        embeddings, query_ids, k=k, id_col=id_col, vec_col=vec_col
    )
    trunc = embeddings.select(
        F.col(id_col),
        F.slice(F.col(vec_col), 1, trunc_dim).alias(vec_col),
    )
    approx = cosine_topk(
        trunc, query_ids, k=k, id_col=id_col, vec_col=vec_col
    )
    hits = (
        exact.select("q", "neighbor")
        .join(approx.select("q", "neighbor"), ["q", "neighbor"])
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    base = exact.groupBy("q").agg(F.count(F.lit(1)).alias("__k"))
    return base.join(hits, "q", "left").select(
        "q",
        F.round(
            F.coalesce(F.col("__hits"), F.lit(0)) / F.col("__k"), 4
        ).alias("recall"),
    )


def cluster_sample(
    embeddings: DataFrame,
    quota: int = 32,
    k="auto",
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 256,
) -> DataFrame:
    """Cluster-balanced subsampling (the DataComp/SSL-prototypes
    topic-balancing pass): cluster the corpus with the deterministic
    Lloyd machinery and keep at most ``quota`` members per cell,
    chosen by a REPRODUCIBLE pseudo-random order — the md5-uint32 of
    the member id (ties by id) — so a dominant topic cannot flood the
    training mix and the same corpus always samples the same rows.
    Returns (vec_id, cell, kept).

    Shape: kmeans_assign (broadcast-centroid passes) + ONE
    cell-partitioned row_number window. ``k="auto"`` (default) derives
    density_cells(n) so window partitions stay ~``target_cell`` rows
    at any corpus size — the embed_prune bound; a fixed k would be k
    single-reducer sorts at 100x data."""

    from pyspark.sql.window import Window

    if k == "auto":
        n = embeddings.count()
        k = density_cells(n, target_cell)
    assign = kmeans_assign(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    w = Window.partitionBy("cell").orderBy(
        F.conv(
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8), 16, 10
        ).cast("long"),
        F.asc("vec_id"),
    )
    return assign.select(
        "vec_id",
        "cell",
        (F.row_number().over(w) <= quota).alias("kept"),
    )


def knn_graph(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    k="auto",
    iters: int = 2,
    mutual: bool = True,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_cell: int = 256,
) -> DataFrame:
    """k-NN graph construction: for every vector, its ``k_neighbors``
    most-cosine-similar OTHER vectors — restricted to its k-means cell
    (the SemDeDup candidate discipline: cross-cell pairs are far by
    construction, so candidates are cell-bucketed, never all-pairs).
    With ``mutual=True`` (the default) only RECIPROCATED edges
    survive, canonicalized a < b — the mutual-kNN graph whose
    connected components drive density-based dedup clustering and
    whose edges feed graph-based label propagation over embeddings.
    Returns (a, b, sim), sim rounded to 4 (cosine_topk's contract),
    ties (sim desc, neighbor asc).

    Scale shape: cells come from the shared Lloyd machinery
    (:func:`kmeans_assign`, ``k="auto"`` density-derived so expected
    cell occupancy caps at ~``target_cell``); on a uniform-width
    corpus, pair cosines come from semdedup's Arrow-batched per-cell
    numpy kernel (curation._numpy_cell_pairs — a JVM pair join
    scoring ~n·cell pairs through the interpreted aggregate/zip_with
    fold measured 51 s at sf1 where the kernel path takes ~3 s;
    bit-parity by the kernel's dim-ascending accumulation, round-4
    applied JVM-side). A ragged corpus, which the kernel does not
    cover, takes the SQL within-cell pair join. The per-node rank
    window partitions by node over ≤ target_cell candidates (each
    node's candidates all live in its one cell), and the mutual
    filter is a self-join on the REDUCED k-NN edge set
    (≤ n·k_neighbors rows). Zero-norm/NULL vectors drop their pairs
    (sim IS NULL in the SQL form — filtered on both paths). Nothing
    global, nothing quadratic off-cell."""

    stats = embeddings.select(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size(F.col(vec_col))).alias("dmin"),
        F.max(F.size(F.col(vec_col))).alias("dmax"),
    ).first()
    if k == "auto":
        k = density_cells(stats["n"], target_cell)
    # Fused assignment (r12): the argmax kernel rides the vector
    # through (keep_vec), so the (vec_id, cell, v) side table needs NO
    # corpus join-back — the kmeans_assign + vecs equi-join of the r11
    # shape (one full exchange of the vector table plus one of the
    # assignment) is gone.
    cents = ivf_centroids(embeddings, k, iters, id_col, vec_col)
    side = (
        _assign_cells(embeddings, cents, id_col, vec_col, keep_vec=True)
        .select("vec_id", "cell", "v")
        .transform(materialize, eager=False)
    )
    if stats["dmin"] is not None and stats["dmin"] == stats["dmax"]:
        from .curation import _numpy_cell_pairs

        tri = _numpy_cell_pairs(
            side.select("cell", F.col("vec_id").alias("id"), "v"),
            threshold=-2.0,  # keep every pair; -1 <= cosine
            dim=stats["dmax"],
        )
        # the kernel emits the a < b triangle once; the per-node rank
        # needs both directions
        pairs = tri.select("a", "b", F.col("cos").alias("sim")).unionByName(
            tri.select(
                F.col("b").alias("a"),
                F.col("a").alias("b"),
                F.col("cos").alias("sim"),
            )
        )
    else:
        a = side.select(
            "cell", F.col("vec_id").alias("a"), F.col("v").alias("va")
        )
        b = side.select(
            "cell", F.col("vec_id").alias("b"), F.col("v").alias("vb")
        )
        pairs = (
            a.join(b, "cell")
            .filter(F.col("a") != F.col("b"))
            .select(
                "a",
                "b",
                F.round(
                    _dot("va", "vb")
                    / F.nullif(_norm("va") * _norm("vb"), F.lit(0.0)),
                    4,
                ).alias("sim"),
            )
        )
    pairs = pairs.filter(F.col("sim").isNotNull())
    from pyspark.sql.window import Window

    # per-node partitions: every candidate of a lives in a's one
    # cell, so partitioning by a alone is still <= target_cell rows.
    w = Window.partitionBy("a").orderBy(
        F.desc_nulls_last("sim"), F.asc("b")
    )
    knn = (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_neighbors)
        .select("a", "b", "sim")
        .transform(materialize, eager=False)
    )
    if not mutual:
        return knn
    rev = knn.select(
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    return (
        knn.join(rev, ["a", "b"], "left_semi")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sim")
    )


def label_noise(
    embeddings: DataFrame,
    k_neighbors: int = 5,
    k="auto",
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    target_cell: int = 256,
) -> DataFrame:
    """k-NN label-noise detection (Confident-Learning-style): each
    vector's label vs the MAJORITY label of its ``k_neighbors``
    nearest within-cell neighbors — a mismatch flags a likely
    mislabeled example before it poisons a classifier or a quality
    filter trained on the corpus. Returns (vec_id, label, maj_label,
    votes, mismatch); majority ties break (votes desc, label asc),
    every tiebreak total.

    Shape: the DIRECTED top-k edges from :func:`knn_graph`
    (mutual=False — cell-bucketed candidates through semdedup's
    Arrow pair kernel, per-node rank over ≤ target_cell rows), one
    id-keyed join to attach neighbor labels, one (node, label) count,
    and a per-node argmax window over ≤ min(k_neighbors, |labels|)
    rows. Nothing global, nothing quadratic off-cell."""

    from pyspark.sql.window import Window

    knn = knn_graph(
        embeddings,
        k_neighbors=k_neighbors,
        k=k,
        iters=iters,
        mutual=False,
        id_col=id_col,
        vec_col=vec_col,
        target_cell=target_cell,
    )
    labels = embeddings.select(
        F.col(id_col).alias("__id"), F.col(label_col).alias("__lbl")
    )
    votes = (
        knn.join(labels.withColumnRenamed("__id", "b"), "b")
        .groupBy("a", F.col("__lbl").alias("nbr_label"))
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("a").orderBy(
        F.desc("votes"), F.asc("nbr_label")
    )
    maj = (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("a", F.col("nbr_label").alias("maj_label"), "votes")
    )
    return (
        maj.join(labels.withColumnRenamed("__id", "a"), "a")
        .select(
            F.col("a").alias("vec_id"),
            F.col("__lbl").alias(label_col),
            "maj_label",
            "votes",
            (F.col("__lbl") != F.col("maj_label")).alias("mismatch"),
        )
    )
