"""Streaming training-data curation: the batch pipeline operators
applied to unbounded document streams.

The batch operators (operators/text.py, operators/dedup.py) are pure
column expressions, so they lift to Structured Streaming unchanged —
this module packages the stateful pieces:

- ``stream_exact_dedup``: keep the first occurrence of each content
  hash. State is one hash per distinct document;
  ``dropDuplicatesWithinWatermark`` bounds it by event time when a
  watermark column is provided (late duplicates beyond the watermark
  are the same trade every streaming dedup makes).
- ``stream_curate``: quality/language/repetition filtering + PII
  scrubbing as a map-only streaming stage (no state at all).

At 100 TB/day the dedup state is the bottleneck to plan for: the
content hash is 32 bytes/doc in the state store (RocksDB provider via
``build_session(rocksdb_state=True)``), sharded by hash — uniform by
construction, no skew.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..operators import dedup as dedup_ops
from ..operators import text as text_ops
from ..scratch import materialize
from .generational import foreach_epoch


def stream_exact_dedup(
    stream: DataFrame,
    text_col: str = "text",
    time_col: Optional[str] = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """First-occurrence-wins exact dedup on a document stream.

    With ``time_col`` the state is bounded: duplicates arriving within
    the watermark window dedup exactly; older ones age out of state.
    Without it, state grows with distinct documents (exact, unbounded
    — the batch-parity mode).
    """

    hashed = stream.withColumn("__h", F.md5(F.col(text_col)))
    if time_col is not None:
        return hashed.withWatermark(time_col, watermark) \
            .dropDuplicatesWithinWatermark(["__h"]).drop("__h")
    return hashed.dropDuplicates(["__h"]).drop("__h")


class StreamNearDedup:
    """Streaming MinHash-LSH near-duplicate suppression: keep the
    first-accepted document of every near-duplicate cluster across an
    unbounded stream.

    The accumulated state is the ACCEPTED documents' MinHash
    signatures — k longs per document, fixed-width regardless of
    document size — persisted as parquet under ``state_dir`` (at
    cluster scale: a Delta/iceberg table on object storage). Each
    micro-batch:

    1. computes batch signatures (map-only, reference:
       operators/dedup.py linear-permutation MinHash);
    2. derives LSH band keys from batch AND state signatures (a row-
       local map on read — only signatures are ever stored);
    3. joins batch keys against state keys (uniform band-hash keys, no
       skew) and against themselves for in-batch pairs;
    4. estimates similarity per candidate pair ROW-LOCALLY as the
       fraction of equal signature components (the standard MinHash
       Jaccard estimator — no shingle sets are stored or shuffled);
    5. drops batch docs whose estimate >= threshold against an
       accepted doc, resolves in-batch pairs greedily (lower doc_id
       wins — one pass, no component iteration; a doc dropped for a
       batch-internal twin whose own twin was itself dropped is the
       documented greedy over-suppression trade);
    6. appends survivors' signatures to the state and emits them.

    Per-epoch work tracks the batch: state is touched only via the
    band-key join (batch keys x state index), never rescanned in full
    per document.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        k: int = 16,
        bands: int = 4,
        n: int = 3,
        threshold: float = 0.5,
        text_col: str = "text",
    ) -> None:
        if k % bands != 0:
            raise ValueError("bands must divide k")
        self.spark = spark
        self.state_dir = state_dir
        self.k, self.bands, self.n = k, bands, n
        self.threshold = threshold
        self.text_col = text_col

    # -- helpers -----------------------------------------------------
    def _band_keys(self, sigs: DataFrame) -> DataFrame:
        rows = self.k // self.bands
        return sigs.select(
            "doc_id",
            "sig",
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bi),
                            F.slice(F.col("sig"), bi * rows + 1, rows),
                        )
                        for bi in range(self.bands)
                    ]
                )
            ).alias("key"),
        )

    def _est(self, a: str, b: str) -> Column:
        """Row-local MinHash Jaccard estimate: mean equal components."""

        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> IF(x = y, 1, 0)), "
            f"0, (acc, v) -> acc + v) / {self.k}"
        )

    def _state(self, exclude_epoch: Optional[int] = None) -> Optional[DataFrame]:
        # Only "state dir not written yet" may mean "no state" — the
        # StreamSemDeDup error discipline (ADVICE r8): a transient
        # IO error must propagate so foreachBatch retries, not dedup
        # the batch against nothing.
        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - pyspark < 3.4
            from pyspark.sql.utils import AnalysisException
        try:
            df = self.spark.read.parquet(self.state_dir)
        except AnalysisException as exc:
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None
            raise
        if exclude_epoch is not None and "epoch" in df.columns:
            # A RETRIED micro-batch must not dedup against its own
            # prior contribution — it would drop every doc and then
            # overwrite its epoch directory with nothing.
            df = df.filter(F.col("epoch") != exclude_epoch)
        return df

    # -- one epoch ---------------------------------------------------
    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> DataFrame:
        """Run one micro-batch: returns the accepted (deduped) rows of
        ``batch`` and appends their signatures to the state. Callable
        directly for batch-mode backfills; ``attach`` wires it into
        foreachBatch.

        With ``epoch`` set (the foreachBatch path), the signature
        append goes to an epoch-keyed subdirectory with overwrite, so
        a retried micro-batch REPLACES its own state contribution
        instead of duplicating it — exactly-once state under Spark's
        at-least-once foreachBatch retries. Use one mode consistently
        per state_dir (epoch-keyed dirs and flat appends don't mix in
        one parquet listing)."""

        sigs = dedup_ops.minhash_signatures(
            batch, self.k, self.n, self.text_col
        ).transform(materialize)  # one hashing pass, reused 3x
        banded = self._band_keys(sigs)

        dropped = None
        state = self._state(exclude_epoch=epoch)
        if state is not None:
            vs_state = (
                banded.join(
                    self._band_keys(state).select(
                        "key", F.col("sig").alias("ssig")
                    ),
                    "key",
                )
                .filter(self._est("sig", "ssig") >= self.threshold)
                .select("doc_id")
                .distinct()
            )
            dropped = vs_state
        internal = (
            banded.select("key", F.col("doc_id").alias("a"), F.col("sig").alias("asig"))
            .join(
                banded.select(
                    "key", F.col("doc_id").alias("b"), F.col("sig").alias("bsig")
                ),
                "key",
            )
            .filter(F.col("a") < F.col("b"))
            .filter(self._est("asig", "bsig") >= self.threshold)
            .select(F.col("b").alias("doc_id"))
            .distinct()
        )
        dropped = internal if dropped is None else dropped.union(internal).distinct()

        kept = batch.join(dropped, "doc_id", "left_anti")
        kept_sigs = sigs.join(dropped, "doc_id", "left_anti")
        # Docs too short to form a single n-gram have no signature and
        # pass through unexamined; only signatured survivors enter state.
        if epoch is not None:
            kept_sigs.write.mode("overwrite").parquet(
                f"{self.state_dir}/epoch={epoch}"
            )
        else:
            kept_sigs.write.mode("append").parquet(self.state_dir)
        return kept

    # -- streaming wiring --------------------------------------------
    def attach(
        self,
        stream: DataFrame,
        sink: Callable[[DataFrame, int], None],
        checkpoint: str,
        query_name: str = "near_dedup",
    ):
        """Run the suppression on a streaming DataFrame: each
        micro-batch is deduped against all previously-accepted
        documents, then handed to ``sink(kept_df, epoch_id)``."""

        return foreach_epoch(
            stream,
            lambda df, epoch: sink(self.process_batch(df, epoch=epoch), epoch),
            checkpoint,
            query_name,
        )


def stream_curate(
    stream: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.2,
    max_repetition: float = 0.9,
    require_lang: bool = True,
    gopher: dict | None = None,
    blocklist: list[str] | None = None,
    entropy_band: tuple[float, float] | None = None,
    c4: dict | None = None,
) -> DataFrame:
    """Map-only streaming curation stage: quality score, language ID,
    repetition ratio, PII scrubbing — and, when ``gopher`` is given
    (a dict of gopher_columns threshold overrides, ``{}`` for the
    paper's defaults), the Gopher A1.1 word-level gate; when
    ``blocklist`` is given, the word-delimited badwords gate (the
    row-local arrays_overlap form — zero joins, right for gate-sized
    lists); when ``entropy_band`` is given, the (lo, hi) char-entropy
    keep-band; when ``c4`` is given (a dict of c4_columns threshold
    overrides, ``{}`` for defaults), the C4 line-structural gate —
    pages failing it drop, surviving pages carry only their KEPT
    lines into the downstream stages (so the PII scrub and the
    quality/repetition scores see the cleaned page, exactly as the
    batch ``c4_rules``-then-curate pipeline would) — all composed as
    ONE projection (raw Column expressions, no self-joins — a
    streaming self-join would demand watermarks and state for what
    is purely map work). Zero state; fuses into the micro-batch
    scan."""

    if c4 is not None:
        c4c = text_ops.c4_columns(text_col, **c4)
        stream = stream.filter(c4c["keep"]).withColumn(
            text_col, c4c["text"]
        )
    out = stream.select(
        "*",
        text_ops.quality_columns(text_col)["quality"].alias("quality"),
        text_ops.lang_id_column(text_col).alias("lang_pred"),
        text_ops.repetition_ratio_column(text_col).alias("rep_ratio"),
        text_ops.redact_column(text_col).alias("__redacted"),
    ).filter(
        (F.col("quality") >= min_quality)
        & (F.col("rep_ratio") <= max_repetition)
    )
    if require_lang:
        out = out.filter(F.col("lang_pred") != "und")
    if gopher is not None:
        out = out.filter(
            text_ops.gopher_columns(text_col, **gopher)["pass"]
        )
    if blocklist is not None:
        out = out.filter(~text_ops.blocklist_column(blocklist, text_col))
    if entropy_band is not None:
        lo, hi = entropy_band
        ent = text_ops.char_entropy_column(text_col)
        out = out.filter((ent >= lo) & (ent <= hi))
    return out.drop(text_col).withColumnRenamed("__redacted", text_col)


class StreamSemDeDup:
    """Streaming SemDeDup: keep the first-accepted member of every
    SEMANTIC near-duplicate cluster across an unbounded embedding
    stream — the streaming twin of ``operators/curation.py::semdedup``
    (Abbas et al. 2023), with the StreamNearDedup state discipline.

    The index is a FROZEN centroid table trained offline (pass the
    output of ``similarity.ivf_centroids`` / a bootstrap
    ``kmeans_assign`` run): the batch operator's density-derived k
    needs the whole corpus up front, so the streaming twin trades
    index freshness for per-epoch work that tracks the batch — the
    same trade StreamNearDedup makes with its frozen signature width.
    Re-train centroids and re-bootstrap the state to absorb drift.

    State = the ACCEPTED embeddings (id, vector, cell), parquet under
    ``state_dir`` (a Delta/iceberg table at cluster scale). Each
    micro-batch: assign batch vectors to cells against the broadcast
    centroids (one map-side pass), compute within-cell cosines of
    batch∪state rows via the Arrow-batched pair engine
    (``curation._numpy_cell_pairs`` — the same dim-ascending kernel
    the batch operator uses), drop a batch doc that pairs >= threshold
    with ANY accepted doc or with a LOWER-id batch doc (greedy, one
    pass — the documented over-suppression trade), append survivors.
    With ``epoch`` set, the state append is epoch-keyed overwrite so a
    retried micro-batch replaces its own contribution — exactly-once
    state under foreachBatch's at-least-once retries.

    Per-epoch cost tracks the batch: state is touched only through
    the cell-keyed group shuffle (cells the batch actually hits), and
    cell occupancy is bounded by the index's target_cell density.

    Ids must be unique WITHIN a batch (the same freshness precondition
    as IncrementalDedupGroups); a batch id that matches an ALREADY
    ACCEPTED id is suppressed explicitly as a re-send of its own
    accepted copy."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        centroids: DataFrame,
        threshold: float = 0.95,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        dim: Optional[int] = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.threshold = threshold
        self.id_col, self.vec_col = id_col, vec_col
        rows = sorted(centroids.collect(), key=lambda r: r["cell"])
        if not rows:
            raise ValueError("centroids must be non-empty")
        self.dim = dim or len(rows[0]["cv"] or [])
        self._cents = spark.createDataFrame(
            [(int(r["cell"]), [float(x) for x in r["cv"]]) for r in rows],
            "cell long, cv array<double>",
        )

    def _state(self, exclude_epoch: Optional[int] = None) -> Optional[DataFrame]:
        # Only "state dir not written yet" may mean "no state": a
        # transient IO/permission/corruption error must PROPAGATE so
        # foreachBatch retries the micro-batch — swallowing it would
        # dedup the batch against nothing and permanently admit
        # semantic duplicates into the accepted set (ADVICE r8).
        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - pyspark < 3.4
            from pyspark.sql.utils import AnalysisException
        try:
            df = self.spark.read.parquet(self.state_dir)
        except AnalysisException as exc:
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None
            raise
        if exclude_epoch is not None and "epoch" in df.columns:
            df = df.filter(F.col("epoch") != exclude_epoch)
        return df.select("id", "v", "cell")

    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> DataFrame:
        """One micro-batch: returns the accepted rows of ``batch`` and
        appends their (id, v, cell) to the state. Callable directly
        for batch-mode backfills; ``attach`` wires it into
        foreachBatch."""

        from ..operators import curation as curation_ops
        from ..operators import similarity as similarity_ops

        assign = similarity_ops._assign_cells(
            batch.select(self.id_col, self.vec_col),
            self._cents,
            self.id_col,
            self.vec_col,
        )
        b = (
            batch.select(
                F.col(self.id_col).alias("id"),
                F.col(self.vec_col).cast("array<double>").alias("v"),
            )
            .join(assign.withColumnRenamed("vec_id", "id"), "id")
            .transform(materialize)  # reused: pairs + survivors
        )
        state = self._state(exclude_epoch=epoch)
        if state is None:
            resent = None
            allr = b.withColumn("__new", F.lit(True))
        else:
            # A batch row whose id is ALREADY accepted is a literal
            # re-send of an accepted doc: suppress it explicitly
            # (first-accepted wins) and keep it out of the pair engine
            # — the pair kernel keeps a strict a < b and emits NO
            # pair for equal ids, so the old implicit self-pair side
            # effect no longer exists (ADVICE r8).
            resent = b.select("id").join(
                state.select("id"), "id", "left_semi"
            )
            fresh = b.join(state.select("id"), "id", "left_anti")
            allr = state.withColumn("__new", F.lit(False)).unionByName(
                fresh.withColumn("__new", F.lit(True))
            )
        pairs = curation_ops._numpy_cell_pairs(
            allr, self.threshold, self.dim
        )
        flags = allr.select("id", "__new")
        p = (
            pairs.join(flags.toDF("a", "__na"), "a")
            .join(flags.toDF("b", "__nb"), "b")
        )
        # first-accepted wins: a batch doc paired with ANY state doc
        # drops regardless of id order; in-batch pairs drop the
        # higher id (pairs carry a < b).
        dropped = (
            p.filter(F.col("__na") & ~F.col("__nb")).select(F.col("a").alias("id"))
            .union(p.filter(~F.col("__na") & F.col("__nb")).select(F.col("b").alias("id")))
            .union(p.filter(F.col("__na") & F.col("__nb")).select(F.col("b").alias("id")))
            .distinct()
        )
        if resent is not None:
            dropped = dropped.union(resent).distinct()
        # Materialize the drop set BEFORE the state write: the
        # returned DataFrame must not re-read the state dir after this
        # batch's own append lands there (a re-listed read would pair
        # the batch against its own survivors — ADVICE r8). The set is
        # one id column, bounded by the batch.
        dropped = materialize(dropped)
        kept_rows = b.join(dropped, "id", "left_anti").select("id", "v", "cell")
        if epoch is not None:
            kept_rows.write.mode("overwrite").parquet(
                f"{self.state_dir}/epoch={epoch}"
            )
        else:
            kept_rows.write.mode("append").parquet(self.state_dir)
        return batch.join(
            dropped.withColumnRenamed("id", self.id_col), self.id_col, "left_anti"
        )

    def attach(
        self,
        stream: DataFrame,
        sink: Callable[[DataFrame, int], None],
        checkpoint: str,
        query_name: str = "sem_dedup",
    ):
        """Run the suppression on a streaming DataFrame: each
        micro-batch is deduped against all previously-accepted
        embeddings, then handed to ``sink(kept_df, epoch_id)``."""

        return foreach_epoch(
            stream,
            lambda df, epoch: sink(self.process_batch(df, epoch=epoch), epoch),
            checkpoint,
            query_name,
        )


class IncrementalDedupGroups:
    """Incrementally-maintained EXACT near-duplicate groups — the
    maintained twin of ``operators/dedup.py::dedup_groups`` (MinHash-
    LSH pairs → connected components → min-id canonical), kept
    current under document ADDS and RETRACTS.

    Where :class:`StreamNearDedup` suppresses greedily (first-accepted
    wins, documented over-suppression, no retraction), this maintainer
    reproduces the batch operator bit-for-bit after every epoch:

    - pair maintenance: an epoch's new documents band their MinHash
      signatures and key-join against the LIVE band index (new×state
      and new×new candidates only — a pair of old documents can never
      appear, their keys already met), then verify with EXACT Jaccard
      against the hashed shingle sets, exactly the batch candidate
      discipline; a retracted document drags all its pairs out;
    - group maintenance: the pair deltas feed
      :class:`~..streaming.incremental.IncrementalCC` (component-
      granular relabel, no global recompute);
    - result maintenance: touched documents (added, retracted, or
      relabeled) re-derive ``canonical = coalesce(component, own id)``
      and new-minus-old is the ± diff stream.

    State: hashed shingle sets (needed for exact verification — the
    price of exactness over :class:`StreamNearDedup`'s estimator),
    the band index, the pair set, the component labels, and the
    result — all O(live corpus), localCheckpointed per epoch (a
    Delta/iceberg table at cluster scale). Per-epoch work is
    O(batch × collides + affected components). Document ids must be
    fresh on add (retract first to replace). ``current()`` is gated
    equal to batch ``dedup_groups`` on the surviving documents under
    randomized churn in test_incremental.py.
    """

    def __init__(
        self,
        docs: DataFrame,
        k: int = 16,
        bands: int = 4,
        n: int = 3,
        threshold: float = 0.5,
        text_col: str = "text",
        id_col: str = "doc_id",
    ) -> None:
        if k % bands != 0:
            raise ValueError("bands must divide k")
        from .incremental import IncrementalCC

        self.k, self.bands, self.n = k, bands, n
        self.threshold = threshold
        base = docs.select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
        self.sets = materialize(dedup_ops.hashed_shingle_sets(base, n))
        self.bkeys = materialize(self._band_keys(self.sets))
        self.pairs = (
            dedup_ops.minhash_lsh_pairs(base, k, bands, n, threshold)
            .select("a", "b")
            .transform(materialize)
        )
        self.cc = IncrementalCC(self.pairs, "a", "b")
        self.live = materialize(base.select("doc_id").distinct())
        self.result = materialize(self._derive(self.live))

    # -- helpers -----------------------------------------------------
    def _band_keys(self, sets: DataFrame) -> DataFrame:
        rows = self.k // self.bands
        sig = sets.select(
            "doc_id", dedup_ops._sig_array(self.k).alias("sig")
        )
        return sig.select(
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bi),
                            F.slice(F.col("sig"), bi * rows + 1, rows),
                        )
                        for bi in range(self.bands)
                    ]
                )
            ).alias("key"),
        )

    def _verify(self, cand: DataFrame, sets: DataFrame) -> DataFrame:
        """Exact-Jaccard gate over candidate pairs — the batch
        operator's verification, work proportional to candidates."""

        a_sets = sets.select(F.col("doc_id").alias("a"), F.col("hs").alias("ha"))
        b_sets = sets.select(F.col("doc_id").alias("b"), F.col("hs").alias("hb"))
        return (
            cand.join(a_sets, "a")
            .join(b_sets, "b")
            .select(
                "a",
                "b",
                F.size(F.array_intersect("ha", "hb")).alias("i"),
                F.size("ha").alias("sa"),
                F.size("hb").alias("sb"),
            )
            .filter(
                F.round(
                    F.col("i") / (F.col("sa") + F.col("sb") - F.col("i")), 4
                )
                >= self.threshold
            )
            .select("a", "b")
        )

    def _derive(self, ids: DataFrame) -> DataFrame:
        """(doc_id, canonical) for ``ids``: component label if the doc
        has near-dup partners, else itself."""

        labels = self.cc.current().withColumnRenamed("id", "doc_id")
        return ids.join(labels, "doc_id", "left").select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical"),
        )

    def current(self) -> DataFrame:
        return self.result

    def apply(
        self,
        added: Optional[DataFrame] = None,
        retracted: Optional[DataFrame] = None,
    ) -> DataFrame:
        """Apply one epoch; returns (doc_id, canonical, diff) with
        diff = -1 retracting a document's previous group row and +1
        asserting the new one."""

        spark = self.sets.sparkSession
        ret_ids = (
            retracted.select(
                F.col(retracted.columns[0]).alias("doc_id")
            ).distinct()
            if retracted is not None
            else spark.createDataFrame([], "doc_id long")
        ).transform(materialize)
        add = (
            added.select(
                F.col(added.columns[0]).alias("doc_id"),
                F.col("text" if "text" in added.columns else added.columns[1]).alias("text"),
            )
            if added is not None
            else spark.createDataFrame([], "doc_id long, text string")
        )
        new_sets = dedup_ops.hashed_shingle_sets(add, self.n)
        sets1 = self.sets.join(ret_ids, "doc_id", "left_anti")
        sets2 = materialize(sets1.unionByName(new_sets))
        new_bk = self._band_keys(new_sets)
        bk2 = (
            self.bkeys.join(ret_ids, "doc_id", "left_anti")
            .unionByName(new_bk)
            .transform(materialize)
        )
        cand = (
            new_bk.toDF("x", "key")
            .join(bk2.toDF("y", "key"), "key")
            .filter(F.col("x") != F.col("y"))
            .select(
                F.least("x", "y").alias("a"),
                F.greatest("x", "y").alias("b"),
            )
            .dropDuplicates(["a", "b"])
        )
        add_pairs = materialize(self._verify(cand, sets2))
        ret_pairs = (
            self.pairs.join(
                ret_ids.withColumnRenamed("doc_id", "a"), "a", "left_semi"
            )
            .unionByName(
                self.pairs.join(
                    ret_ids.withColumnRenamed("doc_id", "b"),
                    "b",
                    "left_semi",
                )
            )
            .dropDuplicates(["a", "b"])
            .transform(materialize)
        )
        ccdiffs = self.cc.apply(added=add_pairs, retracted=ret_pairs)
        pairs2 = (
            self.pairs.join(ret_pairs, ["a", "b"], "left_anti")
            .unionByName(add_pairs)
            .dropDuplicates(["a", "b"])
            .transform(materialize)
        )
        add_ids = add.select("doc_id").distinct()
        live2 = (
            self.live.join(ret_ids, "doc_id", "left_anti")
            .unionByName(add_ids)
            .distinct()
            .transform(materialize)
        )
        touched = (
            add_ids.unionByName(ret_ids)
            .unionByName(ccdiffs.select(F.col("id").alias("doc_id")))
            .distinct()
        )
        old_res = self.result.join(touched, "doc_id", "left_semi")
        new_res = self._derive(live2.join(touched, "doc_id", "left_semi"))
        diffs = (
            old_res.select("doc_id", "canonical", F.lit(-1).alias("diff"))
            .unionByName(
                new_res.select("doc_id", "canonical", F.lit(1).alias("diff"))
            )
            .groupBy("doc_id", "canonical")
            .agg(F.sum("diff").alias("diff"))
            .filter(F.col("diff") != 0)
            .transform(materialize)
        )
        self.result = (
            self.result.join(touched, "doc_id", "left_anti")
            .unionByName(new_res)
            .transform(materialize)
        )
        self.sets, self.bkeys = sets2, bk2
        self.pairs, self.live = pairs2, live2
        return diffs

    def attach(
        self,
        stream: DataFrame,
        sink: Callable[[DataFrame, int], None],
        checkpoint: str,
        query_name: str = "dedup_groups",
        op_col: str = "op",
    ):
        """Maintain the groups over a streaming DataFrame: rows are
        document ADDS unless an ``op_col`` column says ``'retract'``
        (then only ``doc_id`` is read). Each micro-batch's ± group
        diffs go to ``sink(diffs_df, epoch_id)``. A replayed epoch id
        is skipped (foreachBatch is at-least-once; ``apply`` is not
        idempotent). State is in-memory localCheckpoints — a restart
        rebuilds from the initial corpus; at cluster scale the state
        tables live in a transactional table format instead."""

        def _on_batch(df: DataFrame, epoch: int) -> None:
            if epoch == getattr(self, "_last_epoch", None):
                return
            if op_col in df.columns:
                adds = df.filter(
                    (F.col(op_col).isNull()) | (F.col(op_col) != "retract")
                ).drop(op_col)
                rets = df.filter(F.col(op_col) == "retract").select("doc_id")
            else:
                adds, rets = df, None
            diffs = self.apply(added=adds, retracted=rets)
            self._last_epoch = epoch
            sink(diffs, epoch)

        return foreach_epoch(stream, _on_batch, checkpoint, query_name)


class StreamFuzzyDedup:
    """Streaming fuzzy-key suppression: keep the first-accepted row of
    every edit-distance-1 cluster of short keys (names, titles,
    product codes) across an unbounded stream — the streaming twin of
    ``operators/dedup.py::fuzzy_match_pairs``-then-``fuzzy_match_groups``,
    with the StreamNearDedup state discipline.

    The accumulated state is the ACCEPTED rows' (id, s) — the keys
    are short by the operator family's assumption, so the state is a
    few dozen bytes per entity (persisted as parquet under
    ``state_dir``; a Delta/iceberg table at cluster scale). Each
    micro-batch:

    1. derives symmetric-deletion variant keys for the batch AND the
       state rows (row-local maps on read — the variants are never
       stored, only (id, s));
    2. joins batch variants against state variants and against
       themselves (constant-width xxhash64 keys — the COMPLETE
       FastSS blocking, so a duplicate within the radius cannot slip
       past the state);
    3. verifies every candidate with exact ``levenshtein`` <= 1;
    4. drops batch rows matching an accepted row; resolves in-batch
       pairs greedily (lower id wins — the StreamNearDedup
       over-suppression trade, documented there);
    5. appends survivors' (id, s) to the state and emits them.

    Per-epoch work tracks the batch: state is touched only via the
    variant-key join, never rescanned per row. NULL keys pass through
    unexamined and never enter state.
    """

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        id_col: str = "id",
        s_col: str = "s",
        max_dist: int = 1,
    ) -> None:
        if max_dist != 1:
            raise ValueError("StreamFuzzyDedup supports max_dist=1 only")
        self.spark = spark
        self.state_dir = state_dir
        self.id_col, self.s_col = id_col, s_col
        self.max_dist = max_dist

    # -- helpers -----------------------------------------------------
    @staticmethod
    def _variants(df: DataFrame) -> DataFrame:
        """(id, s, __k): one row per {0,1}-deletion variant key."""

        v = F.array_distinct(
            F.concat(
                F.array(F.col("s")),
                F.expr(
                    "transform(sequence(1, length(s)), i -> "
                    "concat(substr(s, 1, i - 1), substr(s, i + 1)))"
                ),
            )
        )
        return df.select(
            "id", "s", F.explode(v).alias("__v")
        ).select("id", "s", F.xxhash64("__v").alias("__k"))

    def _state(self, exclude_epoch: Optional[int] = None) -> Optional[DataFrame]:
        # Only "state dir not written yet" may mean "no state" — the
        # StreamSemDeDup error discipline (ADVICE r8).
        try:
            from pyspark.errors import AnalysisException
        except ImportError:  # pragma: no cover - pyspark < 3.4
            from pyspark.sql.utils import AnalysisException
        try:
            df = self.spark.read.parquet(self.state_dir)
        except AnalysisException as exc:
            msg = str(exc)
            if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
                return None
            raise
        if exclude_epoch is not None and "epoch" in df.columns:
            df = df.filter(F.col("epoch") != exclude_epoch)
        return df.select("id", "s")

    # -- one epoch ---------------------------------------------------
    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> DataFrame:
        """One micro-batch: returns the accepted rows of ``batch`` and
        appends their (id, s) to the state. With ``epoch`` set (the
        foreachBatch path) the append is an epoch-keyed overwrite —
        exactly-once state under at-least-once retries."""

        named = batch.select(
            F.col(self.id_col).alias("id"), F.col(self.s_col).alias("s")
        )
        keyed = named.filter(F.col("s").isNotNull())
        bvar = materialize(self._variants(keyed))
        state = self._state(exclude_epoch=epoch)
        dropped = None
        if state is not None:
            svar = self._variants(state)
            vs_state = (
                bvar.join(
                    svar.select(
                        "__k",
                        F.col("id").alias("sid"),
                        F.col("s").alias("ss"),
                    ),
                    "__k",
                )
                .filter(
                    F.levenshtein(F.col("s"), F.col("ss")) <= self.max_dist
                )
                .select("id")
                .distinct()
            )
            dropped = vs_state
        internal = (
            bvar.select(
                "__k", F.col("id").alias("a"), F.col("s").alias("sa")
            )
            .join(
                bvar.select(
                    "__k", F.col("id").alias("b"), F.col("s").alias("sb")
                ),
                "__k",
            )
            .filter(F.col("a") < F.col("b"))
            .filter(
                F.levenshtein(F.col("sa"), F.col("sb")) <= self.max_dist
            )
            .select(F.col("b").alias("id"))
            .distinct()
        )
        dropped = (
            internal if dropped is None else dropped.union(internal).distinct()
        )
        kept = named.join(dropped, "id", "left_anti")
        kept_state = keyed.join(dropped, "id", "left_anti")
        if epoch is not None:
            kept_state.write.mode("overwrite").parquet(
                f"{self.state_dir}/epoch={epoch}"
            )
        else:
            kept_state.write.mode("append").parquet(self.state_dir)
        return kept.select(
            F.col("id").alias(self.id_col), F.col("s").alias(self.s_col)
        )

    # -- streaming wiring --------------------------------------------
    def attach(
        self,
        stream: DataFrame,
        sink: Callable[[DataFrame, int], None],
        checkpoint: str,
        query_name: str = "fuzzy_dedup",
    ):
        return foreach_epoch(
            stream,
            lambda df, epoch: sink(self.process_batch(df, epoch=epoch), epoch),
            checkpoint,
            query_name,
        )
