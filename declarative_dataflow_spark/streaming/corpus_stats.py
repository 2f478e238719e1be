"""Incrementally-maintained corpus statistics for streaming curation.

``dup_ngram_frac`` (operators/curation.py) is a CORPUS-level signal:
one new document can flip n-grams from unique to duplicated and
thereby change the boilerplate score of documents ingested long ago.
Recomputing the whole corpus per micro-batch is O(corpus); this module
maintains it differentially — the same "work tracks the change"
contract the relational DeltaJoin gives conjunctive queries, applied
to a corpus aggregate:

state (parquet dirs; Delta/iceberg tables at cluster scale):
  counts/  (ngram, n)        — corpus-wide occurrence counts
  index/   (ngram, doc_id)   — inverted index of ACCEPTED documents
  docs/    (doc_id, n_ngrams)— per-doc denominator

per epoch (a batch of new documents):
  1. batch n-grams per doc (row-local construction, distinct per doc);
  2. join batch n-grams against ``counts`` -> updated counts for the
     touched n-grams ONLY;
  3. crossing set = n-grams whose count crossed the >=2 threshold in
     this epoch (1 -> >=2). Documents containing a crossing n-gram are
     the only OLD documents whose dup_frac changed — found by an
     inverted-index lookup on the crossing n-grams, never a corpus
     scan;
  4. recompute dup_frac for (batch docs ∪ affected old docs): their
     n-grams come from the index slice (semi-join pruned), their
     duplicate flags from the UPDATED counts;
  5. emit (doc_id, n_ngrams, n_dup, dup_frac) update rows for exactly
     those documents; append/merge state.

Per-epoch COMPUTE is O(batch n-grams + affected-doc n-grams + one
distributed scan of the counts state), and per-epoch PERSISTENCE is
O(batch): counts/index/docs are append-only (count increments
consolidate on read and compact every ``compact_every`` epochs), so
nothing corpus-sized is ever rewritten inside an epoch. The
full-corpus quantity is the state itself, which lives on storage, not
in any epoch's shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import shingles
from ..scratch import materialize
from .generational import _fold, _GenerationalState, foreach_epoch


class IncrementalDupNgram(_GenerationalState):
    """Differential duplicate-n-gram fraction over an append-only
    document stream. ``process_batch`` returns the changed documents'
    rows; accumulated state answers exactly like the batch operator
    run on everything ingested so far (gated in tests)."""

    WEIGHTS = {"counts": ("n",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n: int = 3,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.n = n
        self.text_col = text_col

    def _read_counts(self) -> Optional[DataFrame]:
        return self._consolidated("counts")

    # -- one epoch ---------------------------------------------------
    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> DataFrame:
        """Ingest one batch; return updated stat rows for exactly the
        documents whose dup_ngram_frac changed (batch docs + old docs
        sharing a threshold-crossing n-gram). Pass the foreachBatch
        ``epoch`` id for retry-idempotent state writes (use one mode
        consistently per state_dir)."""

        # (doc_id, shingle), distinct per doc
        sh = materialize(shingles(batch, self.n, self.text_col))

        counts = self._read_counts()
        index = self._read_versioned("index")

        batch_counts = sh.groupBy("shingle").agg(
            F.count(F.lit(1)).alias("bn")
        )
        if counts is None:
            merged_touched = batch_counts.select(
                "shingle",
                F.lit(0).cast("long").alias("old_n"),
                F.col("bn").cast("long").alias("new_n"),
            )
        else:
            merged_touched = (
                batch_counts.join(counts, "shingle", "left")
                .select(
                    "shingle",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("old_n"),
                    (F.coalesce(F.col("n"), F.lit(0)) + F.col("bn"))
                    .cast("long")
                    .alias("new_n"),
                )
            )
        merged_touched = materialize(merged_touched)

        # n-grams that BECAME duplicated this epoch: old docs holding
        # them change their numerator.
        crossing = merged_touched.filter(
            (F.col("old_n") < 2) & (F.col("new_n") >= 2)
        ).select("shingle")

        affected_old = (
            index.join(crossing, "shingle", "left_semi")
            .select("doc_id")
            .distinct()
            if index is not None
            else None
        )

        # All (doc, ngram) rows needing a fresh numerator: the batch's
        # own, plus the affected old docs' slices from the index.
        doc_ngrams = sh
        if affected_old is not None:
            doc_ngrams = doc_ngrams.unionByName(
                index.join(affected_old, "doc_id", "left_semi")
            )

        # Duplicate flag against the UPDATED counts: touched n-grams
        # carry new_n; untouched ones keep their stored count (only
        # possible for old docs' n-grams).
        upd = merged_touched.select("shingle", F.col("new_n").alias("__n"))
        if counts is not None:
            untouched = counts.join(
                merged_touched.select("shingle"), "shingle", "left_anti"
            ).select("shingle", F.col("n").alias("__n"))
            upd = upd.unionByName(untouched)
        stats = (
            doc_ngrams.join(upd, "shingle")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_ngrams"),
                F.sum(F.when(F.col("__n") >= 2, 1).otherwise(0))
                .cast("long")
                .alias("n_dup"),
            )
            .select(
                "doc_id",
                "n_ngrams",
                "n_dup",
                F.round(F.col("n_dup") / F.col("n_ngrams"), 4).alias(
                    "dup_frac"
                ),
            )
            .transform(materialize)
        )

        # -- advance state: O(batch) appends only --
        self._append(
            "counts",
            batch_counts.select("shingle", F.col("bn").cast("long").alias("n")),
            epoch,
        )
        self._append("index", sh, epoch)
        self._append(
            "docs",
            sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_ngrams")),
            epoch,
        )
        self._end_epoch()
        return stats

    def current(self) -> Optional[DataFrame]:
        """The maintained statistic for every ingested document —
        recomputed from state slices (index x counts), NOT from text;
        equals the batch operator over the full corpus."""

        index = self._read_versioned("index")
        counts = self._read_counts()
        if index is None or counts is None:
            return None
        return (
            index.join(counts, "shingle")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_ngrams"),
                F.sum(F.when(F.col("n") >= 2, 1).otherwise(0))
                .cast("long")
                .alias("n_dup"),
            )
            .select(
                "doc_id",
                "n_ngrams",
                "n_dup",
                F.round(F.col("n_dup") / F.col("n_ngrams"), 4).alias(
                    "dup_frac"
                ),
            )
        )


class IncrementalVocab(_GenerationalState):
    """Differentially-maintained tokenizer vocabulary: corpus-wide
    subword-piece counts as storage-backed state; each epoch merges
    only the batch's piece counts (uniform-key aggregation over the
    batch), and ``topk`` ranks the |vocab|-sized state — never the
    corpus. The streaming form of operators/text.py::vocab_topk."""

    WEIGHTS = {"vocab": ("n",)}

    def __init__(
        self, spark: SparkSession, state_dir: str, text_col: str = "text"
    ) -> None:
        super().__init__(spark, state_dir)
        self.text_col = text_col

    def process_batch(self, batch: DataFrame) -> None:
        from ..operators.text import SUBWORD_PATTERN

        pieces = batch.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(self.text_col)), F.lit(SUBWORD_PATTERN), 0
                )
            ).alias("token")
        )
        bc = pieces.groupBy("token").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        # O(batch) append; reads consolidate (groupBy sum) and the
        # shared compaction folds increments periodically.
        self._append("vocab", bc)
        self._end_epoch()

    def topk(self, k: int = 100) -> Optional[DataFrame]:
        from pyspark.sql import Window

        cur = self._consolidated("vocab")
        if cur is None:
            return None
        # TakeOrderedAndProject first; the rank window sees k rows only
        # (same lowering as the batch operator — never a
        # single-partition sort of the whole vocabulary state).
        top = cur.orderBy(F.col("n").desc(), F.col("token")).limit(k)
        w = Window.orderBy(F.col("n").desc(), F.col("token"))
        return (
            top.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= k)
        )


class IncrementalContamination(_GenerationalState):
    """Retroactive benchmark decontamination: when a NEW benchmark
    lands, previously-clean documents may become contaminated. This
    maintainer shares the corpus inverted index (ngram -> doc_id) with
    :class:`IncrementalDupNgram`-style state and keeps the accumulated
    eval n-gram set; ``add_eval`` re-scores ONLY the documents sharing
    an n-gram with the eval additions (index lookup), never the
    corpus. ``add_docs`` scores arriving documents against the current
    eval set (stateless per batch beyond the index append)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n: int = 3,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.n = n
        self.text_col = text_col

    def _score(self, doc_ngrams: DataFrame, ev: Optional[DataFrame]) -> DataFrame:
        hit = (
            doc_ngrams.join(
                F.broadcast(ev.withColumn("__hit", F.lit(1))), "shingle", "left"
            )
            if ev is not None
            else doc_ngrams.withColumn("__hit", F.lit(None).cast("int"))
        )
        return (
            hit.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_ngrams"),
                F.coalesce(F.sum("__hit"), F.lit(0)).cast("long").alias("n_hit"),
            )
            .select(
                "doc_id",
                "n_ngrams",
                "n_hit",
                F.round(F.col("n_hit") / F.col("n_ngrams"), 4).alias(
                    "contamination"
                ),
            )
        )

    def add_docs(self, batch: DataFrame) -> DataFrame:
        """Ingest documents; returns their scores against the CURRENT
        eval set and appends them to the shared inverted index."""

        sh = materialize(shingles(batch, self.n, self.text_col))
        self._append("index", sh)  # O(batch) append-only
        return self._score(sh, self._read_versioned("eval"))

    def add_eval(self, eval_docs: DataFrame) -> DataFrame:
        """Add a benchmark; returns UPDATED scores for exactly the
        already-ingested documents whose contamination changed (those
        sharing an n-gram with the eval ADDITIONS)."""

        ev_new = (
            shingles(eval_docs, self.n, self.text_col)
            .select("shingle")
            .distinct()
            .transform(materialize)
        )
        ev_old = self._read_versioned("eval")
        additions = (
            ev_new
            if ev_old is None
            else ev_new.join(ev_old, "shingle", "left_anti")
        )
        merged = ev_new if ev_old is None else ev_old.unionByName(additions)
        self._overwrite("eval", merged.distinct())
        index = self._read_versioned("index")
        if index is None:
            return self.spark.createDataFrame(
                [], "doc_id long, n_ngrams long, n_hit long, contamination double"
            )
        affected = (
            index.join(additions, "shingle", "left_semi")
            .select("doc_id")
            .distinct()
        )
        slice_ = index.join(affected, "doc_id", "left_semi")
        return self._score(slice_, self._read_versioned("eval"))

    def current(self) -> Optional[DataFrame]:
        """Scores for every ingested document from state alone."""

        index = self._read_versioned("index")
        if index is None:
            return None
        return self._score(index, self._read_versioned("eval"))


class IncrementalLineDedup(_GenerationalState):
    """Differentially-maintained corpus-level line dedup
    (operators/curation.py::line_dedup): a normalized line crossing
    the ``min_docs`` distinct-document threshold retroactively removes
    itself from EVERY document that contains it — including documents
    ingested long ago. Recomputing the corpus per micro-batch is
    O(corpus); this maintainer re-emits exactly the documents whose
    surviving text changed.

    state (generational parquet, crash-safe swap + epoch manifests):
      counts/  (norm, n)              — distinct-doc counts per line
      index/   (norm, doc_id)         — inverted index (distinct)
      lines/   (doc_id, pos, line, norm) — full line store (the
               re-assembly source; only affected docs' slices are
               ever joined per epoch)

    per epoch: batch lines -> touched counts (join against state on
    the uniform norm key) -> crossing set (old_n < min_docs <= new_n)
    -> affected old docs via index semi-join -> re-emit
    (doc_id, text, n_lines, n_removed) for batch ∪ affected docs,
    re-assembled from the pruned lines slice against UPDATED counts.
    Work per epoch is O(batch lines + affected-doc lines); state
    writes are O(batch) appends. Gated equal to the batch operator
    across deterministic and randomized epoch sequences.
    """

    WEIGHTS = {"counts": ("n",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        min_docs: int = 2,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.min_docs = min_docs
        self.text_col = text_col

    def _read_counts(self) -> Optional[DataFrame]:
        return self._consolidated("counts")

    # -- helpers ------------------------------------------------------
    def _explode_lines(self, batch: DataFrame) -> DataFrame:
        return batch.select(
            "doc_id",
            F.posexplode(F.split(F.col(self.text_col), "\n")).alias(
                "pos", "line"
            ),
        ).withColumn("norm", F.trim(F.lower(F.col("line"))))

    def _assemble(self, doc_lines: DataFrame, counts: DataFrame) -> DataFrame:
        """(doc_id, pos, line, norm) x updated counts -> the operator's
        output rows for exactly the docs present in ``doc_lines``."""

        flagged = doc_lines.join(counts, "norm", "left").withColumn(
            "__dup", F.coalesce(F.col("n"), F.lit(0)) >= self.min_docs
        )
        totals = flagged.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_lines")
        )
        kept = flagged.filter(~F.col("__dup"))
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

    # -- one epoch ----------------------------------------------------
    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> DataFrame:
        """Ingest one batch of documents; return the operator's rows
        for every document whose output changed: the batch's own docs
        plus old docs holding a line that just crossed min_docs."""

        lines = materialize(self._explode_lines(batch))
        dn = lines.select("doc_id", "norm").distinct()

        counts = self._read_counts()
        index = self._read_versioned("index")

        batch_counts = dn.groupBy("norm").agg(
            F.count(F.lit(1)).alias("bn")
        )
        if counts is None:
            touched = batch_counts.select(
                "norm",
                F.lit(0).cast("long").alias("old_n"),
                F.col("bn").cast("long").alias("new_n"),
            )
        else:
            touched = batch_counts.join(counts, "norm", "left").select(
                "norm",
                F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("old_n"),
                (F.coalesce(F.col("n"), F.lit(0)) + F.col("bn"))
                .cast("long")
                .alias("new_n"),
            )
        touched = materialize(touched)

        crossing = touched.filter(
            (F.col("old_n") < self.min_docs)
            & (F.col("new_n") >= self.min_docs)
        ).select("norm")

        doc_lines = lines
        if index is not None:
            affected_old = (
                index.join(crossing, "norm", "left_semi")
                .select("doc_id")
                .distinct()
            )
            stored = self._read_versioned("lines")
            if stored is not None:
                doc_lines = doc_lines.unionByName(
                    stored.join(affected_old, "doc_id", "left_semi")
                )

        # Updated counts view: touched norms carry new_n, untouched
        # norms (only reachable from old docs' lines) keep state.
        upd = touched.select("norm", F.col("new_n").alias("n"))
        if counts is not None:
            upd = upd.unionByName(
                counts.join(touched.select("norm"), "norm", "left_anti")
            )
        out = materialize(self._assemble(doc_lines, upd))

        # -- advance state: O(batch) appends --
        self._append(
            "counts",
            batch_counts.select("norm", F.col("bn").cast("long").alias("n")),
            epoch,
        )
        self._append("index", dn, epoch)
        self._append("lines", lines, epoch)
        self._end_epoch()
        return out

    def current(self) -> Optional[DataFrame]:
        """The maintained output for every ingested document — equals
        the batch operator over everything ingested so far."""

        stored = self._read_versioned("lines")
        counts = self._read_counts()
        if stored is None or counts is None:
            return None
        return self._assemble(stored, counts)

class IncrementalHLL(_GenerationalState):
    """Streaming HyperLogLog distinct-token cardinality: the
    constant-state sketch maintained across epochs. Each micro-batch
    contributes its own <= m-row register table (an O(batch) map +
    uniform-key max); reads consolidate appended register tables by
    pairwise MAX — the merge the sketch is built for — so state on
    disk stays O(m * epochs-since-compaction) and compacts back to
    <= m rows on the shared generational schedule.

    Append-only by construction: registers are maxes, so a retraction
    cannot be applied (the standard HLL limitation — retractable
    cardinality needs a different sketch family entirely, e.g.
    linear counting over a bitmap); retract by rebuilding the state.
    The streaming twin of operators/sketch.py::hll_distinct's sketch
    side, gated equal to it in tests/test_streaming.py.
    """

    WEIGHTS = {"hll": ("r",)}
    FOLD = staticmethod(F.max)

    def __init__(
        self, spark: SparkSession, state_dir: str, text_col: str = "text"
    ) -> None:
        super().__init__(spark, state_dir)
        self.text_col = text_col

    def process_batch(
        self, batch: DataFrame, epoch: Optional[int] = None
    ) -> None:
        from ..operators.sketch import hll_registers

        regs = hll_registers(batch, self.text_col)
        self._append("hll", regs, epoch=epoch)
        self._end_epoch()

    def registers(self) -> Optional[DataFrame]:
        return self._consolidated("hll")

    def estimate(self) -> Optional[DataFrame]:
        from ..operators.sketch import hll_estimate_from_registers

        regs = self.registers()
        if regs is None:
            return None
        return hll_estimate_from_registers(regs)

class IncrementalCMS(_GenerationalState):
    """Differential Count-Min sketch: the counter grid is LINEAR —
    cells are sums of per-token contributions — so unlike HLL it
    maintains under RETRACTIONS too (a removed document subtracts the
    cell increments it once added; the estimate-query min over rows is
    taken at read time). The streaming twin of
    operators/sketch.py::cms_sketch.

    Each epoch appends the batch's <= d*w-row cell-delta table
    (negative cnt for retractions) to the shared generational state;
    reads consolidate by SUM and drop zeroed cells, so a fully
    retracted corpus leaves an empty sketch. State on disk stays
    O(d*w * epochs-since-compaction) and compacts to <= d*w rows.
    """

    WEIGHTS = {"cms": ("cnt",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        depth: int = 4,
        width: int = 512,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.depth = depth
        self.width = width
        self.text_col = text_col

    def _cells(self, docs: DataFrame) -> DataFrame:
        from ..operators.sketch import cms_sketch

        return cms_sketch(docs, self.depth, self.width, self.text_col)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        delta = None
        if adds is not None:
            delta = self._cells(adds)
        if retracts is not None:
            neg = self._cells(retracts).select(
                "j", "c", (-F.col("cnt")).alias("cnt")
            )
            delta = neg if delta is None else delta.unionByName(neg)
        if delta is None:
            return
        # Consolidate the epoch's own adds+retracts before writing.
        self._append("cms", _fold(delta, ("cnt",)), epoch=epoch)
        self._end_epoch()

    def sketch(self) -> Optional[DataFrame]:
        return self._consolidated("cms")

    def estimate(self, terms: list[str]) -> Optional[DataFrame]:
        """(term, est) for a probe list: min over the d rows' cells
        (absent cell == 0 count)."""

        from ..operators.sketch import _SPARK_H32

        sk = self.sketch()
        if sk is None:
            return None
        probes = self.spark.createDataFrame(
            [(t,) for t in terms], ["term"]
        )
        cells = F.array(
            *[
                F.struct(
                    F.lit(j).alias("j"),
                    F.expr(
                        _SPARK_H32.format(t=f"concat('{j}_', term)")
                        + f" % {self.width}"
                    ).alias("c"),
                )
                for j in range(self.depth)
            ]
        )
        return (
            probes.select("term", F.explode(cells).alias("cell"))
            .select("term", "cell.j", "cell.c")
            .join(F.broadcast(sk), ["j", "c"], "left")
            .groupBy("term")
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
            )
        )

class IncrementalHistogram(_GenerationalState):
    """Differential log-bucket histogram: bucket counts are LINEAR
    (sums of per-row contributions), so the state maintains under
    retractions exactly like the CMS grid — a removed row subtracts
    the bucket increment it once added, and a fully retracted corpus
    leaves an empty histogram. The streaming twin of
    operators/sketch.py::hist_buckets; quantiles re-derive through the
    SAME extraction (``hist_quantiles_from``) as the batch operator,
    so maintained and batch answers are identical, not just close.

    Each epoch appends the batch's <= bits+1-row bucket-delta table
    (negative cnt for retractions); reads consolidate by SUM and drop
    zeroed buckets. State on disk stays O(bits * epochs-since-
    compaction) and compacts to <= bits+1 rows.
    """

    WEIGHTS = {"hist": ("cnt",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        value_col: str = "n_chars",
        bits: int = 40,
    ) -> None:
        super().__init__(spark, state_dir)
        self.value_col = value_col
        self.bits = bits

    def _buckets(self, rows: DataFrame) -> DataFrame:
        from ..operators.sketch import hist_buckets

        return hist_buckets(rows, self.value_col, self.bits)

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        delta = None
        if adds is not None:
            delta = self._buckets(adds)
        if retracts is not None:
            neg = self._buckets(retracts).select(
                "bucket", (-F.col("cnt")).alias("cnt")
            )
            delta = neg if delta is None else delta.unionByName(neg)
        if delta is None:
            return
        self._append("hist", _fold(delta, ("cnt",)), epoch=epoch)
        self._end_epoch()

    def histogram(self) -> Optional[DataFrame]:
        return self._consolidated("hist")

    def quantiles(
        self, qs: tuple[float, ...] = (0.5, 0.9, 0.99)
    ) -> Optional[DataFrame]:
        from ..operators.sketch import hist_quantiles_from

        hist = self.histogram()
        if hist is None:
            return None
        return hist_quantiles_from(hist, qs)


class IncrementalBM25(_GenerationalState):
    """Maintained BM25 index for a FIXED probe query (the curation
    monitor: "which documents most match this benchmark / domain
    probe right now"). BM25's corpus statistics are global — every
    add/retract moves N, avgdl, and df, which rescores EVERY matching
    document — so the maintained state is not the ranking but the
    linear tables the ranking derives from:

    - scalars (n_docs, sum_dl): one signed row per epoch;
    - qdl (doc_id, dl): document lengths for matching docs, signed;
    - qtf (doc_id, term, tf): query-term frequencies, signed.

    All three are sums, so retractions subtract exactly (the CMS
    argument, not the HLL one). ``topk`` re-derives df and avgdl from
    the consolidated state and ranks via the SAME scoring expression
    as the batch operator (operators/retrieval.py::rank_bm25) over
    the |matching docs| rows — never the corpus. Gated equal to
    batch bm25_topk on the net corpus every epoch.
    """

    WEIGHTS = {
        "bm25_scalars": ("n", "sdl"),
        "bm25_qdl": ("dl",),
        "bm25_qtf": ("tf",),
    }

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        query_terms: list,
        k1: float = 1.2,
        b: float = 0.75,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.query_terms = list(query_terms)
        self.k1 = k1
        self.b = b
        self.text_col = text_col

    def _toks(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col(self.text_col))), r"\s+")
            ).alias("term"),
        )

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        scal, qdl, qtf = None, None, None
        for docs, sign in ((adds, 1), (retracts, -1)):
            if docs is None:
                continue
            toks = self._toks(docs)
            dl = toks.groupBy("doc_id").agg(
                (F.lit(sign) * F.count(F.lit(1))).cast("long").alias("dl")
            )
            s = dl.agg(
                F.lit(sign) * F.count(F.lit(1)).cast("long"),
                F.sum("dl").cast("long"),
            ).toDF("n", "sdl")
            tf = (
                toks.filter(F.col("term").isin(self.query_terms))
                .groupBy("doc_id", "term")
                .agg(
                    (F.lit(sign) * F.count(F.lit(1)))
                    .cast("long")
                    .alias("tf")
                )
            )
            d = dl.join(tf.select("doc_id").distinct(), "doc_id")
            scal = s if scal is None else scal.unionByName(s)
            qdl = d if qdl is None else qdl.unionByName(d)
            qtf = tf if qtf is None else qtf.unionByName(tf)
        if scal is None:
            return
        self._append("bm25_scalars", scal, epoch=epoch)
        self._append("bm25_qdl", qdl, epoch=epoch)
        self._append("bm25_qtf", qtf, epoch=epoch)
        self._end_epoch()

    def topk(self, k: int = 20) -> Optional[DataFrame]:
        from ..operators.retrieval import rank_bm25

        scal = self._consolidated("bm25_scalars")
        if scal is None:
            return None
        # avgdl exactly as batch's F.avg over longs: exact long sum,
        # one double divide.
        stats = scal.select(
            F.col("n").alias("n_docs"),
            (F.col("sdl").cast("double") / F.col("n")).alias("avgdl"),
        )
        qtf = self._consolidated("bm25_qtf").filter(F.col("tf") > 0)
        qdl = self._consolidated("bm25_qdl").filter(F.col("dl") > 0)
        df_ = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
        return rank_bm25(qtf, df_, qdl, stats, k=k, k1=self.k1, b=self.b)

class IncrementalNB(_GenerationalState):
    """Maintained Naive-Bayes quality classifier (the streaming twin
    of operators/text.py::nb_quality_score with explicit labels): all
    model state — per-term conditional counts, per-class token totals,
    per-class document counts, and the distinct-vocabulary register —
    is LINEAR, so additions and retractions maintain exactly (signed
    sums, the CMS argument). ``score`` re-derives the log-odds model
    from the consolidated counts and scores any probe frame with the
    batch operator's arithmetic.

    The one non-obvious piece is V (distinct vocabulary size): a
    retraction only removes a term from V when its LAST occurrence
    retracts, which falls out of the same signed per-term count table
    (V = count of terms with net count > 0) rather than a separate
    structure.
    """

    WEIGHTS = {"nb_terms": ("cp", "cf"), "nb_docs": ("d_pass", "d_fail")}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        alpha: float = 0.5,
        text_col: str = "text",
        label_col: str = "label",
    ) -> None:
        super().__init__(spark, state_dir)
        self.alpha = alpha
        self.text_col = text_col
        self.label_col = label_col

    def _toks(self, docs: DataFrame) -> DataFrame:
        return docs.select(
            "doc_id",
            F.col(self.label_col).alias("label"),
            F.explode(
                F.split(F.trim(F.lower(F.col(self.text_col))), r"\s+")
            ).alias("term"),
        )

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        tc, dc = None, None
        for docs, sign in ((adds, 1), (retracts, -1)):
            if docs is None:
                continue
            toks = self._toks(docs)
            t = toks.groupBy("term").agg(
                (F.lit(sign) * F.sum(F.when(F.col("label"), 1).otherwise(0)))
                .cast("long")
                .alias("cp"),
                (F.lit(sign) * F.sum(F.when(F.col("label"), 0).otherwise(1)))
                .cast("long")
                .alias("cf"),
            )
            d = docs.agg(
                (F.lit(sign) * F.sum(F.when(F.col(self.label_col), 1).otherwise(0)))
                .cast("long")
                .alias("d_pass"),
                (F.lit(sign) * F.sum(F.when(F.col(self.label_col), 0).otherwise(1)))
                .cast("long")
                .alias("d_fail"),
            )
            tc = t if tc is None else tc.unionByName(t)
            dc = d if dc is None else dc.unionByName(d)
        if tc is None:
            return
        self._append("nb_terms", tc, epoch=epoch)
        self._append("nb_docs", dc, epoch=epoch)
        self._end_epoch()

    def score(self, probe: DataFrame) -> Optional[DataFrame]:
        """(doc_id, n_tokens, score) for a probe document frame under
        the CURRENT maintained model — the batch operator's arithmetic
        (9-decimal log-odds weights, DECIMAL(24,9) sums, 6-decimal
        final round)."""

        terms = self._consolidated("nb_terms")
        if terms is None:
            return None
        terms = terms.filter((F.col("cp") > 0) | (F.col("cf") > 0))
        alpha = self.alpha
        tot = terms.agg(
            F.sum("cp").cast("long").alias("n_pass"),
            F.sum("cf").cast("long").alias("n_fail"),
            F.count(F.lit(1)).alias("v"),
        )
        model = terms.crossJoin(F.broadcast(tot)).select(
            "term",
            F.round(
                F.log(
                    (F.col("cp") + alpha)
                    / (F.col("n_pass") + alpha * F.col("v"))
                )
                - F.log(
                    (F.col("cf") + alpha)
                    / (F.col("n_fail") + alpha * F.col("v"))
                ),
                9,
            )
            .cast("decimal(24,9)")
            .alias("w"),
        )
        prior = F.round(
            F.log(
                (F.col("d_pass") + alpha) / (F.col("d_fail") + alpha)
            ),
            9,
        )
        ptoks = probe.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col(self.text_col))), r"\s+")
            ).alias("term"),
        )
        return (
            ptoks.join(model, "term")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("w").cast("double").alias("__s"),
            )
            .crossJoin(F.broadcast(self._consolidated("nb_docs")))
            .select(
                "doc_id",
                "n_tokens",
                F.round(F.col("__s") + prior, 6).alias("score"),
            )
        )


def attach_epochs(
    stream: DataFrame,
    inc,
    checkpoint: str,
    query_name: str = "corpus_stats",
    sink=None,
):
    """Drive any maintained corpus-statistic operator from a real
    Structured Streaming source: each micro-batch folds into ``inc``
    via ``process_batch(batch, epoch=epoch_id)`` — the epoch id makes
    retried micro-batches idempotent (the generational state's
    epoch-keyed overwrite), which is exactly the at-least-once ->
    exactly-once bridge foreachBatch requires. ``sink(inc, epoch)``
    (optional) runs after each fold for read-your-writes consumers.

    Works for IncrementalHLL, IncrementalVocab, IncrementalDupNgram,
    and (add-only streams) IncrementalCMS / IncrementalNB /
    IncrementalBM25 — their adds-first signatures accept a positional
    batch.
    """

    def _on_batch(df: DataFrame, epoch: int) -> None:
        inc.process_batch(df, epoch=epoch)
        if sink is not None:
            sink(inc, epoch)

    return foreach_epoch(stream, _on_batch, checkpoint, query_name)


class IncrementalBloom(_GenerationalState):
    """Maintained decontamination Bloom filter: benchmarks land over
    time (and are occasionally withdrawn), and every probe of the
    corpus must see the filter for ALL eval docs so far. State is the
    COUNTING form — (bit, cnt) with cnt = number of eval-shingle hash
    contributions landing on the bit — which is LINEAR, so unlike the
    pure bitmask it maintains under retractions (withdrawing a
    benchmark subtracts its contributions; a bit shared with another
    benchmark stays set). Membership = cnt > 0 reproduces the plain
    m-bit filter exactly.

    Per epoch: the batch's <= m_bits-row bit-delta table appends to
    the shared generational state (epoch-keyed retries, folded-epoch
    manifest); reads consolidate by SUM and drop zeroed bits.
    ``probe(docs)`` equals the batch operator
    ``curation.bloom_contamination(docs, all eval docs so far)`` —
    gated in tests/test_streaming.py.
    """

    WEIGHTS = {"bloom": ("cnt",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n: int = 3,
        m_bits: int = 4096,
        k_hashes: int = 3,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.n = n
        self.m_bits = m_bits
        self.k_hashes = k_hashes
        self.text_col = text_col

    def _bit_counts(self, eval_docs: DataFrame) -> DataFrame:
        from ..operators.curation import bloom_bits
        from ..operators.dedup import shingles

        sh = shingles(eval_docs, self.n, self.text_col)
        return (
            bloom_bits(sh, self.m_bits, self.k_hashes)
            .select(F.explode("bits").alias("bit"))
            .groupBy("bit")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def process_batch(
        self,
        adds: Optional[DataFrame] = None,
        retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        delta = None
        if adds is not None:
            delta = self._bit_counts(adds)
        if retracts is not None:
            neg = self._bit_counts(retracts).select(
                "bit", (-F.col("cnt")).alias("cnt")
            )
            delta = neg if delta is None else delta.unionByName(neg)
        if delta is None:
            return
        self._append("bloom", _fold(delta, ("cnt",)), epoch=epoch)
        self._end_epoch()

    def bit_counts(self) -> Optional[DataFrame]:
        counts = self._consolidated("bloom")
        return None if counts is None else counts.filter(F.col("cnt") > 0)

    def set_bits(self) -> Optional[DataFrame]:
        counts = self.bit_counts()
        return None if counts is None else counts.select("bit")

    def probe(self, docs: DataFrame) -> Optional[DataFrame]:
        from ..operators.curation import bloom_probe

        bits = self.set_bits()
        if bits is None:
            return None
        return bloom_probe(
            docs, bits, self.n, self.m_bits, self.k_hashes, self.text_col
        )


class IncrementalDSIR(_GenerationalState):
    """Maintained DSIR importance model: the raw-corpus and target
    bucket-count tables are signed LINEAR counters (the IncrementalNB
    discipline), so both sides maintain under adds AND retracts, and
    ``weights(docs)`` scores any probe set against the accumulated
    model with exactly the batch operator's expressions
    (curation.dsir_model / dsir_score — shared code, not a mirror).

    Per epoch: two <= n_buckets-row delta tables append to the shared
    generational state; reads consolidate by SUM. ``weights(probe)``
    equals ``curation.dsir_weights(raw_so_far, target_so_far)``
    restricted to the probe docs — gated in tests/test_streaming.py
    across randomized add/retract epochs.
    """

    WEIGHTS = {"dsir_raw": ("c",), "dsir_tgt": ("c",)}

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        n_buckets: int = 1024,
        alpha: float = 0.5,
        n: int = 2,
        text_col: str = "text",
    ) -> None:
        super().__init__(spark, state_dir)
        self.n_buckets = n_buckets
        self.alpha = alpha
        self.n = n
        self.text_col = text_col

    def _bucket_counts(self, docs: DataFrame) -> DataFrame:
        from ..operators.curation import dsir_features

        return (
            dsir_features(docs, self.n_buckets, self.n, self.text_col)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    def _delta(
        self, adds: Optional[DataFrame], retracts: Optional[DataFrame]
    ) -> Optional[DataFrame]:
        delta = None
        if adds is not None:
            delta = self._bucket_counts(adds)
        if retracts is not None:
            neg = self._bucket_counts(retracts).select(
                "bucket", (-F.col("c")).alias("c")
            )
            delta = neg if delta is None else delta.unionByName(neg)
        if delta is None:
            return None
        return _fold(delta, ("c",))

    def process_batch(
        self,
        raw_adds: Optional[DataFrame] = None,
        raw_retracts: Optional[DataFrame] = None,
        target_adds: Optional[DataFrame] = None,
        target_retracts: Optional[DataFrame] = None,
        epoch: Optional[int] = None,
    ) -> None:
        wrote = False
        raw = self._delta(raw_adds, raw_retracts)
        if raw is not None:
            self._append("dsir_raw", raw, epoch=epoch)
            wrote = True
        tgt = self._delta(target_adds, target_retracts)
        if tgt is not None:
            self._append("dsir_tgt", tgt, epoch=epoch)
            wrote = True
        if wrote:
            self._end_epoch()

    def model(self) -> Optional[DataFrame]:
        from ..operators.curation import dsir_model

        raw = self._consolidated("dsir_raw")
        if raw is None:
            return None
        tgt = self._consolidated("dsir_tgt")
        if tgt is None:
            tgt = raw.limit(0)
        return dsir_model(
            raw.select("bucket", F.col("c").alias("cr")),
            tgt.select("bucket", F.col("c").alias("ct")),
            self.n_buckets,
            self.alpha,
        )

    def weights(self, docs: DataFrame) -> Optional[DataFrame]:
        from ..operators.curation import dsir_features, dsir_score

        model = self.model()
        if model is None:
            return None
        return dsir_score(
            dsir_features(docs, self.n_buckets, self.n, self.text_col), model
        )


class IncrementalTokenKL(_GenerationalState):
    """Differentially-maintained token-distribution drift: the
    maintained twin of operators/profile.py::token_kl_shift. State is
    the pair of (token, count) tables — O(vocab), storage-backed via
    the shared generational io — kept current under document ADDS and
    RETRACTS on either slice; ``current()`` recomputes the divergence
    fold from the consolidated counts (token_kl_shift's own
    kl_from_counts), so it equals the batch operator on the surviving
    documents after every epoch. Per-epoch work is one token-count
    aggregation over the batch; the |vocab|-sized fold only runs when
    the monitor is read."""

    WEIGHTS = {"kl_a": ("n",), "kl_b": ("n",)}

    def __init__(
        self, spark: SparkSession, state_dir: str, text_col: str = "text"
    ) -> None:
        super().__init__(spark, state_dir)
        self.text_col = text_col

    def _delta(
        self,
        batch: DataFrame,
        side: str,
        sign: int,
        epoch: Optional[int] = None,
    ) -> None:
        if side not in ("a", "b"):
            raise ValueError("side must be 'a' or 'b'")
        counts = (
            batch.select(
                F.explode(
                    F.split(F.lower(F.col(self.text_col)), " ")
                ).alias("token")
            )
            .filter(F.col("token") != "")
            .groupBy("token")
            .agg((F.count(F.lit(1)) * sign).cast("long").alias("n"))
        )
        self._append(f"kl_{side}", counts, epoch=epoch)
        self._end_epoch(f"kl_{side}")

    def add(
        self, batch: DataFrame, side: str, epoch: Optional[int] = None
    ) -> None:
        """With ``epoch`` set, the increment is epoch-keyed so a
        retried micro-batch replaces its own write (exactly-once under
        foreachBatch); an epoch id identifies ONE delta per side."""

        self._delta(batch, side, 1, epoch)

    def retract(
        self, batch: DataFrame, side: str, epoch: Optional[int] = None
    ) -> None:
        """Retract documents previously added to ``side`` (pass the
        same rows); counts are increment rows, so retraction is the
        negated aggregation — exact, integer arithmetic."""

        self._delta(batch, side, -1, epoch)

    def attach(
        self,
        stream: DataFrame,
        side: str,
        checkpoint: str,
        query_name: str = "token_kl",
    ):
        """Fold a streaming document source into one slice's counts —
        epoch-keyed, so retries are idempotent. Run one attach per
        slice; read ``current()`` between epochs for the live drift."""

        return foreach_epoch(
            stream,
            lambda df, epoch: self.add(df, side, epoch=epoch),
            checkpoint,
            query_name,
        )

    def _counts(self, side: str, out: str) -> DataFrame:
        counts = self._consolidated(f"kl_{side}")
        if counts is None:
            return self.spark.createDataFrame([], f"token string, {out} long")
        return counts.filter(F.col("n") > 0).withColumnRenamed("n", out)

    def current(self, round_to: int = 6) -> DataFrame:
        from ..operators.profile import kl_from_counts

        return kl_from_counts(
            self._counts("a", "ca"), self._counts("b", "cb"), round_to
        )


class IncrementalEmbedDrift(_GenerationalState):
    """Differentially-maintained embedding-space drift: the maintained
    twin of operators/profile.py::embed_drift. State per slice is the
    d-row (dim, sum, count) table — constant-size regardless of corpus
    — maintained under vector ADDS and RETRACTS; ``current()`` derives
    the means and runs the batch operator's own drift_from_means fold.
    Per-epoch work is one posexplode aggregate over the batch (d keys,
    map-side combine)."""

    WEIGHTS = {"ed_a": ("s", "c"), "ed_b": ("s", "c")}

    def __init__(
        self, spark: SparkSession, state_dir: str, vec_col: str = "embedding"
    ) -> None:
        super().__init__(spark, state_dir)
        self.vec_col = vec_col

    def _delta(
        self,
        batch: DataFrame,
        side: str,
        sign: int,
        epoch: Optional[int] = None,
    ) -> None:
        if side not in ("a", "b"):
            raise ValueError("side must be 'a' or 'b'")
        d = (
            batch.select(
                F.posexplode(F.col(self.vec_col)).alias("dim", "x")
            )
            .groupBy("dim")
            .agg(
                (F.sum("x") * sign).alias("s"),
                (F.count(F.lit(1)) * sign).cast("long").alias("c"),
            )
        )
        self._append(f"ed_{side}", d, epoch=epoch)
        self._end_epoch(f"ed_{side}")

    def add(
        self, batch: DataFrame, side: str, epoch: Optional[int] = None
    ) -> None:
        self._delta(batch, side, 1, epoch)

    def retract(
        self, batch: DataFrame, side: str, epoch: Optional[int] = None
    ) -> None:
        self._delta(batch, side, -1, epoch)

    def attach(
        self,
        stream: DataFrame,
        side: str,
        checkpoint: str,
        query_name: str = "embed_drift",
    ):
        """Fold a streaming embedding source into one slice's sums —
        epoch-keyed, retry-idempotent (one delta per epoch per side)."""

        return foreach_epoch(
            stream,
            lambda df, epoch: self.add(df, side, epoch=epoch),
            checkpoint,
            query_name,
        )

    def _side(self, side: str, mean_out: str, n_out: str):
        cons = self._consolidated(f"ed_{side}")
        if cons is None:
            return (
                self.spark.createDataFrame([], f"dim int, {mean_out} double"),
                self.spark.createDataFrame([(0,)], f"{n_out} long"),
            )
        cons = cons.filter(F.col("c") > 0)
        means = cons.select("dim", (F.col("s") / F.col("c")).alias(mean_out))
        n = cons.agg(F.coalesce(F.max("c"), F.lit(0)).alias(n_out))
        return means, n

    def current(self, round_to: int = 6) -> DataFrame:
        from ..operators.profile import drift_from_means

        ma, na = self._side("a", "ma", "n_a")
        mb, nb = self._side("b", "mb", "n_b")
        return drift_from_means(ma, mb, na, nb, round_to)
